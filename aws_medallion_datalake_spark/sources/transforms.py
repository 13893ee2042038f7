"""Hidden partitioning: Iceberg-style partition TRANSFORMS.

The reference pipeline materializes physical ``year=/month=/day=``
columns and directories (/root/reference/scripts/bronze_digit.py:143-148)
— the classic Hive trap: queries must name the derived columns or lose
pruning. Iceberg's answer is partition transforms: the spec declares a
FUNCTION of a source column (``bucket(16, image_id)``,
``days(ingest_date)``, ``truncate(4, caption)``), the engine derives the
partition value at write time and, crucially, derives partition
predicates from plain source-column predicates at read time — users
never see the transform.

This module is that mechanism for the engine's stats-driven format: a
spec entry is either a bare column name (identity) or
``kind(param, col)``. Each transform knows

- ``name``    — the derived field name used in manifests
  (``min_<name>``/``max_<name>`` stats columns, ``partition_json`` keys),
- ``expr()``  — the Catalyst column computing the value at write/stat
  time (pure built-ins, whole-stage-codegen-able: md5/conv/pmod for
  bucket, substring for truncate, datediff/month arithmetic for dates),
- ``derive(op, value)`` — the transform-space predicate implied by a
  source-column predicate, or None when the transform cannot support
  the operator (bucket supports only ``=``; truncate/days/months/years
  are order-preserving, so ranges carry over).

Derived predicates are used ONLY for file-level manifest pruning — the
original source predicate is still applied row-level — so an unsound
derivation would be a correctness bug while a missing one merely costs
pruning. Every derivation here is sound: bucket equality maps equal
inputs to equal buckets; monotone transforms map bounds to bounds.

The 60-bit md5 bucket hash is computed identically JVM-side
(``conv(substring(md5(cast(col as string)),1,15),16,10) % N``) and
driver-side (``int(hashlib.md5(str(v)).hexdigest()[:15],16) % N``), so
pruning literals need no Spark job. Bucket derivation is therefore
restricted to string/int sources, where Spark's ``cast(string)`` and
Python's ``str()`` agree.

The table's write order (``sort.order``, :class:`WriteOrder`) is parsed here too.
"""

from __future__ import annotations

import hashlib
import re
from dataclasses import dataclass
from datetime import date
from typing import Iterable, List, Optional, Tuple

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..functions.udfs import hilbert64_udf, morton64_expr

_SPEC_RE = re.compile(
    r"^\s*([A-Za-z_]\w*)\s*\(\s*(?:(\d+)\s*,\s*)?([A-Za-z_]\w*)\s*\)\s*$"
)
_KINDS = ("identity", "bucket", "truncate", "days", "months", "years")
_EPOCH = date(1970, 1, 1)


@dataclass(frozen=True)
class Transform:
    kind: str
    source: str
    param: Optional[int] = None

    @property
    def name(self) -> str:
        if self.kind == "identity":
            return self.source
        if self.param is not None:
            return f"{self.source}_{self.kind}_{self.param}"
        return f"{self.source}_{self.kind}"

    def expr(self) -> Column:
        c = F.col(self.source)
        if self.kind == "identity":
            return c
        if self.kind == "bucket":
            return F.pmod(
                F.conv(F.substring(F.md5(c.cast("string")), 1, 15), 16, 10).cast(
                    "long"
                ),
                F.lit(self.param),
            )
        if self.kind == "truncate":
            return F.substring(c, 1, self.param)
        d = c.cast("date")
        if self.kind == "days":
            return F.datediff(d, F.lit("1970-01-01").cast("date"))
        if self.kind == "months":
            return (F.year(d) - 1970) * 12 + F.month(d) - 1
        return F.year(d) - 1970  # years

    @property
    def monotonic(self) -> bool:
        """Order-preserving transforms: transform(min/max of a file's
        source column) IS the min/max of the transform column — the
        property that lets parquet-footer stats stand in for a data
        scan. Only ``bucket`` (a hash) breaks it."""
        return self.kind != "bucket"

    def py_value(self, v):
        """Apply the transform to one Python value (driver/executor-side,
        no Spark). Mirrors ``expr`` exactly; None passes through (every
        transform is null-preserving). ``bucket`` is supported too (used
        by predicate derivation), but note it is NOT monotonic."""
        if v is None:
            return None
        if self.kind == "identity":
            return v
        if self.kind == "bucket":
            return _bucket_py(v, self.param)
        if self.kind == "truncate":
            return str(v)[: self.param]
        d = _to_date(v)
        if self.kind == "days":
            return (d - _EPOCH).days
        if self.kind == "months":
            return (d.year - 1970) * 12 + d.month - 1
        return d.year - 1970  # years

    def derive(self, op: str, value):
        """Transform-space predicate implied by ``(source, op, value)``;
        None when this transform cannot prune on that operator."""
        if self.kind == "identity":
            return (self.name, op, value)
        if self.kind == "bucket":
            if op == "=":
                return (self.name, "=", _bucket_py(value, self.param))
            if op == "in":
                return (
                    self.name,
                    "in",
                    sorted({_bucket_py(v, self.param) for v in value}),
                )
            return None
        f = self.py_value
        try:
            if op in ("=", ">=", "<="):
                return (self.name, op, f(value))
            if op == "between":
                return (self.name, "between", (f(value[0]), f(value[1])))
            if op == "in":
                return (self.name, "in", sorted({f(v) for v in value}))
        except (ValueError, TypeError):
            return None  # un-derivable literal: fall back to no pruning
        return None


def _bucket_py(value, n: int) -> int:
    return int(hashlib.md5(str(value).encode()).hexdigest()[:15], 16) % n


def _to_date(v) -> date:
    if isinstance(v, date):
        return v
    return date.fromisoformat(str(v)[:10])


def parse(entry: str) -> Transform:
    """One spec entry → Transform. Bare column names are identity."""
    m = _SPEC_RE.match(entry)
    if not m:
        if not re.match(r"^\s*[A-Za-z_]\w*\s*$", entry):
            raise ValueError(f"unparseable partition spec entry: {entry!r}")
        return Transform("identity", entry.strip())
    kind, param, col = m.group(1), m.group(2), m.group(3)
    if kind not in _KINDS:
        raise ValueError(f"unknown partition transform {kind!r} in {entry!r}")
    if kind in ("bucket", "truncate"):
        if param is None or int(param) < 1:
            raise ValueError(f"{kind} needs a positive size param: {entry!r}")
        return Transform(kind, col, int(param))
    if param is not None:
        raise ValueError(f"{kind} takes no size param: {entry!r}")
    return Transform(kind, col)


def parse_spec(entries: Iterable[str]) -> List[Transform]:
    return [parse(e) for e in entries]


def field_names(entries: Iterable[str]) -> List[str]:
    """Derived manifest field names, in spec order."""
    return [t.name for t in parse_spec(entries)]


def exprs(entries: Iterable[str]) -> List[Column]:
    return [t.expr() for t in parse_spec(entries)]


def source_cols(entries: Iterable[str]) -> List[str]:
    """Unique source column names the spec reads (projection list)."""
    return list(dict.fromkeys(t.source for t in parse_spec(entries)))


def identity_names(entries: Iterable[str]) -> List[str]:
    return [t.source for t in parse_spec(entries) if t.kind == "identity"]


def extend_predicates(entries: Iterable[str], preds: Iterable[tuple]) -> list:
    """Predicate list for FILE-LEVEL pruning: the original predicates plus
    every sound transform-space derivation. Row-level filtering must keep
    using the originals only — derived predicates are file-granular."""
    preds = list(preds)
    out = list(preds)
    tforms = [t for t in parse_spec(entries) if t.kind != "identity"]
    for col, op, value in preds:
        for t in tforms:
            if t.source != col:
                continue
            d = t.derive(op, value)
            if d is not None:
                out.append(d)
    return out


# ------------------------------------------------------------ write order

ORDER_PROP = "sort.order"
CURVES = ("morton", "hilbert", "zorder")


@dataclass(frozen=True)
class WriteOrder:
    """A table's write order (Iceberg's sort order,
    https://iceberg.apache.org/spec/#sort-orders): a space-filling
    ``curve`` over exactly three columns, or ``curve=None`` for a linear
    order on ``cols``. ``str()`` is the canonical form (``morton(phash,w,h)``,
    ``ts,id``) that ``cluster`` records as a generation's sort spec."""

    curve: Optional[str]
    cols: Tuple[str, ...]

    def __post_init__(self):
        if self.curve is not None and self.curve not in CURVES:
            raise ValueError(f"unknown curve {self.curve!r}, expected one of {CURVES}")
        if not all(re.fullmatch(r"[A-Za-z_]\w*", c) for c in self.cols):
            raise ValueError("expected curve(col, col, col) or a column list")
        if self.curve is not None and len(self.cols) != 3:
            raise ValueError(f"{self.curve} takes exactly 3 columns, got {len(self.cols)}")

    def __str__(self) -> str:
        body = ",".join(self.cols)
        return f"{self.curve}({body})" if self.curve else body

    def exprs(self) -> List[Column]:
        """The sort expressions: the curve's 64-bit key, or the columns."""
        if self.curve is None:
            return [F.col(c) for c in self.cols]
        if self.curve == "hilbert":
            return [hilbert64_udf(*map(F.col, self.cols))]
        return [morton64_expr(*self.cols)]


def parse_order(text: str) -> WriteOrder:
    """``curve(a, b, c)`` or ``a, b`` → WriteOrder; ValueError if invalid."""
    m = re.fullmatch(r"\s*(\w+)\s*\((.*)\)\s*", text, re.S)
    cols = tuple(c.strip() for c in (m.group(2) if m else text).split(","))
    try:
        return WriteOrder(m.group(1).lower() if m else None, cols)
    except ValueError as e:
        raise ValueError(f"bad {ORDER_PROP} {text!r}: {e}") from None


def default_order(names: Iterable[str]) -> Optional[WriteOrder]:
    """The order of a table that declares none: ``morton(phash, w, h)``
    when ``names`` holds the image columns, else None."""
    order = WriteOrder("morton", ("phash", "w", "h"))
    return order if set(order.cols) <= set(names) else None
