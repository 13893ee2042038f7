"""pandas/Arrow UDF wrappers around the numpy kernels.

Only vectorized UDFs (Arrow batch transfer) — per-row Python Spark UDFs are
forbidden in this engine (BASELINE.json input_hint). Also includes a pure
Catalyst Morton key (`morton64_expr`) that stays entirely JVM-side in
whole-stage codegen, used as the Z-order sort key by every curve-ordered
writer. It is built from column names by one SQL parse and grows linearly
with its bit width (about 1 KB of analyzed SQL), because every query that
sorts or routes by it analyzes, optimizes and codegens the whole tree on
the driver. The pandas UDF variants exist for Hilbert (not expressible in
bit ops economically) and for the SQL function surface.

UDF objects are built lazily (Spark 4 requires an active session when a
``pandas_udf`` is instantiated) and cached per process.
"""

from __future__ import annotations

from functools import lru_cache

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F


@lru_cache(maxsize=None)
def _phash64():
    from . import phash as _phash

    @F.pandas_udf("long")
    def phash64(payload: pd.Series) -> pd.Series:
        return pd.Series(_phash.phash_batch(list(payload)))

    return phash64


def phash64_udf(payload: Column) -> Column:
    """Perceptual hash of encoded image payloads (decode + 8x8 ahash)."""
    return _phash64()(payload)


@lru_cache(maxsize=None)
def _hilbert64():
    from . import zcurve

    @F.pandas_udf("long")
    def hilbert64(phash: pd.Series, w: pd.Series, h: pd.Series) -> pd.Series:
        return pd.Series(zcurve.hilbert64(phash.to_numpy(), w.to_numpy(), h.to_numpy()))

    return hilbert64


def hilbert64_udf(phash: Column, w: Column, h: Column) -> Column:
    return _hilbert64()(phash, w, h)


@lru_cache(maxsize=None)
def _morton64():
    from . import zcurve

    @F.pandas_udf("long")
    def morton64(phash: pd.Series, w: pd.Series, h: pd.Series) -> pd.Series:
        return pd.Series(zcurve.morton64(phash.to_numpy(), w.to_numpy(), h.to_numpy()))

    return morton64


@lru_cache(maxsize=None)
def _psnr():
    from .codec import decode_image, psnr

    @F.pandas_udf("double")
    def psnr_pairwise(a: pd.Series, b: pd.Series) -> pd.Series:
        # Null-tolerant: ArrowEvalPython evaluates the UDF for every row in
        # the batch even under a CASE WHEN guard, so nulls must not crash.
        def one(x, y):
            if x is None or y is None:
                return None
            try:
                ia, ib = decode_image(x), decode_image(y)
            except Exception:
                return float("-inf")  # undecodable → reported, not crashed
            if ia.shape != ib.shape:
                return float("-inf")
            return psnr(ia, ib)

        return pd.Series([one(x, y) for x, y in zip(a, b)], dtype="float64")

    return psnr_pairwise


def psnr_udf(a: Column, b: Column) -> Column:
    """Pairwise PSNR between two encoded-image columns (decodes both)."""
    return _psnr()(a, b)


@lru_cache(maxsize=None)
def _decode_stats():
    from .codec import decode_image

    @F.pandas_udf("w int, h int, mean_r double, mean_g double, mean_b double")
    def decode_stats(payload: pd.Series) -> pd.DataFrame:
        rows = []
        for p in payload:
            img = decode_image(p)
            rows.append(
                (
                    int(img.shape[1]),
                    int(img.shape[0]),
                    float(img[:, :, 0].mean()),
                    float(img[:, :, 1].mean()),
                    float(img[:, :, 2].mean()),
                )
            )
        return pd.DataFrame(rows, columns=["w", "h", "mean_r", "mean_g", "mean_b"])

    return decode_stats


def decode_stats_udf(payload: Column) -> Column:
    """Decoded-pixel stats (the 'decode_stats' surface from SURVEY.md §2.10)."""
    return _decode_stats()(payload)


@lru_cache(maxsize=None)
def _decode_ok():
    from .codec import decode_image

    @F.pandas_udf("boolean")
    def decode_ok(payload: pd.Series, w: pd.Series, h: pd.Series) -> pd.Series:
        def one(p, ww, hh) -> bool:
            if p is None:
                return False
            try:
                img = decode_image(p)
            except Exception:
                return False  # corrupt payload → reported, not crashed
            return int(img.shape[1]) == int(ww) and int(img.shape[0]) == int(hh)

        return pd.Series(
            [one(p, ww, hh) for p, ww, hh in zip(payload, w, h)], dtype="bool"
        )

    return decode_ok


def decode_ok_udf(payload: Column, w: Column, h: Column) -> Column:
    """True iff the payload decodes AND its decoded dims match the row's
    (w, h) metadata — the write-audit-publish gate's decode probe
    (metadata checks can't see bit-rot inside the blob)."""
    return _decode_ok()(payload, w, h)


# Spread a 10-bit value so bit i lands on bit 3i: each multiply adds a
# copy of the value shifted onto bits it leaves clear, so it equals
# ``x | x << s`` (s = 16, 8, 4, 2) while naming ``x`` once. Products stay
# below 2^34, far from BIGINT overflow, so ANSI mode never fires.
_SPREAD10 = ((65537, 0x30000FF), (257, 0x300F00F), (17, 0x30C30C3), (5, 0x9249249))


def _spread10_sql(x: str) -> str:
    for mul, mask in _SPREAD10:
        x = f"({x}) * {mul}L & {mask}L"
    return x


def morton64_expr(phash: str, w: str, h: str) -> Column:
    """Morton key over the columns named ``phash``, ``w`` and ``h`` as one
    parsed Catalyst expression, bit-identical to ``zcurve.morton64``.

    The dims are those of ``zcurve._norm_dims``: phash's top 21 bits with
    the sign flipped (signed order kept, no bucket straddles ±2^63), and
    the low 21 bits of w and h. Each dim is cut into bits 0-9, 10-19 and
    bit 20, and each 10-bit cut spread by ``_spread10_sql``, so every
    column is named three times and the analyzed key stays about 1 KB of
    SQL (the ``(x | x << s) & m`` ladder names ``x`` twice a step, 10 KB).
    It is one ``F.expr`` rather than ~70 ``F.*`` calls, each of which
    costs a Py4J round trip and a call-site capture. A NULL in any column
    gives NULL.
    """
    p, w, h = (f"CAST(`{c.replace('`', '``')}` AS BIGINT)" for c in (phash, w, h))
    dims = (f"(shiftrightunsigned({p}, 43) ^ {1 << 20}L)", w, h)

    def cut(lo: int, width: int) -> list:
        return [f"shiftright({d}, {lo}) & {(1 << width) - 1}L" for d in dims]

    def interleave(a: str, b: str, c: str) -> str:
        return f"(shiftleft({a}, 2) | shiftleft({b}, 1) | {c})"

    low, mid = (interleave(*map(_spread10_sql, cut(lo, 10))) for lo in (0, 10))
    top = interleave(*cut(20, 1))
    return F.expr(f"{low} | shiftleft({mid}, 30) | shiftleft({top}, 60)")


def register_sql_functions(spark) -> list:
    """Expose the engine's multimodal/clustering functions to SQL
    (`SELECT phash64(bytes), morton64(phash, w, h) FROM images`) — the
    function surface a SQL-first user of the reference gets from
    Athena's builtins, here backed by the same vectorized pandas UDFs
    the Python API uses. Idempotent; returns the registered names.
    ``morton64``/``hilbert64`` registered this way are the UDF forms —
    inside engine operators the pure-Catalyst ``morton64_expr`` remains
    the hot path (SQL usage is interactive, not the clustering inner
    loop)."""
    fns = {
        "phash64": _phash64(),
        "hilbert64": _hilbert64(),
        "morton64": _morton64(),
        "psnr": _psnr(),
        "decode_stats": _decode_stats(),
        "decode_ok": _decode_ok(),
    }
    for name, fn in fns.items():
        spark.udf.register(name, fn)
    return sorted(fns)
