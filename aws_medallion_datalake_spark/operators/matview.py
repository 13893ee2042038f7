"""Materialized views with incremental refresh over engine tables.

The Databricks/Iceberg materialized-view shape: a VIEW persisted as an
engine table plus enough metadata to keep it fresh CHEAPLY —

- ``create_matview``: run the defining query once, persist the result as
  a normal engine table (snapshot isolation, time travel, SQL reads all
  apply), and record the defining query, the base table, the base
  snapshot covered, and a per-output-column COMBINER map in the table
  properties.
- ``refresh_matview``: if the base advanced by APPEND-ONLY snapshots,
  refresh incrementally — run the SAME query over just the delta rows
  (``Table.changes``, planned from manifest diffs, O(delta) IO) and fold
  the partial result into the current state with the combiner of each
  column (``sum``→sum, ``count``→sum of partial counts, ``min``/``max``→
  min/max). At 10^12 base rows a nightly refresh then costs the size of
  one day's appends, not a full recompute. Any non-append logical change
  in the chain (MERGE/UPDATE/DELETE/overwrite — deltas alone cannot
  retract replaced rows) falls back to a FULL recompute automatically:
  slower, never wrong. Physical-only snapshots (compaction, clustering,
  expiry) advance the bookmark with a metadata-only commit — zero IO.

Supported query shape (parsed strictly; everything else raises with the
rewrite hint): single base table, optional WHERE, optional GROUP BY,
aggregates ``count(*) | count(x) | sum(x) | min(x) | max(x) | avg(x)``
each with an ``AS`` alias. ``avg`` is not self-mergeable, so it is
decomposed automatically (``rewrite_avg_query``): the MV materializes
hidden ``__<alias>_sum`` / ``__<alias>_cnt`` partials (both fold by
SUM across refreshes) and the read surface recombines them as
``sum/cnt`` with the partials hidden (``mv_display_frame``; the SQL
layer registers MVs through it). ``count(DISTINCT …)`` /
``sum(DISTINCT …)`` / ``avg(DISTINCT …)`` stay refused — distinct
partials cannot be combined across refreshes.

Reference parity: the reference recomputes every gold aggregate from
scratch each run (/root/reference/scripts/gold_digit_fixed.py:34-146);
this is the same consumption-layer table kept fresh incrementally.
"""

from __future__ import annotations

import json
import re
from typing import Mapping, Optional, Tuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tableformat import FileSwap, Snapshot, Table, records

MV_QUERY_PROP = "mv.query"
MV_BASE_PROP = "mv.base"
MV_BASE_SNAPSHOT_PROP = "mv.base.snapshot"
MV_COMBINERS_PROP = "mv.combiners"  # json {out_col: sum|min|max|group}
MV_DERIVED_PROP = "mv.derived"  # json {alias: {"sum": col, "cnt": col}}
MV_DISPLAY_QUERY_PROP = "mv.query.display"  # pre-rewrite query, as typed

_AGG_RE = re.compile(
    r"^(count|sum|min|max)\s*\((\s*\*\s*|[^()]*)\)\s+AS\s+([A-Za-z_]\w*)$",
    re.I | re.S,
)
# logical row changes per snapshot operation (matches Table.changes):
# append adds rows; replace/expire are physical-only; everything else
# can remove/replace rows and breaks delta-only folding
_APPEND_OPS = {"append"}
_PHYSICAL_OPS = {"replace", "expire"}


def _split_top(text: str) -> list:
    out, depth, buf, q = [], 0, "", False
    for ch in text:
        if ch == "'":
            q = not q
        elif not q and ch == "(":
            depth += 1
        elif not q and ch == ")":
            depth -= 1
        if ch == "," and depth == 0 and not q:
            out.append(buf.strip())
            buf = ""
        else:
            buf += ch
    if buf.strip():
        out.append(buf.strip())
    return out


_AVG_RE = re.compile(
    r"^(?:avg|mean)\s*\(([^()]*)\)\s+AS\s+([A-Za-z_]\w*)$", re.I | re.S
)


def rewrite_avg_query(query: str) -> Tuple[str, dict]:
    """Decompose ``avg(x) AS a`` into the self-mergeable pair
    ``sum(x) AS __a_sum, count(x) AS __a_cnt`` (both partials fold by
    SUM at incremental refresh; ``sum/cnt`` reproduces avg's NULL
    semantics — count(x) skips NULLs and a 0 count divides to NULL).
    Returns the rewritten query plus ``{alias: {"sum":…, "cnt":…}}``;
    a query with no avg comes back unchanged with an empty map."""
    q = query.strip().rstrip(";").strip()
    m = re.match(r"(SELECT\s+)(.+?)(\s+FROM\s+.*)$", q, re.I | re.S)
    if not m:
        return query, {}
    head, items_text, tail = m.groups()
    out_items, derived = [], {}
    for item in _split_top(items_text):
        am = _AVG_RE.match(item)
        if not am:
            out_items.append(item)
            continue
        arg, alias = am.group(1).strip(), am.group(2)
        if re.match(r"distinct\b", arg, re.I):
            raise ValueError(
                f"{item!r} is not self-mergeable: avg(DISTINCT …) partials "
                f"cannot be combined across refreshes — define a "
                f"distinct-key MV instead"
            )
        if not arg or arg == "*":
            raise ValueError(f"{item!r}: avg needs a column or expression")
        s_col, c_col = f"__{alias}_sum", f"__{alias}_cnt"
        out_items.append(f"sum({arg}) AS {s_col}")
        out_items.append(f"count({arg}) AS {c_col}")
        derived[alias] = {"sum": s_col, "cnt": c_col}
    if not derived:
        return query, {}
    return head + ", ".join(out_items) + tail, derived


def parse_mv_query(query: str) -> Tuple[str, list, dict]:
    """→ (base_table_name, group_out_cols, combiners {out_col: kind}).

    Validates the restricted MV grammar; raises ``ValueError`` with the
    offending item otherwise."""
    m = re.match(
        r"SELECT\s+(.+?)\s+FROM\s+([A-Za-z_][\w.]*)"
        r"(?:\s+WHERE\s+(.+?))?(?:\s+GROUP\s+BY\s+(.+?))?$",
        query.strip().rstrip(";").strip(),
        re.I | re.S,
    )
    if not m:
        raise ValueError(
            "materialized view query must be: SELECT <items> FROM <table> "
            "[WHERE …] [GROUP BY <cols>]"
        )
    select_items, base = m.group(1), m.group(2)
    group_by = [g.strip() for g in _split_top(m.group(4))] if m.group(4) else []
    combiners: dict = {}
    group_cols: list = []
    for item in _split_top(select_items):
        am = _AGG_RE.match(item)
        if am:
            fn, arg, alias = am.group(1).lower(), am.group(2), am.group(3)
            if re.match(r"\s*distinct\b", arg, re.I):
                raise ValueError(
                    f"{item!r} is not self-mergeable: {fn}(DISTINCT …) "
                    f"partials cannot be combined across refreshes — "
                    f"define a distinct-key MV instead"
                )
            combiners[alias] = "sum" if fn == "count" else fn
            continue
        if re.match(r"^\s*(avg|mean|count\s*\(\s*distinct)", item, re.I):
            raise ValueError(
                f"{item!r} is not self-mergeable: define sum+count columns "
                f"(avg) or a distinct-key MV (count distinct) instead"
            )
        # group item: bare column or expr AS alias, must appear in GROUP BY
        gm = re.match(r"^(.*?)(?:\s+AS\s+([A-Za-z_]\w*))?$", item, re.I | re.S)
        expr, alias = gm.group(1).strip(), gm.group(2)
        norm = re.sub(r"\s+", "", expr.lower())
        if not any(re.sub(r"\s+", "", g.lower()) == norm for g in group_by):
            raise ValueError(
                f"select item {item!r} is neither a supported aggregate "
                f"(count/sum/min/max … AS alias) nor listed in GROUP BY"
            )
        out = alias or expr
        if not re.match(r"^[A-Za-z_]\w*$", out):
            raise ValueError(f"group expression {expr!r} needs an AS alias")
        combiners[out] = "group"
        group_cols.append(out)
    if not any(v != "group" for v in combiners.values()):
        raise ValueError("materialized view needs at least one aggregate")
    return base, group_cols, combiners


def _run_query(
    spark: SparkSession, query: str, base_name: str, base_df: DataFrame
) -> DataFrame:
    """Run the defining query with the base name bound to ``base_df``
    (full snapshot at create/full-refresh, the delta frame at
    incremental refresh — the whole point of self-mergeable aggregates)."""
    view = f"__mv_base_{abs(hash(base_name)) % 10**8}"
    base_df.createOrReplaceTempView(view)
    bound = re.sub(
        rf"(\bFROM\s+){re.escape(base_name)}\b",
        rf"\g<1>{view}",
        query.strip().rstrip(";"),
        flags=re.I,
    )
    return spark.sql(bound)


def _combine(old: DataFrame, delta: DataFrame, combiners: dict) -> DataFrame:
    group_cols = [c for c, k in combiners.items() if k == "group"]
    aggs = [
        getattr(F, kind)(c).alias(c)
        for c, kind in combiners.items()
        if kind != "group"
    ]
    u = old.unionByName(delta)
    g = u.groupBy(*group_cols) if group_cols else u.groupBy()
    # preserve the MV's declared column order
    return g.agg(*aggs).select(*combiners.keys())


def create_matview(
    spark: SparkSession,
    name: str,
    query: str,
    root: str,
    tables: Mapping[str, Table],
) -> Table:
    """Materialize ``query`` at ``root`` and record refresh metadata.

    ``avg(x) AS a`` items are decomposed into hidden sum/count partial
    columns (``rewrite_avg_query``) so the MV stays incrementally
    refreshable; the stored ``mv.query`` is the rewritten one (refresh
    folds the partials), the original text lands in
    ``mv.query.display``, and readers that go through
    ``mv_display_frame`` (the SQL layer does) see ``a`` recombined."""
    display_query = query.strip().rstrip(";").strip()
    query, derived = rewrite_avg_query(query)
    base_name, group_cols, combiners = parse_mv_query(query)
    if base_name not in tables:
        raise ValueError(f"base table {base_name!r} not in catalog")
    base = tables[base_name]
    base_sid = int(base.snapshot().snapshot_id)
    df = _run_query(
        spark, query, base_name, base.scan(spark, snapshot_id=base_sid)
    )
    got = set(df.columns)
    if got != set(combiners):
        raise ValueError(
            f"query columns {sorted(got)} do not match parsed MV columns "
            f"{sorted(combiners)} — alias every aggregate"
        )
    ddl = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    )
    mv = Table.create(
        root,
        ddl,
        stats_cols=group_cols,
        properties={
            MV_QUERY_PROP: query.strip(),
            MV_BASE_PROP: base_name,
            MV_COMBINERS_PROP: json.dumps(combiners),
            **(
                {
                    MV_DERIVED_PROP: json.dumps(derived),
                    MV_DISPLAY_QUERY_PROP: display_query,
                }
                if derived
                else {}
            ),
        },
    )
    entries = mv.write_files(df.select(*combiners.keys()))
    n = int(entries["record_count"].sum()) if len(entries) else 0
    mv.commit(
        "append",
        entries,
        {"stage": "mv_create", "refresh": "full", "rows": n,
         "base_snapshot_id": base_sid},
        properties={MV_BASE_SNAPSHOT_PROP: base_sid},
    )
    return mv


def refresh_matview(
    spark: SparkSession,
    mv: Table,
    tables: Mapping[str, Table],
    *,
    full: bool = False,
) -> Optional[Snapshot]:
    """Bring the MV up to the base's current snapshot; returns the new
    snapshot, or None when already fresh. Chooses the cheapest sound
    path: fresh → no-op; physical-only chain → metadata bookmark bump;
    append-only chain → delta fold; anything else → full recompute."""
    props = mv.metadata().properties
    query = str(props.get(MV_QUERY_PROP, ""))
    base_name = str(props.get(MV_BASE_PROP, ""))
    if not query or not base_name:
        raise ValueError("not a materialized view (missing mv.* properties)")
    if base_name not in tables:
        raise ValueError(f"base table {base_name!r} not in catalog")
    base = tables[base_name]
    combiners = json.loads(str(props.get(MV_COMBINERS_PROP, "{}")))
    last = int(props.get(MV_BASE_SNAPSHOT_PROP, 0))
    cur = int(base.snapshot().snapshot_id)
    if cur == last and not full:
        return None  # explicit FULL still recomputes (repair semantics)
    # a rolled-back / rewritten base has no last→cur ancestry chain; a
    # forced FULL refresh must still be able to repair it, so fall back
    # to a full recompute instead of propagating the chain error
    try:
        chain = base._ancestry_chain(last, cur)
    except (ValueError, KeyError):
        chain = []
        full = True
    ops = {s.operation for s in chain}
    mode = "full"
    if not full:
        if ops <= _PHYSICAL_OPS:
            # compaction/clustering/expiry only: no logical rows moved —
            # advance the bookmark without touching MV data (metadata-only
            # property bump, no new snapshot; None = nothing to fold)
            mv.set_properties({MV_BASE_SNAPSHOT_PROP: cur})
            return None
        if ops <= (_APPEND_OPS | _PHYSICAL_OPS):
            mode = "incremental"
    if mode == "incremental":
        delta = base.changes(spark, last, cur)
        partial = _run_query(spark, query, base_name, delta)
        out = _combine(mv.scan(spark), partial, combiners)
    else:
        out = _run_query(
            spark, query, base_name, base.scan(spark, snapshot_id=cur)
        ).select(*combiners.keys())
    with FileSwap(mv, spark) as swap:
        swap.drop(swap.man)
        return swap.commit(
            "overwrite",
            {
                "stage": "mv_refresh",
                "refresh": mode,
                "rows": records(swap.insert(out)),
                "base_snapshot_id": cur,
                "base_snapshots_folded": len(chain),
            },
            properties={MV_BASE_SNAPSHOT_PROP: cur},
        )


def mv_display_frame(
    spark: SparkSession, mv: Table, snapshot_id: Optional[int] = None
) -> DataFrame:
    """The MV as the user declared it: hidden ``__<alias>_sum`` /
    ``__<alias>_cnt`` partial columns recombined into ``<alias>`` (at the
    position the user wrote the avg) and dropped from the output. For an
    MV with no derived columns this is just ``scan``."""
    props = mv.metadata().properties
    derived = json.loads(str(props.get(MV_DERIVED_PROP, "{}")))
    df = mv.scan(spark, snapshot_id=snapshot_id)
    if not derived:
        return df
    by_sum = {d["sum"]: (alias, d["cnt"]) for alias, d in derived.items()}
    hidden_cnt = {d["cnt"] for d in derived.values()}
    cols = []
    for c in df.columns:
        if c in by_sum:
            alias, cnt = by_sum[c]
            cols.append((F.col(c) / F.col(cnt)).alias(alias))
        elif c not in hidden_cnt:
            cols.append(F.col(c))
    return df.select(*cols)


def register_table_or_mv(spark: SparkSession, t: Table, name: str) -> None:
    """Register ``t`` as a temp view for SQL — through the display frame
    when it is an MV with derived (avg) columns, else the plain scan."""
    if t.metadata().properties.get(MV_DERIVED_PROP):
        mv_display_frame(spark, t).createOrReplaceTempView(name)
    else:
        t.register(spark, name)
