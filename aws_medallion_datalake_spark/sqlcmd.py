"""SQL command surface for engine tables (DML + maintenance).

The reference's entire consumption layer is SQL
(/root/reference/sql/athena_gold_queries.sql:8-95 — SURVEY.md §2.1 S13);
``Table.register`` already serves SELECTs through ``spark.sql``. This
module adds the WRITE-side SQL surface Delta/Iceberg users type —
``UPDATE`` / ``DELETE`` / ``MERGE`` / ``OPTIMIZE`` / ``VACUUM`` /
``ANALYZE`` — dispatching to the engine's operators, so a SQL-first user
of the reference can drive the whole lakehouse without touching the
Python API:

    eng = EngineSQL(spark, {"images": table})
    eng.sql("UPDATE images SET caption = upper(caption) WHERE w >= 512")
    eng.sql("DELETE FROM images WHERE phash BETWEEN 10 AND 99")
    eng.sql("MERGE INTO images USING fixes ON image_id")
    eng.sql("OPTIMIZE images WHERE ingest_date = '2026-01-01'")
    eng.sql("OPTIMIZE images ZORDER BY (phash, w, h)")
    eng.sql("VACUUM images RETAIN 168 HOURS")
    eng.sql("ANALYZE TABLE images COMPUTE STATISTICS FOR COLUMNS image_id, w")
    eng.sql("SELECT fmt, count(*) FROM images GROUP BY fmt")  # passthrough
    eng.sql("SELECT count(*) FROM images VERSION AS OF 1")    # time travel
    eng.sql("SELECT count(*) FROM images TIMESTAMP AS OF '2026-01-01T00:00'")

DDL completes the surface (each maps to a Table metadata commit):

    eng.sql("CREATE TABLE t2 (id string, v double) "
            "PARTITIONED BY (bucket(8, id)) LOCATION '/data/t2' "
            "TBLPROPERTIES ('write.merge.mode' = 'merge-on-read')")
    eng.sql("CREATE TABLE big LOCATION '/data/big' AS SELECT * FROM images")
    eng.sql("ALTER TABLE images ADD COLUMNS (license string)")
    eng.sql("ALTER TABLE images RENAME COLUMN caption TO title")
    eng.sql("ALTER TABLE images SET TBLPROPERTIES ('k' = 'v')")
    eng.sql("ALTER TABLE images SET PARTITION SPEC (fmt, days(ts))")
    eng.sql("DROP TABLE t2 PURGE")
    eng.sql("CREATE MATERIALIZED VIEW by_fmt LOCATION '/data/mv' AS "
            "SELECT fmt, count(*) AS n FROM images GROUP BY fmt")
    eng.sql("REFRESH MATERIALIZED VIEW by_fmt")      # cheapest sound path
    eng.sql("REFRESH MATERIALIZED VIEW by_fmt FULL")  # forced recompute

Named queries (the Athena workgroup named-query surface,
reference terraform/athena.tf:31-53) — durable when the catalog is a
file-backed :class:`~.sources.catalog.Catalog`, session-local otherwise:

    eng.sql("CREATE NAMED QUERY daily AS SELECT fmt, count(*) AS n "
            "FROM images GROUP BY fmt")
    eng.sql("EXECUTE daily")                  # runs the stored statement
    eng.sql("SHOW NAMED QUERIES")
    eng.sql("CREATE OR REPLACE NAMED QUERY daily AS SELECT 1 AS one")
    eng.sql("DROP NAMED QUERY daily")

Grammar, deliberately small and strict (clear errors beat silent
misparses; everything here maps 1:1 onto an operator call):

- WHERE accepts ``col op literal`` conjunctions (``AND`` only) with the
  ops the manifest pruner understands — ``=``, ``>=``, ``<=``,
  ``BETWEEN a AND b``, ``IN (…)``, ``IS [NOT] NULL`` — so every SQL
  predicate prunes files exactly like ``Table.scan(predicates=…)``.
  Literals: numbers and ``'strings'``.
- ``UPDATE`` SET right-hand sides are arbitrary Spark SQL expressions
  (they feed ``F.expr``; ``update_where`` casts to declared types).
- UPDATE/DELETE/MERGE write modes resolve from the table's Iceberg
  ``write.<op>.mode`` properties (copy-on-write default, merge-on-read
  opt-in) — the statement surface never hardcodes a mode.
- ``MERGE INTO t USING <view> ON <key>`` reads the source from
  ``spark.table(view)`` — any registered view or DataFrame the caller
  named. Full SQL:2003 clause list supported: ``WHEN MATCHED [AND
  <cond>] THEN UPDATE SET *|DELETE``, ``WHEN NOT MATCHED [AND <cond>]
  THEN INSERT *``, ``WHEN NOT MATCHED BY SOURCE [AND <cond>] THEN
  DELETE``. With no clauses the classic upsert applies (update+insert);
  with any clause present, unstated actions default to no-op per the
  standard. Matched conditions reference target columns plainly and
  source columns as ``src_<name>`` (``src_ts > ts``).
- DML/maintenance statements return a one-row metrics DataFrame (the
  snapshot summary), like Spark's own DML commands; ``ANALYZE`` returns
  the column-stats relation; anything else is delegated verbatim to
  ``spark.sql`` after (re-)registering the catalog's current snapshots.

SELECT passthrough re-registers each catalog table at its CURRENT
snapshot per call — a registered view pins the snapshot of its
registration, which is right for repeated reads inside one job but
wrong for a REPL-style surface where a VACUUM/UPDATE just ran.
"""

from __future__ import annotations

import re
import time
from typing import Dict, Optional

from pyspark.sql import DataFrame, SparkSession

from .operators import (
    analyze_table,
    cluster,
    compact,
    delete_where,
    expire_snapshots,
    merge_into,
    remove_orphan_files,
    update_where,
)
from .sources import transforms
from .sources.metatables import column_stats_df
from .sources.tableformat import FileSwap, Snapshot, Table, records

_LIT = r"(?:'[^']*'|-?\d+(?:\.\d+)?)"
_ID = r"[A-Za-z_][A-Za-z0-9_]*"


class SQLCommandError(ValueError):
    """Statement does not match the supported grammar."""


def _lit(tok: str):
    tok = tok.strip()
    if tok.startswith("'"):
        return tok[1:-1]
    return float(tok) if "." in tok else int(tok)


def parse_where(text: str) -> list:
    """``col op literal AND …`` → scan/delete/update predicate triples."""
    preds = []
    rest = text.strip()
    pats = [
        (re.compile(rf"({_ID})\s+BETWEEN\s+({_LIT})\s+AND\s+({_LIT})", re.I),
         lambda m: (m.group(1), "between", (_lit(m.group(2)), _lit(m.group(3))))),
        (re.compile(rf"({_ID})\s+IN\s*\(\s*({_LIT}(?:\s*,\s*(?:{_LIT}))*)\s*\)",
                    re.I),
         lambda m: (m.group(1), "in",
                    [_lit(t) for t in re.findall(_LIT, m.group(2))])),
        (re.compile(rf"({_ID})\s+IS\s+NOT\s+NULL", re.I),
         lambda m: (m.group(1), "notnull", None)),
        (re.compile(rf"({_ID})\s+IS\s+NULL", re.I),
         lambda m: (m.group(1), "isnull", None)),
        (re.compile(rf"({_ID})\s*(>=|<=|=)\s*({_LIT})"),
         lambda m: (m.group(1), m.group(2), _lit(m.group(3)))),
    ]
    while rest:
        for pat, mk in pats:
            m = pat.match(rest)
            if m:
                preds.append(mk(m))
                rest = rest[m.end():].strip()
                break
        else:
            raise SQLCommandError(f"cannot parse WHERE at: {rest!r}")
        if rest:
            m = re.match(r"AND\s+", rest, re.I)
            if not m:
                raise SQLCommandError(
                    f"expected AND between conditions, got: {rest!r}"
                )
            rest = rest[m.end():]
    if not preds:
        raise SQLCommandError("empty WHERE clause")
    return preds


def _take_parens(text: str) -> tuple:
    """``text`` starts at an opening paren: return (inner, remainder) with
    nesting and quotes respected — column DDL (``decimal(10,2)``) and
    partition transforms (``bucket(8, id)``) nest parens."""
    if not text.startswith("("):
        raise SQLCommandError(f"expected '(' at: {text[:40]!r}")
    depth, q = 0, False
    for i, ch in enumerate(text):
        if ch == "'":
            q = not q
        elif not q and ch == "(":
            depth += 1
        elif not q and ch == ")":
            depth -= 1
            if depth == 0:
                return text[1:i].strip(), text[i + 1:].strip()
    raise SQLCommandError(f"unbalanced parens at: {text[:40]!r}")


def _parse_props(inner: str) -> dict:
    """TBLPROPERTIES list: ``'k' = 'v', …`` → dict."""
    props, rest = {}, inner.strip()
    while rest:
        m = re.match(r"'([^']*)'\s*=\s*'([^']*)'\s*(?:,\s*)?", rest)
        if not m:
            raise SQLCommandError(f"cannot parse property at: {rest!r}")
        props[m.group(1)] = m.group(2)
        rest = rest[m.end():]
    if not props:
        raise SQLCommandError("empty TBLPROPERTIES list")
    return props


def _split_top_commas(text: str) -> list:
    """Split on commas outside quotes/parens (SET-list separator)."""
    parts, depth, q, start = [], 0, False, 0
    for i, ch in enumerate(text):
        if ch == "'":
            q = not q
        elif not q and ch == "(":
            depth += 1
        elif not q and ch == ")":
            depth -= 1
        elif not q and depth == 0 and ch == ",":
            parts.append(text[start:i])
            start = i + 1
    parts.append(text[start:])
    return [p.strip() for p in parts if p.strip()]


class EngineSQL:
    """SQL dispatcher over a catalog of engine tables (name → Table).

    ``tables`` may be a plain dict (session-local registry, copied) or a
    :class:`~.sources.catalog.Catalog` / any MutableMapping (kept LIVE:
    CREATE/DROP TABLE persist through it, so a file-backed catalog makes
    DDL durable and visible to other sessions — the Glue-Data-Catalog
    behavior of the reference)."""

    def __init__(self, spark: SparkSession, tables: Dict[str, Table]):
        self.spark = spark
        self.tables = dict(tables) if isinstance(tables, dict) else tables
        # named-query registry (Athena workgroup named queries,
        # reference terraform/athena.tf:31-53): durable through a
        # file-backed Catalog, session-local otherwise
        self._named_local: Dict[str, str] = {}
        from .functions.udfs import register_sql_functions

        register_sql_functions(spark)  # phash64/morton64/psnr/… in SQL

    # ---------- named queries ----------

    def _nq_catalog(self):
        return self.tables if hasattr(self.tables, "set_named_query") else None

    def _nq_all(self) -> Dict[str, str]:
        cat = self._nq_catalog()
        return cat.named_queries() if cat else dict(self._named_local)

    def _nq_put(self, name: str, sql: str, replace: bool) -> None:
        cat = self._nq_catalog()
        if cat:
            try:
                cat.set_named_query(name, sql, replace=replace)
            except KeyError as e:
                raise SQLCommandError(str(e)) from e
        else:
            if not replace and name in self._named_local:
                raise SQLCommandError(f"named query {name!r} already exists")
            self._named_local[name] = sql

    def _nq_drop(self, name: str) -> None:
        cat = self._nq_catalog()
        try:
            if cat:
                cat.drop_named_query(name)
            else:
                del self._named_local[name]
        except KeyError as e:
            raise SQLCommandError(f"unknown named query {name!r}") from e

    def _execute_named(self, s: str) -> DataFrame:
        m = re.match(rf"EXECUTE\s+({_ID})$", s, re.I)
        if not m:
            raise SQLCommandError("expected: EXECUTE <named query>")
        name = m.group(1)
        queries = self._nq_all()
        if name not in queries:
            raise SQLCommandError(
                f"unknown named query {name!r}; have {sorted(queries)}"
            )
        return self.sql(queries[name])

    def _table(self, name: str) -> Table:
        if name not in self.tables:
            raise SQLCommandError(
                f"unknown table {name!r}; catalog has {sorted(self.tables)}"
            )
        return self.tables[name]

    def _summary_df(self, op: str, tbl: str, snap: Optional[Snapshot],
                    extra: Optional[dict] = None) -> DataFrame:
        s = dict(snap.summary) if snap is not None else {}
        s.update(extra or {})
        keys = [
            k for k in ("rows_updated", "rows_deleted", "rows_inserted",
                        "files_rewritten", "files_candidate",
                        "delete_files_added")
            if k in s
        ]
        row = tuple([op, tbl, snap.snapshot_id if snap else None]
                    + [int(s[k]) for k in keys])
        ddl = "operation string, table string, snapshot_id long" + "".join(
            f", {k} long" for k in keys
        )
        return self.spark.createDataFrame([row], ddl)

    def sql(self, stmt: str) -> DataFrame:
        s = stmt.strip().rstrip(";").strip()
        head = s.split(None, 1)[0].upper() if s else ""
        if head == "UPDATE":
            return self._update(s)
        if head == "DELETE":
            return self._delete(s)
        if head == "MERGE":
            return self._merge(s)
        if head == "OPTIMIZE":
            return self._optimize(s)
        if head == "VACUUM":
            return self._vacuum(s)
        if head == "ANALYZE":
            return self._analyze(s)
        if head == "INSERT":
            return self._insert(s)
        if head == "RESTORE":
            return self._restore(s)
        if head == "DESCRIBE":
            return self._describe(s)
        if head == "SHOW":
            return self._show(s)
        if head == "CREATE":
            return self._create(s)
        if head == "ALTER":
            return self._alter(s)
        if head == "DROP":
            return self._drop(s)
        if head == "CALL":
            return self._call(s)
        if head == "TRUNCATE":
            return self._truncate(s)
        if head == "COPY":
            return self._copy(s)
        if head == "REFRESH":
            return self._refresh_mv(s)
        if head == "EXECUTE":
            return self._execute_named(s)
        # metadata-only COUNT(*): answered from manifest record counts
        # (O(manifest), zero data IO) when the WHERE is absent or fully
        # provable from file stats; any unprovable shape falls through
        # to the ordinary scan plan below
        m = re.match(
            rf"SELECT\s+COUNT\(\*\)(?:\s+AS\s+(\w+))?\s+FROM\s+({_ID})"
            rf"(?:\s+WHERE\s+(.+))?$",
            s, re.I | re.S,
        )
        if m and m.group(2) in self.tables:
            from .operators.metascan import fast_count

            try:
                preds = parse_where(m.group(3)) if m.group(3) else None
                n = fast_count(self.tables[m.group(2)], self.spark, preds)
                return self.spark.createDataFrame(
                    [(n,)], f"`{m.group(1) or 'count(1)'}` long"
                )
            except (ValueError, SQLCommandError):
                pass
        # SELECT / WITH / EXPLAIN …: refresh catalog views, delegate
        s = self._rewrite_time_travel(s)
        self._register_all()
        self._register_meta_views(s)
        return self.spark.sql(s)

    def _register_all(self) -> None:
        """Register every catalog table as a temp view; MVs with derived
        (avg) columns go through the display frame so their hidden
        sum/cnt partials never leak into SQL results."""
        from .operators.matview import register_table_or_mv

        for name, t in self.tables.items():
            register_table_or_mv(self.spark, t, name)

    _META_SUFFIXES = (
        "snapshots", "history", "files", "partitions", "manifests",
        "refs", "column_stats", "delete_files",
    )

    def _register_meta_views(self, s: str) -> None:
        """Metadata relations straight from SQL (Iceberg's ``t$files``
        spelled ``t_files``): any ``<table>_<meta>`` name appearing in
        the statement registers ON DEMAND — never eagerly, because
        ``manifests``/``delete_files`` read parquet footers and paying
        that for every unrelated SELECT would tax the common path."""
        from .sources import metatables as _mt

        builders = {
            "snapshots": _mt.snapshots_df,
            "history": _mt.history_df,
            "files": _mt.files_df,
            "partitions": _mt.partitions_df,
            "manifests": _mt.manifests_df,
            "refs": _mt.refs_df,
            "column_stats": _mt.column_stats_df,
            "delete_files": _mt.delete_files_df,
        }
        for name, t in list(self.tables.items()):
            for suffix in self._META_SUFFIXES:
                view = f"{name}_{suffix}"
                if view in self.tables:
                    continue  # a REAL table owns that name — never shadow
                if re.search(rf"\b{re.escape(view)}\b", s):
                    builders[suffix](t, self.spark).createOrReplaceTempView(
                        view
                    )

    def _rewrite_time_travel(self, s: str) -> str:
        """Iceberg/Delta time-travel syntax in SELECTs:
        ``FROM <t> VERSION AS OF <snapshot_id>`` and
        ``FROM <t> TIMESTAMP AS OF '<ts>'`` — each occurrence registers
        a snapshot-pinned view and the clause is rewritten to its name
        (plain text rewrite; the pinned view IS snapshot isolation)."""
        def _version(m):
            name, sid = m.group(1), int(m.group(2))
            if name not in self.tables:
                return m.group(0)
            view = f"{name}__v{sid}"
            self.tables[name].register(self.spark, view, snapshot_id=sid)
            return view

        def _timestamp(m):
            name, ts = m.group(1), m.group(2)
            if name not in self.tables:
                return m.group(0)
            import datetime as _dt

            try:
                ms = int(float(ts) * 1000) if re.fullmatch(
                    r"\d+(?:\.\d+)?", ts
                ) else int(
                    _dt.datetime.fromisoformat(ts).timestamp() * 1000
                )
            except ValueError as e:
                raise SQLCommandError(f"bad TIMESTAMP AS OF value {ts!r}") from e
            view = f"{name}__t{ms}"
            self.tables[name].register(self.spark, view, as_of_ms=ms)
            return view

        s = re.sub(
            rf"({_ID})\s+VERSION\s+AS\s+OF\s+(\d+)", _version, s, flags=re.I
        )
        return re.sub(
            rf"({_ID})\s+TIMESTAMP\s+AS\s+OF\s+'([^']+)'", _timestamp, s,
            flags=re.I,
        )

    # ---------- statement handlers ----------

    def _update(self, s: str) -> DataFrame:
        m = re.match(
            rf"UPDATE\s+({_ID})\s+SET\s+(.*?)\s+WHERE\s+(.*)$", s,
            re.I | re.S,
        )
        if not m:
            raise SQLCommandError(
                "expected: UPDATE <table> SET col = expr[, …] WHERE <conds>"
            )
        name, set_text, where = m.groups()
        assignments = {}
        for part in _split_top_commas(set_text):
            am = re.match(rf"({_ID})\s*=\s*(.+)$", part, re.S)
            if not am:
                raise SQLCommandError(f"cannot parse SET item: {part!r}")
            assignments[am.group(1)] = am.group(2).strip()
        snap = update_where(
            self._table(name), self.spark, parse_where(where), assignments
        )
        return self._summary_df("UPDATE", name, snap,
                                {} if snap else {"rows_updated": 0})

    def _delete(self, s: str) -> DataFrame:
        m = re.match(rf"DELETE\s+FROM\s+({_ID})\s+WHERE\s+(.*)$", s, re.I | re.S)
        if not m:
            raise SQLCommandError("expected: DELETE FROM <table> WHERE <conds>")
        name, where = m.groups()
        snap = delete_where(self._table(name), self.spark, parse_where(where))
        return self._summary_df("DELETE", name, snap,
                                {} if snap else {"rows_deleted": 0})

    def _merge(self, s: str) -> DataFrame:
        m = re.match(
            rf"MERGE\s+INTO\s+({_ID})\s+USING\s+({_ID})\s+ON\s+({_ID})\s*(.*)$",
            s, re.I | re.S,
        )
        if not m:
            raise SQLCommandError(
                "expected: MERGE INTO <table> USING <view> ON <key> "
                "[WHEN MATCHED [AND <cond>] THEN UPDATE SET *|DELETE] "
                "[WHEN NOT MATCHED [AND <cond>] THEN INSERT *] "
                "[WHEN NOT MATCHED BY SOURCE [AND <cond>] THEN DELETE]"
            )
        name, src_view, key, rest = m.groups()
        kwargs: dict = {}
        rest = rest.strip()
        if rest:
            # SQL-standard semantics once any clause appears: unstated
            # actions are no-ops (the bare statement keeps the classic
            # upsert default for compatibility)
            kwargs = {"when_matched": "ignore", "when_not_matched": "ignore"}
            clause_pat = re.compile(
                r"(NOT\s+MATCHED\s+BY\s+SOURCE|NOT\s+MATCHED|MATCHED)"
                r"\s*(?:\bAND\b\s+(.+?))?\s*\bTHEN\b\s*"
                r"(UPDATE(?:\s+SET\s+\*)?|DELETE|INSERT(?:\s+\*)?)\s*$",
                re.I | re.S,
            )
            for chunk in re.split(r"(?i)\bWHEN\b", rest):
                chunk = chunk.strip()
                if not chunk:
                    continue
                cm = clause_pat.match(chunk)
                if not cm:
                    raise SQLCommandError(f"cannot parse MERGE clause: WHEN {chunk}")
                kind = re.sub(r"\s+", " ", cm.group(1).upper())
                cond = cm.group(2).strip() if cm.group(2) else None
                action = cm.group(3).split()[0].upper()
                if kind == "MATCHED":
                    if action not in ("UPDATE", "DELETE"):
                        raise SQLCommandError("WHEN MATCHED takes UPDATE or DELETE")
                    kwargs["when_matched"] = action.lower()
                    kwargs["matched_condition"] = cond
                elif kind == "NOT MATCHED":
                    if action != "INSERT":
                        raise SQLCommandError("WHEN NOT MATCHED takes INSERT")
                    kwargs["when_not_matched"] = "insert"
                    kwargs["not_matched_condition"] = cond
                else:  # NOT MATCHED BY SOURCE
                    if action != "DELETE":
                        raise SQLCommandError(
                            "WHEN NOT MATCHED BY SOURCE takes DELETE"
                        )
                    kwargs["when_not_matched_by_source"] = "delete"
                    kwargs["not_matched_by_source_condition"] = cond
        snap = merge_into(
            self._table(name), self.spark, self.spark.table(src_view),
            key=key, **kwargs,
        )
        return self._summary_df("MERGE", name, snap)

    def _optimize(self, s: str) -> DataFrame:
        mm = re.match(rf"OPTIMIZE\s+({_ID})\s+MANIFESTS$", s, re.I)
        if mm:
            # Iceberg CALL rewrite_manifests: compact the delta-manifest
            # list back to one manifest; physical-only commit
            name = mm.group(1)
            snap = self._table(name).rewrite_manifests(spark=self.spark)
            return self._summary_df(
                "OPTIMIZE MANIFESTS", name, snap,
                {} if snap else {"files_rewritten": 0},
            )
        m = re.match(
            rf"OPTIMIZE\s+({_ID})(?:\s+WHERE\s+(.*?))?"
            rf"(?:\s+ZORDER\s+BY\s*\(\s*({_ID}(?:\s*,\s*{_ID})*)\s*\))?$",
            s, re.I | re.S,
        )
        if not m:
            raise SQLCommandError(
                "expected: OPTIMIZE <table> [WHERE <conds>] "
                "[ZORDER BY (col, …)]"
            )
        name, where, zcols = m.groups()
        t = self._table(name)
        preds = parse_where(where) if where else None
        if zcols:
            cols = tuple(c.strip() for c in zcols.split(","))
            snap = cluster(t, self.spark, cols=cols, predicates=preds)
        else:
            snap = compact(t, self.spark, predicates=preds)
        extra = {} if snap else {"files_rewritten": 0}
        return self._summary_df("OPTIMIZE", name, snap, extra)

    def _vacuum(self, s: str) -> DataFrame:
        m = re.match(
            rf"VACUUM\s+({_ID})(?:\s+RETAIN\s+(\d+)\s+HOURS)?"
            rf"(?:\s+(DRY\s+RUN))?$",
            s, re.I,
        )
        if not m:
            raise SQLCommandError(
                "expected: VACUUM <table> [RETAIN n HOURS] [DRY RUN]"
            )
        name, hours, dry = m.groups()
        t = self._table(name)
        retain_h = float(hours) if hours else 168.0  # Delta's 7-day default
        cutoff = int(time.time() * 1000 - retain_h * 3600 * 1000)
        exp = expire_snapshots(t, spark=self.spark, keep_last=1,
                               older_than_ms=cutoff, dry_run=bool(dry))
        orph = remove_orphan_files(t, older_than_hours=retain_h,
                                   dry_run=bool(dry))
        row = (
            "VACUUM DRY RUN" if dry else "VACUUM", name,
            len(exp.get("expired_snapshots", [])),
            int(exp.get("deleted_files", 0)),
            int(orph.get("deleted_files", 0)),
        )
        return self.spark.createDataFrame(
            [row],
            "operation string, table string, snapshots_expired long, "
            "data_files_deleted long, orphan_files_deleted long",
        )

    def _insert(self, s: str) -> DataFrame:
        """``INSERT INTO <t> <select…>``: the query runs through the
        SELECT passthrough (catalog views + time travel apply), columns
        are matched BY NAME against the table schema and cast to the
        declared types, and the rows land as one append commit.
        ``INSERT OVERWRITE <t> <select…>`` instead commits the query
        result as the table's ENTIRE new file set (one atomic replace
        snapshot — the reference's blind overwrite-refresh semantics,
        silver_digit_clean.py:127, under snapshot isolation with time
        travel back to the pre-overwrite state) — unless the table
        declares ``write.overwrite.mode = dynamic`` (Spark's
        ``partitionOverwriteMode`` as a table property), in which case
        only the partition tuples present in the query result are
        replaced (``operators.overwrite_partitions``).
        ``INSERT INTO <t> REPLACE WHERE <conds> <select…>`` is the
        Delta ``replaceWhere`` spelling: atomically delete the
        predicate's rows and land the query result in one snapshot,
        validating the incoming rows satisfy the predicate."""
        # query must start with a real query token — a bare "(" is only a
        # query opener when it wraps one (else it is a predicate's IN list)
        m = re.match(
            rf"INSERT\s+(INTO|OVERWRITE)\s+({_ID})"
            rf"(?:\s+REPLACE\s+WHERE\s+(.+?))?"
            rf"\s+((?:SELECT|WITH|VALUES|\(\s*(?:SELECT|WITH)).+)$",
            s, re.I | re.S,
        )
        if not m:
            raise SQLCommandError(
                "expected: INSERT INTO|OVERWRITE <table> "
                "[REPLACE WHERE <conds>] <select …>"
            )
        overwrite = m.group(1).upper() == "OVERWRITE"
        name, where_text, query = m.group(2), m.group(3), m.group(4)
        if where_text and overwrite:
            raise SQLCommandError(
                "REPLACE WHERE is an INSERT INTO clause; "
                "INSERT OVERWRITE replaces by partition or table"
            )
        t = self._table(name)
        self._register_all()
        df = self.spark.sql(self._rewrite_time_travel(query.strip()))
        from pyspark.sql.types import StructType

        schema = StructType.fromDDL(t.metadata().schema_ddl)
        missing = [f.name for f in schema.fields if f.name not in df.columns]
        if missing:
            raise SQLCommandError(
                f"INSERT query lacks table columns {missing}"
            )
        from pyspark.sql import functions as F

        out = df.select(
            *[F.col(f.name).cast(f.dataType).alias(f.name) for f in schema.fields]
        )
        if where_text:
            from .operators.overwrite import replace_where

            snap = replace_where(t, self.spark, out, parse_where(where_text))
            return self._summary_df("INSERT REPLACE WHERE", name, snap)
        if overwrite:
            mode = str(
                t.metadata().properties.get("write.overwrite.mode", "static")
            ).strip().lower()
            if mode not in ("static", "dynamic"):
                raise SQLCommandError(
                    f"write.overwrite.mode must be static|dynamic, got {mode!r}"
                )
            if mode == "dynamic" and t.metadata().partition_cols:
                from .operators.overwrite import overwrite_partitions

                snap = overwrite_partitions(t, self.spark, out)
                return self._summary_df("INSERT OVERWRITE", name, snap)
            t.refuse_pending_deletes("INSERT OVERWRITE")
            # operation "overwrite", not "replace": this commit changes
            # LOGICAL rows, so changes()/changes_cdc() must emit it
            # ("replace" is reserved for physical-only rewrites)
            with FileSwap(t, self.spark) as swap:
                swap.drop(swap.man)
                n = records(swap.insert(out))
                snap = swap.commit(
                    "overwrite", {"stage": "insert_overwrite", "rows_inserted": n}
                )
            return self._summary_df("INSERT OVERWRITE", name, snap)
        entries = t.write_files(out)
        n = int(entries["record_count"].sum()) if len(entries) else 0
        snap = t.commit(
            "append", entries, {"stage": "insert", "rows_inserted": n}
        )
        return self._summary_df("INSERT", name, snap)

    def _truncate(self, s: str) -> DataFrame:
        """``TRUNCATE TABLE <t>`` — one metadata-only delete commit with
        an empty file set. No data file is touched: history (and time
        travel back to the pre-truncate snapshot) is preserved, expiry
        GC reclaims the files once the old snapshots age out — the
        snapshot-isolation version of the reference's
        delete-the-prefix-then-rewrite refresh."""
        m = re.match(rf"TRUNCATE\s+TABLE\s+({_ID})$", s, re.I)
        if not m:
            raise SQLCommandError("expected: TRUNCATE TABLE <table>")
        name = m.group(1)
        t = self._table(name)
        t.refuse_pending_deletes("TRUNCATE")
        with FileSwap(t, self.spark) as swap:
            swap.drop(swap.man)
            snap = swap.commit("delete", {"stage": "truncate"})
        return self._summary_df("TRUNCATE", name, snap)

    def _copy(self, s: str) -> DataFrame:
        """``COPY INTO <t> FROM '<dir-or-file>' [FILEFORMAT = PARQUET]``
        — Delta's bulk-file load, mapped to ``Table.add_files``: the
        parquet files are ADOPTED (hard-linked + one stats job), never
        rewritten, and land as one append commit. Schema is validated
        from footers before anything is linked."""
        m = re.match(
            rf"COPY\s+INTO\s+({_ID})\s+FROM\s+'([^']+)'"
            rf"(?:\s+FILEFORMAT\s*=\s*PARQUET)?$",
            s, re.I,
        )
        if not m:
            raise SQLCommandError(
                "expected: COPY INTO <table> FROM '<path>' "
                "[FILEFORMAT = PARQUET]"
            )
        name, src = m.groups()
        t = self._table(name)
        snap = t.add_files(self.spark, src)
        return self._summary_df("COPY INTO", name, snap)

    def _restore(self, s: str) -> DataFrame:
        """``RESTORE TABLE <t> TO VERSION AS OF <snapshot_id>`` /
        ``… TO TIMESTAMP AS OF '<ts>'`` — Delta's RESTORE (both forms),
        mapped to ``Table.rollback`` (a new head commit pointing at the
        old file set; history is preserved, not rewritten)."""
        m = re.match(
            rf"RESTORE\s+TABLE\s+({_ID})\s+TO\s+VERSION\s+AS\s+OF\s+(\d+)$",
            s, re.I,
        )
        tm = (
            None
            if m
            else re.match(
                rf"RESTORE\s+TABLE\s+({_ID})\s+TO\s+TIMESTAMP\s+AS\s+OF"
                rf"\s+'([^']+)'$",
                s, re.I,
            )
        )
        if not m and not tm:
            raise SQLCommandError(
                "expected: RESTORE TABLE <t> TO VERSION AS OF <snapshot_id>"
                " | TO TIMESTAMP AS OF '<ts>'"
            )
        if m:
            name, sid = m.group(1), int(m.group(2))
        else:
            import datetime as _dt

            name, ts = tm.group(1), tm.group(2)
            try:
                ms = int(float(ts) * 1000) if re.fullmatch(
                    r"\d+(?:\.\d+)?", ts
                ) else int(_dt.datetime.fromisoformat(ts).timestamp() * 1000)
            except ValueError as e:
                raise SQLCommandError(f"bad TIMESTAMP AS OF value {ts!r}") from e
            sid = self._table(name).snapshot_as_of(ms).snapshot_id
        snap = self._table(name).rollback(sid)
        return self.spark.createDataFrame(
            [("RESTORE", name, snap.snapshot_id, sid)],
            "operation string, table string, snapshot_id long, "
            "restored_to long",
        )

    def _call(self, s: str) -> DataFrame:
        """Iceberg stored-procedure spelling: ``CALL system.<proc>(…)``
        with positional or ``name => value`` named arguments — the same
        maintenance operators the OPTIMIZE/VACUUM/RESTORE statements
        drive, under the names Iceberg users already type
        (spark.sql("CALL system.expire_snapshots(table => 'db.t',
        retain_last => 3)") etc.). ``older_than`` accepts epoch millis
        or an ISO timestamp."""
        m = re.match(
            r"CALL\s+(?:system\.)?([A-Za-z_]\w*)\s*\((.*)\)\s*$",
            s, re.I | re.S,
        )
        if not m:
            raise SQLCommandError("expected: CALL system.<procedure>(…)")
        proc = m.group(1).lower()
        args: list = []
        kwargs: Dict[str, object] = {}
        argstr = m.group(2).strip()
        if argstr:
            for tok in _split_top_commas(argstr):
                tok = tok.strip()
                km = re.match(r"([A-Za-z_]\w*)\s*=>\s*(.+)$", tok, re.S)
                if km:
                    kwargs[km.group(1).lower()] = _lit(km.group(2).strip())
                else:
                    args.append(_lit(tok))

        def arg(name: str, i: int, default=None):
            if name in kwargs:
                return kwargs[name]
            return args[i] if len(args) > i else default

        def older_than_ms(v):
            if v is None:
                return None
            if isinstance(v, (int, float)):
                return int(v)
            import datetime as _dt

            try:
                return int(_dt.datetime.fromisoformat(str(v)).timestamp() * 1000)
            except ValueError as e:
                raise SQLCommandError(f"bad older_than value {v!r}") from e

        name = arg("table", 0)
        if name is None:
            raise SQLCommandError(f"CALL {proc}: missing table argument")
        t = self._table(str(name))

        if proc == "expire_snapshots":
            rl = arg("retain_last", 2)
            res = expire_snapshots(
                t, spark=self.spark,
                keep_last=int(rl) if rl is not None else None,
                older_than_ms=older_than_ms(arg("older_than", 1)),
            )
            row = (
                "CALL expire_snapshots", str(name),
                len(res.get("expired_snapshots", [])),
                int(res.get("deleted_files", 0)),
            )
            return self.spark.createDataFrame(
                [row],
                "operation string, table string, snapshots_expired long, "
                "data_files_deleted long",
            )
        if proc == "remove_orphan_files":
            ms = older_than_ms(arg("older_than", 1))
            res = (
                remove_orphan_files(t, older_than_ms=ms)
                if ms is not None
                else remove_orphan_files(t)
            )
            return self.spark.createDataFrame(
                [("CALL remove_orphan_files", str(name),
                  int(res.get("deleted_files", 0)))],
                "operation string, table string, orphan_files_deleted long",
            )
        if proc == "rewrite_data_files":
            strategy = str(arg("strategy", 1, "binpack")).lower()
            where = kwargs.get("where")
            preds = parse_where(str(where)) if where else None
            if strategy == "sort":
                order = kwargs.get("sort_order")
                order = self._write_order(t, str(order)) if order else None
                curve, cols = (order.curve, order.cols) if order else (None, None)
                snap = cluster(t, self.spark, curve=curve, cols=cols, predicates=preds)
            elif strategy == "binpack":
                snap = compact(t, self.spark, predicates=preds)
            else:
                raise SQLCommandError(
                    f"rewrite_data_files strategy must be binpack|sort, got {strategy!r}"
                )
            return self._summary_df(
                "CALL rewrite_data_files", str(name), snap,
                {} if snap else {"files_rewritten": 0},
            )
        if proc == "rewrite_manifests":
            snap = t.rewrite_manifests(spark=self.spark)
            return self._summary_df(
                "CALL rewrite_manifests", str(name), snap,
                {} if snap else {"files_rewritten": 0},
            )
        if proc == "rewrite_position_delete_files":
            from .operators import rewrite_delete_files

            snap = rewrite_delete_files(t, self.spark)
            return self._summary_df(
                "CALL rewrite_position_delete_files", str(name), snap,
                {} if snap else {"files_rewritten": 0},
            )
        if proc in ("rollback_to_snapshot", "set_current_snapshot"):
            sid = arg("snapshot_id", 1)
            if sid is None:
                raise SQLCommandError(f"CALL {proc}: missing snapshot_id")
            snap = t.rollback(int(sid))
            return self.spark.createDataFrame(
                [(f"CALL {proc}", str(name), snap.snapshot_id, int(sid))],
                "operation string, table string, snapshot_id long, "
                "restored_to long",
            )
        if proc == "fast_forward":
            branch = arg("branch", 1)
            if branch is None:
                raise SQLCommandError("CALL fast_forward: missing branch")
            snap = t.fast_forward(str(branch))
            return self.spark.createDataFrame(
                [("CALL fast_forward", str(name), str(branch),
                  snap.snapshot_id)],
                "operation string, table string, branch string, "
                "snapshot_id long",
            )
        if proc in ("create_tag", "create_branch"):
            ref = arg("tag" if proc == "create_tag" else "branch", 1)
            if ref is None:
                raise SQLCommandError(f"CALL {proc}: missing ref name")
            sid = arg("snapshot_id", 2)
            sid = int(sid) if sid is not None else None
            out = (
                t.tag(str(ref), snapshot_id=sid)
                if proc == "create_tag"
                else t.create_branch(str(ref), snapshot_id=sid)
            )
            return self.spark.createDataFrame(
                [(f"CALL {proc}", str(name), str(ref), int(out))],
                "operation string, table string, ref string, snapshot_id long",
            )
        if proc == "ancestors_of":
            from .sources.metatables import history_df

            return history_df(t, self.spark)
        raise SQLCommandError(f"unknown procedure {proc!r}")

    def _write_order(self, t: Table, text: str) -> transforms.WriteOrder:
        """A SQL write order (``WRITE [LOCALLY] ORDERED BY``, CALL
        ``sort_order``), checked at statement time: it parses and every
        column exists."""
        try:
            order = transforms.parse_order(text)
        except ValueError as e:
            raise SQLCommandError(f"bad write order: {e}") from None
        fields = set(t._schema(self.spark).fieldNames())
        missing = [c for c in order.cols if c not in fields]
        if missing:
            raise SQLCommandError(
                f"write order references unknown columns {missing}"
            )
        return order

    def _describe(self, s: str) -> DataFrame:
        dm = re.match(rf"DESCRIBE\s+DETAIL\s+({_ID})$", s, re.I)
        if dm:
            # Delta DESCRIBE DETAIL: one operational-summary row, all
            # from metadata (manifest sums; zero data IO)
            name = dm.group(1)
            t = self._table(name)
            meta = t.metadata()
            if meta.current_snapshot_id is not None:
                man = t.manifest_pdf()
                n_files = int(len(man))
                size_b = int(man["file_size_bytes"].sum()) if len(man) else 0
                n_rec = int(man["record_count"].sum()) if len(man) else 0
                ts = t.snapshot().timestamp_ms
            else:
                n_files = size_b = n_rec = 0
                ts = None
            row = (
                "engine-parquet", name, t.root,
                meta.current_snapshot_id, ts,
                ", ".join(meta.partition_cols), n_files, size_b, n_rec,
                len(meta.properties), len(meta.snapshots),
            )
            return self.spark.createDataFrame(
                [row],
                "format string, name string, location string, "
                "snapshot_id long, last_modified_ms long, "
                "partition_columns string, num_files long, "
                "size_in_bytes long, num_records long, num_properties long, "
                "num_snapshots long",
            )
        m = re.match(rf"DESCRIBE\s+(?:TABLE\s+)?({_ID})$", s, re.I)
        if not m:
            raise SQLCommandError(
                "expected: DESCRIBE [TABLE] <table> | DESCRIBE DETAIL <table>"
            )
        t = self._table(m.group(1))
        from pyspark.sql.types import StructType

        fields = StructType.fromDDL(t.metadata().schema_ddl).fields
        return self.spark.createDataFrame(
            [(f.name, f.dataType.simpleString()) for f in fields],
            "col_name string, data_type string",
        )

    def _show(self, s: str) -> DataFrame:
        m = re.match(rf"SHOW\s+TBLPROPERTIES\s+({_ID})$", s, re.I)
        if m:
            props = self._table(m.group(1)).metadata().properties
            rows = [(k, str(v)) for k, v in sorted(props.items())]
            return self.spark.createDataFrame(rows, "key string, value string")
        m = re.match(rf"SHOW\s+CREATE\s+TABLE\s+({_ID})$", s, re.I)
        if m:
            name = m.group(1)
            t = self._table(name)
            meta = t.metadata()
            from pyspark.sql.types import StructType

            cols = ",\n  ".join(
                f"{f.name} {f.dataType.simpleString()}"
                for f in StructType.fromDDL(meta.schema_ddl).fields
            )
            stmt = f"CREATE TABLE {name} (\n  {cols}\n)"
            if meta.partition_cols:
                stmt += (
                    "\nPARTITIONED BY ("
                    + ", ".join(meta.partition_cols) + ")"
                )
            stmt += f"\nLOCATION '{t.root}'"
            # user-set properties only: managed keys (refs, stream txns,
            # constraints — re-added via ALTER so history is validated)
            # are runtime state, not DDL, and the CREATE parser refuses
            # them; the emitted statement round-trips through eng.sql
            props = {
                k: v for k, v in sorted(meta.properties.items())
                if not k.startswith(
                    ("ref.", "branch.", "stream.txn.", "constraint.")
                )
            }
            if props:
                stmt += "\nTBLPROPERTIES (\n  " + ",\n  ".join(
                    f"'{k}' = '{v}'" for k, v in props.items()
                ) + "\n)"
            return self.spark.createDataFrame(
                [(stmt,)], "createtab_stmt string"
            )
        if re.match(r"SHOW\s+TABLES$", s, re.I):
            return self.spark.createDataFrame(
                [(n,) for n in sorted(self.tables)], "table string"
            )
        if re.match(r"SHOW\s+NAMED\s+QUERIES$", s, re.I):
            rows = [(k, v) for k, v in sorted(self._nq_all().items())]
            return self.spark.createDataFrame(
                rows or [], "name string, query string"
            )
        raise SQLCommandError(
            "expected: SHOW TABLES | SHOW CREATE TABLE <table> | "
            "SHOW TBLPROPERTIES <table> | SHOW NAMED QUERIES"
        )

    def _analyze(self, s: str) -> DataFrame:
        m = re.match(
            rf"ANALYZE\s+TABLE\s+({_ID})\s+COMPUTE\s+STATISTICS"
            rf"(?:\s+FOR\s+COLUMNS\s+({_ID}(?:\s*,\s*{_ID})*))?$",
            s, re.I,
        )
        if not m:
            raise SQLCommandError(
                "expected: ANALYZE TABLE <t> COMPUTE STATISTICS "
                "[FOR COLUMNS c1, …]"
            )
        name, cols = m.groups()
        t = self._table(name)
        analyze_table(
            t, self.spark,
            [c.strip() for c in cols.split(",")] if cols else None,
        )
        return column_stats_df(t, self.spark)

    # ---------- DDL ----------

    def _ddl_df(self, op: str, tbl: str, detail: str) -> DataFrame:
        return self.spark.createDataFrame(
            [(op, tbl, detail)], "operation string, table string, detail string"
        )

    def _refresh_mv(self, s: str) -> DataFrame:
        """``REFRESH MATERIALIZED VIEW <name> [FULL]`` — brings the MV to
        the base's current snapshot via the cheapest sound path (no-op /
        bookmark bump / incremental delta fold / full recompute — see
        operators/matview.py); FULL forces the recompute."""
        m = re.match(
            rf"REFRESH\s+MATERIALIZED\s+VIEW\s+({_ID})(\s+FULL)?$", s, re.I
        )
        if not m:
            raise SQLCommandError(
                "expected: REFRESH MATERIALIZED VIEW <name> [FULL]"
            )
        from .operators.matview import refresh_matview

        name, force_full = m.group(1), bool(m.group(2))
        try:
            snap = refresh_matview(
                self.spark, self._table(name), self.tables, full=force_full
            )
        except ValueError as e:
            raise SQLCommandError(str(e)) from e
        if snap is None:
            return self._ddl_df("REFRESH MATERIALIZED VIEW", name, "fresh")
        mode = snap.summary.get("refresh", "bookmark")
        return self._ddl_df(
            "REFRESH MATERIALIZED VIEW", name,
            f"{mode} @ base snapshot "
            f"{int(snap.summary.get('base_snapshot_id', 0))}",
        )

    def _create(self, s: str) -> DataFrame:
        """``CREATE TABLE <t> [(col type, …)] [PARTITIONED BY (spec, …)]
        [STATS BY (col, …)] LOCATION '<path>' [TBLPROPERTIES ('k'='v', …)]
        [AS <select>]`` — engine tables are path-based, so LOCATION is
        required. CTAS derives the schema from the query; partition
        items accept hidden-partitioning transforms (``bucket(8, id)``,
        ``days(ts)``) exactly like ``Table.create``."""
        nq = re.match(
            rf"CREATE\s+(OR\s+REPLACE\s+)?NAMED\s+QUERY\s+({_ID})\s+AS\s+"
            rf"(.+)$",
            s, re.I | re.S,
        )
        if nq:
            replace, name, body = bool(nq.group(1)), nq.group(2), nq.group(3)
            self._nq_put(name, body.strip(), replace)
            return self._ddl_df(
                "CREATE NAMED QUERY", name,
                "replaced" if replace else "created",
            )
        mv = re.match(
            rf"CREATE\s+MATERIALIZED\s+VIEW\s+({_ID})\s+LOCATION\s+"
            rf"'([^']+)'\s+AS\s+(.+)$",
            s, re.I | re.S,
        )
        if mv:
            from .operators.matview import create_matview

            name, loc, query = mv.group(1), mv.group(2), mv.group(3)
            if name in self.tables:
                raise SQLCommandError(
                    f"table {name!r} already exists in catalog"
                )
            self._register_all()
            try:
                t = create_matview(self.spark, name, query, loc, self.tables)
            except ValueError as e:
                raise SQLCommandError(str(e)) from e
            self.tables[name] = t
            snap = t.snapshot()
            return self._ddl_df(
                "CREATE MATERIALIZED VIEW", name,
                f"created, {int(snap.summary.get('rows', 0))} rows @ base "
                f"snapshot {int(snap.summary.get('base_snapshot_id', 0))}",
            )
        m = re.match(rf"CREATE\s+TABLE\s+({_ID})\s*", s, re.I)
        if not m:
            raise SQLCommandError("expected: CREATE TABLE <name> …")
        name, rest = m.group(1), s[m.end():].strip()
        if name in self.tables:
            raise SQLCommandError(f"table {name!r} already exists in catalog")
        cm = re.match(
            rf"SHALLOW\s+CLONE\s+({_ID})(?:\s+VERSION\s+AS\s+OF\s+(\d+))?"
            rf"\s+LOCATION\s+'([^']+)'$",
            rest, re.I,
        )
        if cm:
            src, sid, loc = cm.group(1), cm.group(2), cm.group(3)
            dest = self._table(src).clone(
                loc, snapshot_id=int(sid) if sid else None
            )
            self.tables[name] = dest
            snap = dest.snapshot()
            return self.spark.createDataFrame(
                [("CREATE SHALLOW CLONE", name, src,
                  int(snap.summary.get("source_snapshot_id", 0)),
                  int(snap.summary.get("files_linked", 0)))],
                "operation string, table string, source string, "
                "source_snapshot_id long, files_linked long",
            )
        ddl = None
        if rest.startswith("("):
            inner, rest = _take_parens(rest)
            ddl = inner
        part, stats, loc, props, query = [], [], None, {}, None
        while rest:
            pm = re.match(r"PARTITIONED\s+BY\s*", rest, re.I)
            if pm:
                inner, rest = _take_parens(rest[pm.end():])
                part = _split_top_commas(inner)
                continue
            sm = re.match(r"STATS\s+BY\s*", rest, re.I)
            if sm:
                inner, rest = _take_parens(rest[sm.end():])
                stats = _split_top_commas(inner)
                continue
            lm = re.match(r"LOCATION\s+'([^']+)'\s*", rest, re.I)
            if lm:
                loc, rest = lm.group(1), rest[lm.end():]
                continue
            tm = re.match(r"TBLPROPERTIES\s*", rest, re.I)
            if tm:
                inner, rest = _take_parens(rest[tm.end():])
                props = _parse_props(inner)
                continue
            am = re.match(r"AS\s+(.+)$", rest, re.I | re.S)
            if am:
                query, rest = am.group(1).strip(), ""
                continue
            raise SQLCommandError(f"cannot parse CREATE TABLE at: {rest[:60]!r}")
        if loc is None:
            raise SQLCommandError(
                "LOCATION '<path>' is required (engine tables are path-based)"
            )
        if ddl is None and query is None:
            raise SQLCommandError(
                "CREATE TABLE needs a column list or AS <select>"
            )
        df = None
        if query is not None:
            self._register_all()
            df = self.spark.sql(self._rewrite_time_travel(query))
            if ddl is None:
                ddl = ", ".join(
                    f"{f.name} {f.dataType.simpleString()}"
                    for f in df.schema.fields
                )
        t = Table.create(loc, ddl, partition_cols=part, stats_cols=stats,
                         properties=props)
        detail = "created"
        if df is not None:
            from pyspark.sql.types import StructType

            schema = StructType.fromDDL(ddl)
            from pyspark.sql import functions as F

            out = df.select(
                *[F.col(f.name).cast(f.dataType).alias(f.name)
                  for f in schema.fields]
            )
            entries = t.write_files(out)
            n = int(entries["record_count"].sum()) if len(entries) else 0
            t.commit("append", entries, {"stage": "ctas", "rows_inserted": n})
            detail = f"created, {n} rows"
        self.tables[name] = t
        return self._ddl_df("CREATE TABLE", name, detail)

    def _alter(self, s: str) -> DataFrame:
        """``ALTER TABLE <t> ADD COLUMNS (ddl) | RENAME COLUMN a TO b |
        DROP COLUMN a | SET TBLPROPERTIES (…) | UNSET TBLPROPERTIES
        ('k', …) | SET PARTITION SPEC (spec, …)`` — each maps 1:1 onto
        the Table metadata-evolution API (all metadata-only commits)."""
        m = re.match(rf"ALTER\s+TABLE\s+({_ID})\s+", s, re.I)
        if not m:
            raise SQLCommandError("expected: ALTER TABLE <name> <action>")
        name, rest = m.group(1), s[m.end():].strip()
        t = self._table(name)
        am = re.match(r"ADD\s+COLUMNS\s*", rest, re.I)
        if am:
            inner, tail = _take_parens(rest[am.end():])
            if tail:
                raise SQLCommandError(f"trailing input: {tail!r}")
            cols, defaults = [], {}
            for ent in _split_top_commas(inner):
                dm2 = re.match(
                    rf"(.+?)\s+DEFAULT\s+({_LIT})\s*$", ent.strip(),
                    re.I | re.S,
                )
                if dm2:
                    col_ddl = dm2.group(1).strip()
                    cols.append(col_ddl)
                    defaults[col_ddl.split()[0]] = _lit(dm2.group(2))
                else:
                    cols.append(ent.strip())
            t.add_columns(", ".join(cols), defaults=defaults or None)
            return self._ddl_df("ALTER TABLE", name, f"added: {inner}")
        rm = re.match(rf"RENAME\s+COLUMN\s+({_ID})\s+TO\s+({_ID})$", rest, re.I)
        if rm:
            t.rename_column(rm.group(1), rm.group(2))
            return self._ddl_df(
                "ALTER TABLE", name, f"renamed {rm.group(1)} -> {rm.group(2)}"
            )
        dm = re.match(rf"DROP\s+COLUMN\s+({_ID})$", rest, re.I)
        if dm:
            t.drop_column(dm.group(1))
            return self._ddl_df("ALTER TABLE", name, f"dropped {dm.group(1)}")
        # Iceberg SQL-extension write-order/distribution DDL → the same
        # table properties write_files/cluster already honor
        wo = re.match(r"WRITE\s+(LOCALLY\s+)?ORDERED\s+BY\s*", rest, re.I)
        if wo:
            inner, tail = _take_parens(rest[wo.end():])
            if tail:
                raise SQLCommandError(f"trailing input: {tail!r}")
            self._write_order(t, inner)
            # a global order also range-distributes the writes
            props = {} if wo.group(1) else {"write.distribution-mode": "range"}
            t.set_properties({**props, transforms.ORDER_PROP: inner})
            local = "locally " if wo.group(1) else ""
            return self._ddl_df("ALTER TABLE", name, f"write {local}ordered by {inner}")
        if re.match(r"WRITE\s+DISTRIBUTED\s+BY\s+PARTITION$", rest, re.I):
            t.set_properties({"write.distribution-mode": "hash"})
            return self._ddl_df("ALTER TABLE", name, "write distributed by partition")
        if re.match(r"WRITE\s+UNORDERED$", rest, re.I):
            t.set_properties(
                {"write.distribution-mode": "none", transforms.ORDER_PROP: None}
            )
            return self._ddl_df("ALTER TABLE", name, "write unordered")
        wm = re.match(
            rf"ALTER\s+COLUMN\s+({_ID})\s+TYPE\s+([A-Za-z0-9_]+)$", rest, re.I
        )
        if wm:
            t.widen_column(wm.group(1), wm.group(2), spark=self.spark)
            return self._ddl_df(
                "ALTER TABLE", name,
                f"widened {wm.group(1)} -> {wm.group(2).lower()}",
            )
        acm = re.match(rf"ADD\s+CONSTRAINT\s+({_ID})\s+CHECK\s*", rest, re.I)
        if acm:
            inner, tail = _take_parens(rest[acm.end():])
            if tail:
                raise SQLCommandError(f"trailing input: {tail!r}")
            t.add_constraint(self.spark, acm.group(1), inner)
            return self._ddl_df(
                "ALTER TABLE", name, f"constraint {acm.group(1)} added"
            )
        dcm = re.match(rf"DROP\s+CONSTRAINT\s+({_ID})$", rest, re.I)
        if dcm:
            t.drop_constraint(dcm.group(1))
            return self._ddl_df(
                "ALTER TABLE", name, f"constraint {dcm.group(1)} dropped"
            )
        sm = re.match(r"SET\s+TBLPROPERTIES\s*", rest, re.I)
        if sm:
            inner, tail = _take_parens(rest[sm.end():])
            if tail:
                raise SQLCommandError(f"trailing input: {tail!r}")
            t.set_properties(_parse_props(inner))
            return self._ddl_df("ALTER TABLE", name, "properties set")
        um = re.match(r"UNSET\s+TBLPROPERTIES\s*", rest, re.I)
        if um:
            inner, tail = _take_parens(rest[um.end():])
            if tail:
                raise SQLCommandError(f"trailing input: {tail!r}")
            keys = re.findall(r"'([^']*)'", inner)
            if not keys:
                raise SQLCommandError("expected: UNSET TBLPROPERTIES ('k', …)")
            t.set_properties({k: None for k in keys})
            return self._ddl_df("ALTER TABLE", name, "properties unset")
        pm = re.match(r"SET\s+PARTITION\s+SPEC\s*", rest, re.I)
        if pm:
            inner, tail = _take_parens(rest[pm.end():])
            if tail:
                raise SQLCommandError(f"trailing input: {tail!r}")
            t.set_partition_spec(_split_top_commas(inner))
            return self._ddl_df("ALTER TABLE", name, f"spec: {inner}")
        raise SQLCommandError(
            "expected: ADD COLUMNS (…) | RENAME COLUMN a TO b | "
            "DROP COLUMN a | SET TBLPROPERTIES (…) | "
            "UNSET TBLPROPERTIES (…) | SET PARTITION SPEC (…)"
        )

    def _drop(self, s: str) -> DataFrame:
        """``DROP TABLE <t> [PURGE]`` — removes the table from this
        catalog (and its temp view); PURGE also deletes the table
        directory from storage. Without PURGE the table data is
        untouched and re-attachable via ``Table.load``."""
        nq = re.match(rf"DROP\s+NAMED\s+QUERY\s+({_ID})$", s, re.I)
        if nq:
            self._nq_drop(nq.group(1))
            return self._ddl_df("DROP NAMED QUERY", nq.group(1), "dropped")
        m = re.match(
            rf"DROP\s+(?:TABLE|MATERIALIZED\s+VIEW)\s+({_ID})(\s+PURGE)?$",
            s, re.I,
        )
        if not m:
            raise SQLCommandError(
                "expected: DROP TABLE|MATERIALIZED VIEW <name> [PURGE] | "
                "DROP NAMED QUERY <name>"
            )
        name, purge = m.group(1), bool(m.group(2))
        t = self._table(name)
        del self.tables[name]
        try:
            self.spark.catalog.dropTempView(name)
        except Exception:
            pass
        if purge:
            import shutil

            shutil.rmtree(t.root, ignore_errors=True)
        return self._ddl_df(
            "DROP TABLE", name, "purged" if purge else "detached"
        )


def main(argv=None) -> None:
    """One-shot SQL runner (the Athena-console analogue for scripts and
    cron):

        python -m aws_medallion_datalake_spark.sqlcmd \\
            --table images=/data/images --cpus 8 \\
            "SELECT fmt, count(*) AS n FROM images GROUP BY fmt" \\
            "OPTIMIZE images ZORDER BY (phash, w, h)"

    Each statement runs through :class:`EngineSQL`; results print as
    JSON lines (one object per row) so shell pipelines can consume
    them. Exits nonzero on the first failing statement."""
    import argparse

    ap = argparse.ArgumentParser(
        prog="python -m aws_medallion_datalake_spark.sqlcmd",
        description="Run engine SQL against lakehouse tables.",
    )
    ap.add_argument(
        "--table", action="append", default=[], metavar="NAME=PATH",
        help="register a table root under a name (repeatable)",
    )
    ap.add_argument(
        "--catalog", metavar="DIR",
        help="file-backed catalog directory; CREATE/DROP TABLE persist "
             "there and --table entries are session-local overlays",
    )
    ap.add_argument("--cpus", type=int, default=8)
    ap.add_argument("sql", nargs="+", help="SQL statements, run in order")
    a = ap.parse_args(argv)

    from .session import get_session
    from .sources.tableformat import Table

    overlays = {}
    for spec in a.table:
        if "=" not in spec:
            ap.error(f"--table expects NAME=PATH, got {spec!r}")
        name, path = spec.split("=", 1)
        overlays[name] = Table.load(path)
    if a.catalog:
        from collections.abc import MutableMapping

        from .sources.catalog import Catalog

        class _Overlay(MutableMapping):
            """--table entries shadow the catalog WITHOUT writing to it
            (session-local, as documented); everything else — including
            CREATE/DROP TABLE — goes through to the durable catalog."""

            def __init__(self, cat, local):
                self.cat, self.local = cat, local

            def __getitem__(self, k):
                return self.local[k] if k in self.local else self.cat[k]

            def __setitem__(self, k, v):
                if k in self.local:
                    self.local[k] = v
                else:
                    self.cat[k] = v

            def __delitem__(self, k):
                if k in self.local:
                    del self.local[k]
                else:
                    del self.cat[k]

            def __iter__(self):
                seen = set(self.local)
                yield from self.local
                for k in self.cat:
                    if k not in seen:
                        yield k

            def __len__(self):
                return len(set(self.local) | set(self.cat))

        tables = (
            _Overlay(Catalog(a.catalog), overlays)
            if overlays
            else Catalog(a.catalog)
        )
    else:
        tables = overlays
    spark = get_session(
        f"local[{a.cpus}]", shuffle_partitions=max(8, a.cpus)
    )
    spark.sparkContext.setLogLevel("ERROR")
    eng = EngineSQL(spark, tables)
    try:
        for stmt in a.sql:
            for line in eng.sql(stmt).toJSON().collect():
                print(line)
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
