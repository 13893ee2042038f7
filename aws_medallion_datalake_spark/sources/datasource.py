"""Spark-native Python DataSource (format ``"medallion"``) over engine tables.

The connector surface Delta/Iceberg users get from their Spark extensions,
built on Spark 4's Python Data Source API (SPARK-44076) — so engine tables
plug into the STANDARD reader/writer/stream entry points with no engine
imports at the call site:

    register(spark)                                     # once per session
    spark.read.format("medallion").load(root)           # batch snapshot read
    spark.readStream.format("medallion").load(root)     # incremental micro-batches
    df.write.format("medallion").mode("append").save(root)
    df.writeStream.format("medallion").option("txnAppId", "job-7").start(...)

Scale notes (the same discipline as the native paths):

- Batch read plans from the MANIFEST: one :class:`InputPartition` per data
  file, min/max/null-count file pruning runs at planning time from pushed
  filters (``pushFilters``) — a pruned file is never listed, opened, or
  shipped to an executor. Rows cross into Spark as Arrow record batches
  (``read`` yields ``pyarrow.RecordBatch``), never per-row Python objects.
- The streaming reader is the snapshot-diff consumer as a REAL
  Structured Streaming source: offsets are snapshot ids, each
  micro-batch reads exactly the files logically added in ``(start,
  end]``, ``Table.added_paths`` — the ancestry walk and per-link
  manifest diff ``Table.changes`` reads through, run on the driver (no
  session here) — O(delta), no directory listing. Offset 0 is
  ``startingOffsets=earliest``. Watermarks/windowed aggs compose
  downstream.
- Writers are the inverse: each task streams Arrow batches into its own
  parquet file under an isolated prefix inside the table's data dir
  (uncommitted files are invisible; aborts sweep them), the driver folds
  parquet FOOTER stats into manifest entries (zero payload re-read) and
  lands ONE atomic snapshot. The stream writer implements the Delta
  ``txnAppId``/``txnVersion`` idempotence contract — same property
  namespace as streaming/ingest.py, so both sink styles share a ledger —
  and a replayed micro-batch after a crash between sink-commit and
  checkpoint-advance is skipped.

Every Python Data Source hook (create/plan/read/commit) runs in a plain
Python worker process with NO SparkSession, so nothing here may call
``StructType.fromDDL`` / ``getActiveSession`` — schema handling is a
strict pure-Python DDL→Arrow mapping (:func:`_arrow_schema_from_ddl`) and
all planning is the pandas/pyarrow manifest path.

Known limits (each raises a clear error rather than degrading silently):
tables with pending merge-on-read deletes need ``apply_deletes()`` or
``Table.scan`` (the delete anti-join is a Spark plan, not expressible in a
reader task); tables with CHECK constraints refuse the Python writer
(enforcement lives inside the JVM write job — use ``Table.append``);
parquet footer blooms are not written from pyarrow tasks (the next
OPTIMIZE rewrite restores them via ``data_writer``); nested column types
are not supported by this connector (engine tables are flat).

Reference parity: the reference consumes/loads via managed connectors
(Glue DynamicFrames, /root/reference/scripts/bronze_digit.py:119-148);
this is the engine's equivalent first-class connector surface.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import uuid
from dataclasses import dataclass
from typing import Iterator, List, Optional, Sequence

import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    IsNotNull,
    IsNull,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)

from .tableformat import (
    DEFAULTS_PROP,
    FOOTER_SPARK_THRESHOLD,
    RENAMES_PROP,
    FileSwap,
    Table,
    TxnAlreadyCommittedError,
    prune_manifest,
    prune_predicates,
    statable_cols,
)
from . import transforms

FORMAT_NAME = "medallion"
_BATCH_ROWS = 10_000  # Arrow batch rows per yield (Spark's own Arrow default)

# exactly the types to_arrow_schema(StructType) produces for the primitives
# engine tables use — read batches must match what the JVM consumer expects
_DDL_ARROW = {
    "string": pa.string(), "varchar": pa.string(), "char": pa.string(),
    "bigint": pa.int64(), "long": pa.int64(),
    "int": pa.int32(), "integer": pa.int32(),
    "smallint": pa.int16(), "tinyint": pa.int8(), "byte": pa.int8(),
    "short": pa.int16(),
    "double": pa.float64(), "float": pa.float32(), "real": pa.float32(),
    "boolean": pa.bool_(), "binary": pa.binary(),
    "date": pa.date32(), "timestamp": pa.timestamp("us", tz="UTC"),
    "timestamp_ntz": pa.timestamp("us"),
}


def _arrow_schema_from_ddl(schema_ddl: str) -> pa.Schema:
    """Strict pure-Python Spark-DDL → Arrow schema (no SparkSession — data
    source hooks run in plain Python workers). Flat primitives + decimal
    only; anything nested/unknown raises instead of guessing."""
    fields = []
    depth, buf, parts = 0, "", []
    for ch in schema_ddl:
        if ch in "<(":
            depth += 1
        elif ch in ">)":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append(buf)
            buf = ""
        else:
            buf += ch
    if buf.strip():
        parts.append(buf)
    for part in parts:
        toks = part.strip().split(None, 1)
        if len(toks) != 2:
            raise ValueError(f"unparseable DDL field: {part!r}")
        name, typ = toks[0].strip("`"), toks[1].strip().lower()
        if typ.endswith(" not null"):
            typ = typ[: -len(" not null")].strip()
        m = re.match(r"decimal\s*\(\s*(\d+)\s*,\s*(\d+)\s*\)$", typ)
        if m:
            fields.append(
                pa.field(name, pa.decimal128(int(m.group(1)), int(m.group(2))))
            )
            continue
        base = typ.split("(")[0].split("<")[0].strip()
        if base not in _DDL_ARROW or "<" in typ:
            raise ValueError(
                f"medallion data source supports flat primitive columns; "
                f"column {name!r} has unsupported type {typ!r}"
            )
        fields.append(pa.field(name, _DDL_ARROW[base]))
    return pa.schema(fields)


# ---------------------------------------------------------------- helpers


def _root(options) -> str:
    path = options.get("path")
    if not path:
        raise ValueError(
            "medallion data source needs a table root: "
            ".load('<root>') / .save('<root>') or .option('path', <root>)"
        )
    return path


@dataclass
class _FileSlice(InputPartition):
    """One data file plus everything ``read`` needs to decode it without
    driver state: schema DDL pinned at PLAN time (so a concurrent schema
    evolution can't shear a running batch), rename generations and column
    defaults (both resolved per file, like ``Table.read_data``), and the
    pushed predicates for ROW-GROUP skipping inside the file."""

    abs_path: str
    schema_ddl: str
    renames_json: str
    defaults_json: str
    preds_json: str = "[]"


def _rg_stats(md, cols: set) -> pd.DataFrame:
    """One row per row group of the Parquet footer ``md``, in the
    manifest's layout, so row groups are pruned by the manifest pruner's
    rules (``prune_manifest``): ``record_count`` and the footer's
    ``min_/max_/nulls_<c>`` stats of the columns ``cols``, NaN where it
    has none. Values stay Python objects, compared as the footer gives
    them."""
    rows = []
    for i in range(md.num_row_groups):
        rg = md.row_group(i)
        row = {"record_count": rg.num_rows}
        for j in range(rg.num_columns):
            col = rg.column(j)
            c, st = col.path_in_schema, col.statistics
            if c not in cols or st is None:
                continue
            if st.has_min_max:
                row[f"min_{c}"], row[f"max_{c}"] = st.min, st.max
            if st.has_null_count:
                row[f"nulls_{c}"] = st.null_count
        rows.append(row)
    return pd.DataFrame(rows, dtype=object)


def _slices(table: Table, rel_paths, meta, preds=()) -> List[_FileSlice]:
    ren = json.dumps(
        {
            k: v
            for k, v in json.loads(
                str(meta.properties.get(RENAMES_PROP, "{}"))
            ).items()
            if v
        }
    )
    dfl = str(meta.properties.get(DEFAULTS_PROP, "{}"))
    pj = json.dumps([list(p) for p in preds], default=str)
    return [
        _FileSlice(os.path.join(table.root, p), meta.schema_ddl, ren, dfl, pj)
        for p in rel_paths
    ]


def _read_slice(part: _FileSlice) -> Iterator[pa.RecordBatch]:
    """Yield Arrow batches for one data file, resolved to the LOGICAL
    schema: renamed columns coalesce across physical generations, columns
    the file predates materialize as NULL, unset values read back as their
    declared default — the pyarrow twin of ``Table.read_data``."""
    arrow_schema = _arrow_schema_from_ddl(part.schema_ddl)
    renames = json.loads(part.renames_json)
    defaults = json.loads(part.defaults_json)
    preds = [tuple(p) for p in json.loads(part.preds_json)]
    pf = pq.ParquetFile(part.abs_path)
    phys = set(pf.schema_arrow.names)
    # read only the physical columns that feed some logical column
    want = []
    for f in arrow_schema:
        if f.name in phys:
            want.append(f.name)
        want += [a for a in renames.get(f.name, []) if a in phys]
    # row-group skipping from footer stats (the layer below manifest
    # pruning — a clustered table's non-matching row groups never decode)
    md = pf.metadata
    groups = list(range(md.num_row_groups))
    if preds:
        cols = {c for c, _, _ in preds}
        groups = list(prune_manifest(_rg_stats(md, cols), preds, cols).index)
    if not groups:
        return
    for batch in pf.iter_batches(
        batch_size=_BATCH_ROWS,
        row_groups=groups,
        columns=list(dict.fromkeys(want)) or None,
    ):
        tbl = pa.Table.from_batches([batch])
        cols = []
        for f in arrow_schema:
            gens = [f.name] + list(renames.get(f.name, []))
            have = [g for g in gens if g in phys]
            if not have:
                arr = pa.nulls(len(tbl), f.type)
            else:
                arr = tbl[have[0]].combine_chunks()
                if arr.type != f.type:
                    arr = arr.cast(f.type)
                for g in have[1:]:
                    nxt = tbl[g].combine_chunks()
                    if nxt.type != f.type:
                        nxt = nxt.cast(f.type)
                    arr = pc.coalesce(arr, nxt)
            if f.name in defaults:
                arr = pc.fill_null(arr, pa.scalar(defaults[f.name], f.type))
            if isinstance(arr, pa.ChunkedArray):
                arr = arr.combine_chunks()
            cols.append(arr)
        yield pa.RecordBatch.from_arrays(cols, schema=arrow_schema)


def _refuse_mor(table: Table, snapshot_id: Optional[int], what: str) -> None:
    if table.metadata().current_snapshot_id is None and snapshot_id is None:
        return
    if table.pending_delete_paths(snapshot_id) or table.pending_eq_deletes(
        snapshot_id
    ):
        raise ValueError(
            f"table has merge-on-read deletes pending; {what} cannot apply "
            f"the delete anti-join inside a Python reader — run "
            f"apply_deletes() first or read via Table.scan()"
        )


def _filters_to_preds(filters: Sequence[Filter]) -> list:
    """Translate pushed Spark filters into the engine's ``(col, op, value)``
    pruning predicates. Strict ``>``/``<`` prune as their inclusive
    neighbors (a superset — sound for FILE-level pruning; Spark re-applies
    every filter row-level because we return them all unhandled)."""
    preds = []
    for f in filters:
        attr = getattr(f, "attribute", None)
        if attr is None or len(attr) != 1:
            continue
        col = attr[0]
        if isinstance(f, EqualTo):
            preds.append((col, "=", f.value))
        elif isinstance(f, (GreaterThan, GreaterThanOrEqual)):
            preds.append((col, ">=", f.value))
        elif isinstance(f, (LessThan, LessThanOrEqual)):
            preds.append((col, "<=", f.value))
        elif isinstance(f, In):
            preds.append((col, "in", list(f.value)))
        elif isinstance(f, IsNull):
            preds.append((col, "isnull", None))
        elif isinstance(f, IsNotNull):
            preds.append((col, "notnull", None))
    return preds


# ---------------------------------------------------------------- readers


class MedallionBatchReader(DataSourceReader):
    def __init__(self, options):
        self.root = _root(options)
        self.snapshot_id = (
            int(options["snapshotId"]) if options.get("snapshotId") else None
        )
        self.branch = options.get("branch")
        self.preds: list = []

    def pushFilters(self, filters: List[Filter]):
        # keep the translatable ones for manifest pruning; every filter is
        # returned unhandled — pruning is file-level, rows still need the
        # Spark-side filter (exactly Table.scan's contract)
        self.preds = _filters_to_preds(filters)
        return filters

    def partitions(self) -> Sequence[InputPartition]:
        table = Table.load(self.root)
        sid = self.snapshot_id
        if self.branch:
            sid = table.branch_head(self.branch)
        meta = table.metadata()
        if sid is None and meta.current_snapshot_id is None:
            return []
        _refuse_mor(table, sid, "the medallion batch reader")
        man = table.manifest_pdf(sid)
        preds = prune_predicates(meta, self.preds)
        rel = list(prune_manifest(man, preds, statable_cols(meta))["path"])
        return _slices(table, rel, meta, preds=self.preds)

    def read(self, partition: _FileSlice) -> Iterator[pa.RecordBatch]:
        return _read_slice(partition)


class MedallionStreamReader(DataSourceStreamReader):
    """Snapshot ids as offsets; each micro-batch is the manifest diff."""

    def __init__(self, options):
        self.root = _root(options)
        # CaseInsensitiveDict from Spark; plain dicts get both spellings
        self.starting = options.get("startingSnapshotId") or options.get(
            "startingsnapshotid"
        )
        self.offsets_mode = (
            options.get("startingOffsets")
            or options.get("startingoffsets")
            or "latest"
        ).lower()
        if self.offsets_mode not in ("latest", "earliest"):
            raise ValueError("startingOffsets must be latest|earliest")

    def initialOffset(self) -> dict:
        table = Table.load(self.root)
        if self.starting is not None:
            return {"snapshot_id": int(self.starting)}
        if self.offsets_mode == "earliest":
            return {"snapshot_id": 0}
        head = table.metadata().current_snapshot_id
        return {"snapshot_id": int(head or 0)}

    def latestOffset(self) -> dict:
        head = Table.load(self.root).metadata().current_snapshot_id
        return {"snapshot_id": int(head or 0)}

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        from_sid, to_sid = int(start["snapshot_id"]), int(end["snapshot_id"])
        if to_sid <= from_sid:
            return []
        table = Table.load(self.root)
        # offset 0 is earliest: the oldest live snapshot onward
        rel = table.added_paths(from_sid or None, to_sid)
        return _slices(table, rel, table.metadata())

    def read(self, partition: _FileSlice) -> Iterator[pa.RecordBatch]:
        return _read_slice(partition)

    def commit(self, end: dict) -> None:
        pass  # offsets live in the query checkpoint; nothing engine-side


# ---------------------------------------------------------------- writers


@dataclass
class _WroteFiles(WriterCommitMessage):
    prefix: str  # this task's own prefix subdirectory inside data/
    n_files: int


_TARGET_FILE_BYTES = 128 * 1024 * 1024  # roll to a new file past this


def _task_write(
    iterator: Iterator[pa.RecordBatch], root: str, schema_ddl: str
) -> _WroteFiles:
    """Executor side: stream this task's Arrow batches into parquet files
    under an isolated per-task directory inside the table's data dir
    (uncommitted files are invisible to readers and swept on abort).
    Columns are aligned BY NAME and cast to the declared types — the
    pyarrow twin of ``Table.append``'s projection. Rolls to a new file
    once the in-memory bytes fed to the current one pass the 128 MB
    target: a wide input partition must not become one multi-GB file
    (post-compression files land under target, never absurdly over)."""
    arrow_schema = _arrow_schema_from_ddl(schema_ddl)
    prefix = os.path.join(root, "data", "pyds-" + uuid.uuid4().hex[:16])
    writer = None
    n_files = 0
    fed = 0
    try:
        for batch in iterator:
            if batch.num_rows == 0:
                continue
            if batch.schema != arrow_schema:
                names = set(batch.schema.names)
                cols = []
                for f in arrow_schema:
                    if f.name in names:
                        arr = batch.column(
                            batch.schema.get_field_index(f.name)
                        )
                        cols.append(
                            arr.cast(f.type) if arr.type != f.type else arr
                        )
                    else:
                        cols.append(pa.nulls(batch.num_rows, f.type))
                batch = pa.RecordBatch.from_arrays(cols, schema=arrow_schema)
            if writer is not None and fed >= _TARGET_FILE_BYTES:
                writer.close()
                writer, fed = None, 0
            if writer is None:
                os.makedirs(prefix, exist_ok=True)
                writer = pq.ParquetWriter(
                    os.path.join(prefix, f"part-{n_files}.parquet"),
                    arrow_schema,
                )
                n_files += 1
            writer.write_batch(batch)
            fed += batch.nbytes
    finally:
        if writer is not None:
            writer.close()
    return _WroteFiles(prefix=prefix, n_files=n_files)


class _WriterBase:
    def __init__(self, options, schema, overwrite: bool):
        self.root = _root(options)
        table = Table.load(self.root)  # validates the root, no session
        meta = table.metadata()
        cons = table.constraints()
        if cons:
            raise ValueError(
                f"table declares CHECK constraints {sorted(cons)}; the "
                f"Python writer cannot enforce them in-task — append via "
                f"Table.append / INSERT INTO (JVM write path) instead"
            )
        declared = {f.name for f in _arrow_schema_from_ddl(meta.schema_ddl)}
        incoming = set(schema.fieldNames())
        extra = sorted(incoming - declared)
        if extra:
            raise ValueError(
                f"frame has columns not in the table schema: {extra} "
                f"(evolve first: ALTER TABLE ADD COLUMNS / Table.append "
                f"with merge_schema=True)"
            )
        missing = sorted(declared - incoming)
        if missing:
            raise ValueError(f"frame lacks table columns {missing}")
        tforms = transforms.parse_spec(meta.partition_cols)
        if not all(t.monotonic for t in tforms):
            raise ValueError(
                "table partition spec has a bucket transform, whose stats "
                "need a data scan — the Python writer commits from footer "
                "stats only; append via Table.append / INSERT INTO instead"
            )
        self.schema_ddl = meta.schema_ddl
        self.overwrite = overwrite

    def _entries(self, messages):
        """Manifest entries for this commit's files — parquet FOOTER stats
        only (commit hooks run without a SparkSession; the scan fallback
        and the >threshold executor fan-out are unavailable here)."""
        table = Table.load(self.root)
        prefixes = [m.prefix for m in messages if m is not None and m.n_files]
        if not prefixes:
            import pandas as pd

            return table, pd.DataFrame(
                columns=["path", "record_count", "file_size_bytes"]
            )
        if len(prefixes) > FOOTER_SPARK_THRESHOLD:
            raise ValueError(
                f"{len(prefixes)} files in one python-writer commit exceeds "
                f"the driver footer-stats bound ({FOOTER_SPARK_THRESHOLD}); "
                f"use the engine-native sink (Table.append / "
                f"streaming.ingest) for this width"
            )
        return table, table.collect_stats_for_prefix(
            None, prefixes, method="footer"
        )

    def _cleanup(self, messages):
        for m in messages or []:
            if m is not None:
                shutil.rmtree(m.prefix, ignore_errors=True)


class MedallionArrowWriter(_WriterBase, DataSourceArrowWriter):
    def write(self, iterator: Iterator[pa.RecordBatch]) -> _WroteFiles:
        return _task_write(iterator, self.root, self.schema_ddl)

    def commit(self, messages) -> None:
        table, entries = self._entries(messages)
        if not len(entries) and not self.overwrite:
            return  # empty append: no snapshot
        n = int(entries["record_count"].sum()) if len(entries) else 0
        if self.overwrite:
            # Spark/Delta semantics: overwriting with an empty frame
            # truncates the table — an empty "overwrite" snapshot, not a
            # silent no-op that leaves the old contents visible
            _refuse_mor(table, None, "INSERT OVERWRITE via the Python writer")
            summ = {
                "stage": "insert_overwrite",
                "rows_inserted": n,
                # several per-task prefixes: record the shared parent so
                # changes() emits exactly the landed frame
                "insert_prefix": "data/pyds-",
            }
            swap = FileSwap(table, None)
            swap.drop(swap.man)
            swap.add(entries)
            swap.commit("overwrite", summ)
        else:
            table.commit(
                "append", entries, {"stage": "append", "rows_inserted": n}
            )

    def abort(self, messages) -> None:
        self._cleanup(messages)


class MedallionStreamWriter(_WriterBase, DataSourceStreamArrowWriter):
    """Micro-batch sink with the Delta ``txnAppId``/``txnVersion``
    idempotence contract (same property namespace as streaming/ingest.py,
    so the two sink styles share one ledger): with ``txnAppId`` set, a
    replayed batch id commits nothing and drops its files."""

    def __init__(self, options, schema, overwrite: bool):
        if overwrite:
            raise ValueError(
                "medallion stream sink is append-only (outputMode append)"
            )
        super().__init__(options, schema, overwrite)
        # options arrive as a CaseInsensitiveDict from Spark; plain dicts
        # (direct construction in tests/tools) get both spellings
        self.txn_app_id = options.get("txnAppId") or options.get("txnappid")

    def write(self, iterator: Iterator[pa.RecordBatch]) -> _WroteFiles:
        return _task_write(iterator, self.root, self.schema_ddl)

    def commit(self, messages, batchId: int) -> None:
        table, entries = self._entries(messages)
        if not len(entries):
            return  # empty micro-batch: deterministic replay is also empty
        prop = f"stream.txn.{self.txn_app_id}" if self.txn_app_id else None
        if prop is not None:
            done = int(table.metadata().properties.get(prop, -1))
            if batchId <= done:
                self._cleanup(messages)  # replayed batch: exactly-once skip
                return
        n = int(entries["record_count"].sum())
        try:
            table.commit(
                "append",
                entries,
                {"stage": "stream_append", "rows_inserted": n,
                 "batch_id": batchId},
                properties={prop: int(batchId)} if prop else None,
                # validated inside the metadata CAS: a concurrent writer
                # sharing this appId/batchId cannot double-commit even if
                # both passed the cheap pre-check above
                txn=(prop, int(batchId)) if prop else None,
            )
        except TxnAlreadyCommittedError:
            self._cleanup(messages)

    def abort(self, messages, batchId: int) -> None:
        self._cleanup(messages)


# ------------------------------------------------------------- datasource


class MedallionDataSource(DataSource):
    """``spark.read/readStream/write/writeStream.format("medallion")``."""

    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def schema(self) -> str:
        return Table.load(_root(self.options)).metadata().schema_ddl

    def reader(self, schema) -> MedallionBatchReader:
        return MedallionBatchReader(self.options)

    def streamReader(self, schema) -> MedallionStreamReader:
        return MedallionStreamReader(self.options)

    def writer(self, schema, overwrite: bool) -> MedallionArrowWriter:
        return MedallionArrowWriter(self.options, schema, overwrite)

    def streamWriter(self, schema, overwrite: bool) -> MedallionStreamWriter:
        return MedallionStreamWriter(self.options, schema, overwrite)


def register(spark) -> None:
    """Register the ``medallion`` format for this session (idempotent).

    Also enables ``spark.sql.python.filterPushdown.enabled`` (runtime
    conf): Spark REFUSES a reader that implements ``pushFilters`` while
    pushdown is disabled, rather than silently skipping the pruning."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(MedallionDataSource)
