"""Iceberg-style table format implemented from scratch on plain Parquet.

The reference *configures* Iceberg but never exercises it — its jobs do blind
``mode("overwrite")`` Parquet writes with no isolation
(/root/reference/scripts/silver_digit_clean.py:127,
 /root/reference/terraform/glue_digit.tf:54-55 — see SURVEY.md §2.1 S11, §4).
This module implements the mechanics the reference only intended:

- **snapshots**: every commit writes a new immutable manifest + metadata
  version; readers pin a snapshot id → snapshot isolation.
- **manifests**: one Parquet row per data file with partition values, row
  count, byte size, and per-column min/max/null-count stats for the
  configured stats columns (the pruning index for Z-order/Hilbert scans).
- **atomic commit**: write ``vN.metadata.json`` then ``os.replace`` the
  version-hint file — atomic on POSIX. Single-writer assumption (the
  reference is also single-writer: one Step Functions execution at a time,
  /root/reference/terraform/digit_pipeline.tf:6-75).

Layout::

    table_root/
      data/<commit-uuid>/part-*.parquet
      metadata/v1.metadata.json ... vN.metadata.json
      metadata/manifest-<snapshot_id>.parquet
      metadata/version-hint.text

Partitioning is Iceberg-style **metadata partitioning**, not hive paths:
data files always contain every column, and the manifest records per-file
min/max for the partition columns (plus the stats columns). A file whose
partition-column min == max belongs to that partition value
(``partition_json``); writers make files partition-homogeneous by
``repartitionByRange`` on (partition cols, sort key) before writing — the
same mechanism real ingest uses at 10^12 scale. Pruning on the partition
column is just stats pruning, so it needs no directory layout.

Each commit writes its data files under a fresh ``data/<commit-uuid>/``
directory, so "which files did this commit add" is answered by listing that
directory — no guessing against concurrent writers, and aborted writes never
corrupt a committed snapshot (their orphan directories are swept by expiry
GC).

Scale note (10^12 rows ≈ 10^8 files): the manifest is itself columnar
Parquet. Each planning question has ONE pandas implementation
(``prune_manifest``, ``Table.snapshot_diffs``, the clustering metric);
``SPARK_MANIFEST_THRESHOLD`` decides only where a read-only question
runs: on the driver below it, on executors above it, per manifest row
group (``prune_manifest_spark``) or per group of the manifest relation
(``map_groups``). A data-file rewrite (compaction, ``cluster``, the
row-level writes) plans on the driver at every size: it commits through
``FileSwap``, whose base manifest is on the driver anyway.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time
import uuid
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from typing import Iterable, Optional, Sequence

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import local_frame
from . import transforms


class CommitConflictError(RuntimeError):
    """A commit cannot be rebased onto the head a concurrent writer left:
    a non-append commit landed since the write's base snapshot (or the
    base expired), or a full-file-list commit lost the metadata-version
    CAS. Re-plan against the new head and retry — Iceberg's
    optimistic-concurrency validation failure."""


class TxnAlreadyCommittedError(RuntimeError):
    """An idempotent (txnAppId, txnVersion) commit found its version
    already durable at commit time — the Delta transaction-version
    validation, checked INSIDE the metadata CAS so two concurrent
    writers replaying the same micro-batch cannot both land it."""


SPARK_MANIFEST_THRESHOLD = 2_000_000  # manifest rows before planning moves to Spark

FOOTER_SPARK_THRESHOLD = 512  # files per stats harvest before footer reads fan out

MANIFEST_PART_ROWS = 1_000_000  # rows per manifest part in a Spark rewrite

MANIFEST_BASE_COLS = ["path", "partition_json", "record_count", "file_size_bytes"]

# Iceberg-style write properties (write.parquet.bloom-filter-enabled.column.X
# analogue): parquet FOOTER bloom filters on the named columns. Point
# lookups on a non-sort column (fetch image_id X from a phash-clustered
# 10^12-row table) can't use manifest min/max pruning — every file's id
# range spans the key — but the parquet reader consults the footer bloom
# per row group and skips it without decoding anything. Blooms live in
# the files (where Iceberg keeps them), NOT the manifests: at ~1 bit/row
# a manifest-side bloom would make the planner state O(table rows).
BLOOM_COLS_PROP = "write.parquet.bloom-filter.columns"  # comma-separated
BLOOM_NDV_PROP = "write.parquet.bloom-filter.expected-ndv"  # per row group

# Iceberg resolves columns by FIELD ID, so rename/drop are pure metadata
# ops; plain parquet resolves by NAME. These two properties carry the
# equivalent bookkeeping (Iceberg's schema.name-mapping.default analogue):
# RENAMES_PROP maps each current column name to the list of prior physical
# names still present in not-yet-rewritten data files (newest first);
# RETIRED_PROP lists names that may never be (re-)added, because old data
# files still carry a physical column by that name and a name-resolved
# read would resurrect the wrong values.
RENAMES_PROP = "schema.name-mapping"  # json: {current: [prior, older, ...]}
RETIRED_PROP = "schema.retired-names"  # json: [name, ...]
DEFAULTS_PROP = "schema.column-defaults"  # json: {col: literal}


def bloom_columns(meta: "TableMetadata") -> list:
    """The columns ``BLOOM_COLS_PROP`` names."""
    cols = str(meta.properties.get(BLOOM_COLS_PROP, "")).split(",")
    return [c.strip() for c in cols if c.strip()]


def bloom_write_options(meta: "TableMetadata") -> dict:
    """DataFrameWriter options implementing the table's bloom properties
    (parquet-mr's ``parquet.bloom.filter.enabled#col`` switches)."""
    ndv = str(meta.properties.get(BLOOM_NDV_PROP, "100000"))
    opts: dict = {}
    for c in bloom_columns(meta):
        opts[f"parquet.bloom.filter.enabled#{c}"] = "true"
        opts[f"parquet.bloom.filter.expected.ndv#{c}"] = ndv
    return opts


@dataclass
class Snapshot:
    snapshot_id: int
    parent_snapshot_id: Optional[int]
    timestamp_ms: int
    operation: str  # append | replace | merge | delete | update | expire
    # manifest LIST (Iceberg-style): the snapshot's file set is the union
    # of these manifest parquets. An append commit writes ONLY a delta
    # manifest and shares its ancestors' manifests, so appending to a
    # 10^8-file table writes O(added files) manifest bytes, not O(table).
    # Rewriting operations (replace/merge/expire) emit one full manifest.
    manifest_paths: list = field(default_factory=list)  # relative to root
    summary: dict = field(default_factory=dict)
    # Merge-on-read positional deletes (Iceberg v2 delete files): parquet
    # files of (path, pos) rows marking data rows as logically deleted.
    # The list is this snapshot's FULL pending set — carried forward by
    # subsequent commits until apply_deletes() materializes them.
    delete_paths: list = field(default_factory=list)  # relative to root
    # Merge-on-read EQUALITY deletes (Iceberg v2's second delete flavor):
    # each entry {"path": <rel parquet of equality-column values>,
    # "cols": [...], "as_of_snapshot_id": N} suppresses every row whose
    # `cols` tuple matches a value row — but ONLY in data files that were
    # already part of the table at `as_of_snapshot_id` (Iceberg sequence-
    # number semantics: a later INSERT of the same key must survive).
    # Like delete_paths, the list is the FULL pending set, carried
    # forward until apply_deletes() materializes it.
    eq_deletes: list = field(default_factory=list)

    @staticmethod
    def from_dict(d: dict) -> "Snapshot":
        d = dict(d)
        # format v1 compat: single `manifest_path` string
        legacy = d.pop("manifest_path", None)
        if legacy is not None and not d.get("manifest_paths"):
            d["manifest_paths"] = [legacy]
        return Snapshot(**d)


@dataclass
class TableMetadata:
    table_uuid: str
    location: str
    schema_ddl: str
    partition_cols: list
    stats_cols: list
    current_snapshot_id: Optional[int]
    snapshots: list  # list[Snapshot]
    properties: dict = field(default_factory=dict)

    def to_json(self) -> str:
        return json.dumps(
            {
                "format_version": 1,
                "table_uuid": self.table_uuid,
                "location": self.location,
                "schema_ddl": self.schema_ddl,
                "partition_cols": self.partition_cols,
                "stats_cols": self.stats_cols,
                "current_snapshot_id": self.current_snapshot_id,
                "snapshots": [vars(s) for s in self.snapshots],
                "properties": self.properties,
            },
            indent=1,
        )

    @staticmethod
    def from_json(text: str) -> "TableMetadata":
        d = json.loads(text)
        return TableMetadata(
            table_uuid=d["table_uuid"],
            location=d["location"],
            schema_ddl=d["schema_ddl"],
            partition_cols=d["partition_cols"],
            stats_cols=d["stats_cols"],
            current_snapshot_id=d["current_snapshot_id"],
            snapshots=[Snapshot.from_dict(s) for s in d["snapshots"]],
            properties=d.get("properties", {}),
        )


class Table:
    """Handle to one lakehouse table directory."""

    def __init__(self, root: str):
        self.root = root
        self.meta_dir = os.path.join(root, "metadata")
        self.data_dir = os.path.join(root, "data")

    # ---------- creation / loading ----------

    @staticmethod
    def create(
        root: str,
        schema_ddl: str,
        partition_cols: Sequence[str] = (),
        stats_cols: Sequence[str] = (),
        properties: Optional[dict] = None,
    ) -> "Table":
        t = Table(root)
        os.makedirs(t.meta_dir, exist_ok=False)
        os.makedirs(t.data_dir, exist_ok=True)
        meta = TableMetadata(
            table_uuid=str(uuid.uuid4()),
            location=root,
            schema_ddl=schema_ddl,
            partition_cols=list(partition_cols),
            stats_cols=list(stats_cols),
            current_snapshot_id=None,
            snapshots=[],
            properties=properties or {},
        )
        t._write_metadata_version(1, meta)
        return t

    @staticmethod
    def load(root: str) -> "Table":
        t = Table(root)
        t.current_version()  # raises if absent
        return t

    def current_version(self) -> int:
        with open(os.path.join(self.meta_dir, "version-hint.text")) as f:
            return int(f.read().strip())

    def metadata(self, version: Optional[int] = None) -> TableMetadata:
        v = version if version is not None else self.current_version()
        with open(os.path.join(self.meta_dir, f"v{v}.metadata.json")) as f:
            return TableMetadata.from_json(f.read())

    def snapshot(self, snapshot_id: Optional[int] = None) -> Snapshot:
        meta = self.metadata()
        sid = snapshot_id if snapshot_id is not None else meta.current_snapshot_id
        if sid is None:
            raise ValueError("table has no snapshots yet")
        for s in meta.snapshots:
            if s.snapshot_id == sid:
                return s
        raise KeyError(f"snapshot {sid} not found (expired?)")

    def snapshot_as_of(self, timestamp_ms: int) -> Snapshot:
        """Time travel: latest snapshot committed at or before the
        timestamp (Iceberg's ``TIMESTAMP AS OF``)."""
        candidates = [
            s for s in self.metadata().snapshots if s.timestamp_ms <= timestamp_ms
        ]
        if not candidates:
            raise KeyError(f"no snapshot at or before {timestamp_ms}")
        return max(candidates, key=lambda s: s.snapshot_id)

    def add_columns(self, ddl: str, defaults: Optional[dict] = None) -> None:
        """Additive schema evolution: append new nullable columns.

        Existing data files simply lack the columns; the explicit-schema
        scan surfaces them as NULL (parquet schema merge by name), so no
        rewrite happens — the Iceberg add-column semantics. Dropping or
        retyping columns is intentionally unsupported (destructive).

        ``defaults`` (Iceberg v3 default-values analogue): ``{col:
        literal}`` for a subset of the added columns. Semantics: the
        column's NULL is not observable — every unset value (files
        written before the column existed, and NULLs written afterwards)
        READS as the default, applied by the single read chokepoint
        (:meth:`read_data`) as ``coalesce(col, default)``. Rewrites
        (compact/cluster/merge) therefore materialize the default
        physically over time, converging to Iceberg's
        initial-default-written state. Because physical NULLs read
        non-null, a defaulted column's manifest stats can no longer
        prove anything — :func:`statable_cols` excludes it from every
        pruning/containment decision (sound: prune less, never wrong).
        """
        from pyspark.sql.types import StructType

        version = self.current_version()
        meta = self.metadata(version)
        # real DDL parse on both sides — naive ','-splitting mis-tokenizes
        # decimal(10,2) / map<k,v> / struct<...> types
        existing = {f.name for f in StructType.fromDDL(meta.schema_ddl).fields}
        new_fields = StructType.fromDDL(ddl).fields
        for f in new_fields:
            if f.name in existing:
                raise ValueError(f"column {f.name!r} already exists")
        retired = set(json.loads(str(meta.properties.get(RETIRED_PROP, "[]"))))
        ren = json.loads(str(meta.properties.get(RENAMES_PROP, "{}")))
        taken = retired | {a for aliases in ren.values() for a in aliases}
        for f in new_fields:
            if f.name in taken:
                raise ValueError(
                    f"column name {f.name!r} was retired by a rename/drop; "
                    "old data files still carry a physical column by that "
                    "name, so re-adding it would resurrect their values"
                )
        if defaults:
            new_names = {f.name for f in new_fields}
            bad = sorted(set(defaults) - new_names)
            if bad:
                raise ValueError(
                    f"defaults for columns not being added: {bad} "
                    "(defaults attach at add-column time only)"
                )
            dfl = json.loads(str(meta.properties.get(DEFAULTS_PROP, "{}")))
            dfl.update({k: v for k, v in defaults.items() if v is not None})
            meta.properties[DEFAULTS_PROP] = json.dumps(dfl)
        meta.schema_ddl = f"{meta.schema_ddl}, {ddl.strip()}"
        self._write_metadata_version(version + 1, meta)

    def _guard_schema_change(self, meta: "TableMetadata", col: str) -> None:
        """Shared rename/drop preconditions."""
        if col in transforms.source_cols(meta.partition_cols):
            raise ValueError(
                f"column {col!r} is a partition source; evolve the "
                "partition spec off it first (set_partition_spec)"
            )
        # delete files reference columns by physical name
        self.refuse_pending_deletes("schema changes")

    def rename_column(self, old: str, new: str) -> None:
        """Metadata-only column rename (Iceberg ALTER TABLE ... RENAME).

        No data file is touched: files written before the rename keep the
        old physical column name, and every data-file read goes through
        :meth:`read_data`, which coalesces the name generations into the
        current logical name. Rewrites (compact/cluster/merge/delete)
        migrate files to the new physical name as a side effect, and the
        mapping entry for a generation disappears once expiry GC has
        removed the last file carrying it (kept indefinitely here — it is
        O(renames) bytes). Manifest stats recorded under the old name
        simply stop pruning (missing stats → keep, sound) until the file
        is rewritten. Renaming a partition source column is refused —
        evolve the spec first; renames while merge-on-read deletes are
        pending are refused (delete files reference physical names). A
        declared write order naming the column is rewritten to the new name.
        """
        from pyspark.sql.types import StructType

        version = self.current_version()
        meta = self.metadata(version)
        fields = StructType.fromDDL(meta.schema_ddl).fields
        names = [f.name for f in fields]
        if old not in names:
            raise KeyError(f"no such column: {old!r}")
        if new in names:
            raise ValueError(f"column {new!r} already exists")
        ren = json.loads(str(meta.properties.get(RENAMES_PROP, "{}")))
        retired = json.loads(str(meta.properties.get(RETIRED_PROP, "[]")))
        taken = set(retired) | {a for aliases in ren.values() for a in aliases}
        if new in taken:
            raise ValueError(
                f"column name {new!r} was retired by a prior rename/drop; "
                "old data files still carry it"
            )
        self._guard_schema_change(meta, old)
        meta.schema_ddl = ", ".join(
            f"{new if f.name == old else f.name} {f.dataType.simpleString()}"
            for f in fields
        )
        # chain renames: files may carry ANY prior generation's name
        ren[new] = [old] + ren.pop(old, [])
        meta.properties[RENAMES_PROP] = json.dumps(ren)
        dfl = json.loads(str(meta.properties.get(DEFAULTS_PROP, "{}")))
        if old in dfl:
            dfl[new] = dfl.pop(old)
            meta.properties[DEFAULTS_PROP] = json.dumps(dfl)
        meta.stats_cols = [new if c == old else c for c in meta.stats_cols]
        order = meta.properties.get(transforms.ORDER_PROP)
        order = transforms.parse_order(order) if order else None
        if order and old in order.cols:
            cols = tuple(new if c == old else c for c in order.cols)
            meta.properties[transforms.ORDER_PROP] = str(
                transforms.WriteOrder(order.curve, cols)
            )
        bloom = bloom_columns(meta)
        if old in bloom:
            meta.properties[BLOOM_COLS_PROP] = ",".join(
                new if c == old else c for c in bloom
            )
        self._write_metadata_version(version + 1, meta)

    def drop_column(self, name: str) -> None:
        """Metadata-only column drop (Iceberg ALTER TABLE ... DROP COLUMN).

        Data files are untouched; the explicit-schema read simply stops
        projecting the column, and rewrites physically shed it over time.
        The name (and every prior name of the column) is retired: it can
        never be re-added, because not-yet-rewritten files still carry a
        physical column by that name and a name-resolved read would
        resurrect the old values (Iceberg avoids this with field ids).
        Partition sources, and columns the declared write order names,
        must be evolved off first; pending merge-on-read deletes must be
        applied first.
        """
        from pyspark.sql.types import StructType

        version = self.current_version()
        meta = self.metadata(version)
        fields = StructType.fromDDL(meta.schema_ddl).fields
        if name not in [f.name for f in fields]:
            raise KeyError(f"no such column: {name!r}")
        if len(fields) == 1:
            raise ValueError("cannot drop the last column")
        self._guard_schema_change(meta, name)
        order = meta.properties.get(transforms.ORDER_PROP)
        if order and name in transforms.parse_order(order).cols:
            raise ValueError(f"column {name!r} is in the write order {order!r}")
        ren = json.loads(str(meta.properties.get(RENAMES_PROP, "{}")))
        retired = json.loads(str(meta.properties.get(RETIRED_PROP, "[]")))
        retired = sorted(set(retired) | {name} | set(ren.pop(name, [])))
        meta.schema_ddl = ", ".join(
            f"{f.name} {f.dataType.simpleString()}" for f in fields if f.name != name
        )
        meta.properties[RENAMES_PROP] = json.dumps(ren)
        meta.properties[RETIRED_PROP] = json.dumps(retired)
        dfl = json.loads(str(meta.properties.get(DEFAULTS_PROP, "{}")))
        if name in dfl:
            del dfl[name]
            meta.properties[DEFAULTS_PROP] = json.dumps(dfl)
        meta.stats_cols = [c for c in meta.stats_cols if c != name]
        meta.properties[BLOOM_COLS_PROP] = ",".join(
            c for c in bloom_columns(meta) if c != name
        )
        self._write_metadata_version(version + 1, meta)

    def empty_relation(self, spark: SparkSession, schema=None) -> DataFrame:
        """Zero-row relation with the table schema that STILL resolves
        ``_metadata`` (a parquet read over a guaranteed-empty directory).
        Every no-files plan (empty scan, fully-pruned scan, empty
        changes/delta_scan) returns this instead of ``createDataFrame([])``
        so downstream projections of ``_metadata.file_path`` — the merge/
        delete probe's rel-path column — analyze identically whether the
        candidate set is empty or not."""
        from pyspark.sql.types import StructType

        sch = (
            schema
            if schema is not None
            else StructType.fromDDL(self.metadata().schema_ddl)
        )
        d = os.path.join(self.root, "metadata", ".empty")
        try:
            os.makedirs(d, exist_ok=True)
        except OSError:
            # read-only storage: degrade to the in-memory empty frame —
            # plain column reads still work; only `_metadata` projections
            # (merge/delete probes, which WRITE anyway) need the parquet
            # relation, and those paths cannot run on read-only roots
            if isinstance(sch, str):
                sch = StructType.fromDDL(sch)
            return spark.createDataFrame([], sch)
        return spark.read.schema(sch).parquet(d)

    def read_data(
        self, spark: SparkSession, paths: Sequence[str], meta=None
    ) -> DataFrame:
        """Read ABSOLUTE data-file paths with the table's logical schema.

        The single chokepoint every engine data-file read goes through.
        With no rename history this is exactly the plain explicit-schema
        parquet read (zero overhead). With renames, the read schema also
        carries each column's prior physical names and the logical column
        becomes ``coalesce(current, prior, older...)`` — parquet's
        name-based resolution yields NULL for whichever generations a
        given file lacks, so every file contributes exactly its own
        generation. ``_metadata`` stays resolvable through the projection
        (merge-on-read delete application relies on it)."""
        from pyspark.sql.types import StructField, StructType

        meta = meta if meta is not None else self.metadata()
        schema = StructType.fromDDL(meta.schema_ddl)
        dfl = json.loads(str(meta.properties.get(DEFAULTS_PROP, "{}")))

        def _with_defaults(df: DataFrame) -> DataFrame:
            # column defaults: NULL is unobservable — unset values (files
            # predating the column, or NULLs written later) read as the
            # default; `_metadata` stays resolvable through the select
            if not dfl:
                return df
            return df.select(
                *[
                    F.coalesce(
                        F.col(f.name), F.lit(dfl[f.name]).cast(f.dataType)
                    ).alias(f.name)
                    if f.name in dfl
                    else F.col(f.name)
                    for f in schema.fields
                ]
            )

        ren = {
            k: v
            for k, v in json.loads(
                str(meta.properties.get(RENAMES_PROP, "{}"))
            ).items()
            if v
        }
        if not ren:
            return _with_defaults(spark.read.schema(schema).parquet(*paths))
        by_name = {f.name: f for f in schema.fields}
        extra = [
            StructField(alias, by_name[cur].dataType, True)
            for cur, aliases in sorted(ren.items())
            if cur in by_name
            for alias in aliases
        ]
        raw = spark.read.schema(StructType(list(schema.fields) + extra)).parquet(
            *paths
        )
        return _with_defaults(
            raw.select(
                *[
                    F.coalesce(f.name, *ren[f.name]).alias(f.name)
                    if f.name in ren
                    else F.col(f.name)
                    for f in schema.fields
                ]
            )
        )

    def set_partition_spec(self, partition_cols: Sequence[str]) -> None:
        """Partition-spec evolution (Iceberg-style, metadata-only).

        Because partitioning here is METADATA partitioning (per-file
        min/max + partition_json in the manifest, no directory layout),
        evolving the spec rewrites nothing: files written under the old
        spec keep their old stats and are simply never pruned on the new
        partition column (missing stats → keep, sound); files written
        after the change collect stats for — and route by — the new
        spec. This is exactly Iceberg's split-planning behavior across
        spec ids. Columns must exist in the schema; pass the FULL new
        spec (it replaces, not appends)."""
        from pyspark.sql.types import StructType

        version = self.current_version()
        meta = self.metadata(version)
        fields = {f.name for f in StructType.fromDDL(meta.schema_ddl).fields}
        # entries may be hidden-partitioning transforms — parse validates
        # the syntax, and the TRANSFORM SOURCE columns must exist
        missing = [
            c for c in transforms.source_cols(partition_cols) if c not in fields
        ]
        if missing:
            raise KeyError(f"partition source columns not in schema: {missing}")
        meta.partition_cols = list(partition_cols)
        self._write_metadata_version(version + 1, meta)

    def write_order(self) -> Optional[transforms.WriteOrder]:
        """The order every layout writer writes in: the declared ``sort.order``,
        else ``transforms.default_order`` (None when that has none either)."""
        from pyspark.sql.types import StructType

        meta = self.metadata()
        declared = meta.properties.get(transforms.ORDER_PROP)
        if declared:
            return transforms.parse_order(str(declared))
        fields = StructType.fromDDL(meta.schema_ddl).fields
        return transforms.default_order(f.name for f in fields)

    def set_properties(self, props: dict) -> None:
        """Upsert table properties (Iceberg ALTER TABLE … SET TBLPROPERTIES).

        Metadata-only version bump; a value of ``None`` unsets the key
        (UNSET TBLPROPERTIES). Reserved engine keys (``branch.*``,
        ``ref.*`` — managed by the branch/tag APIs) are refused so a
        property write can't silently move a ref head."""
        version = self.current_version()
        meta = self.metadata(version)
        for k in props:
            if k.startswith(("branch.", "ref.")):
                raise ValueError(
                    f"property {k!r} is a managed ref; use tag()/"
                    "create_branch()/drop_* instead"
                )
            if k.startswith("constraint."):
                raise ValueError(
                    f"property {k!r} is managed; use add_constraint() / "
                    "drop_constraint() (existing data must be validated)"
                )
        for k, v in props.items():
            if v is None:
                meta.properties.pop(k, None)
            else:
                meta.properties[k] = str(v)
        self._write_metadata_version(version + 1, meta)

    # ---------- type widening (Iceberg type promotion) ----------

    _WIDEN_INT_ORDER = ("tinyint", "smallint", "int", "bigint")

    def widen_column(
        self, name: str, new_type: str, spark: Optional[SparkSession] = None
    ) -> None:
        """Iceberg-style type promotion: widen a column to a superset
        type (int family → any wider int, float → double). For DATA this
        is metadata-only — the parquet reader upcasts narrow physical
        files under the widened read schema, so no file is rewritten and
        later rewrites migrate files physically as a side effect. The
        MANIFEST STATS columns, however, are normalized to the widened
        type FIRST in one physical-only replace commit: Spark's
        mergeSchema manifest read cannot reconcile an int32 ``min_<c>``
        in an old manifest with the int64 one a post-widen append would
        write. Crash between the two steps leaves widened stats under
        the old schema — wider stats describing narrower data prune
        soundly, so the order is safe. Old snapshots keep their own
        (homogeneous) manifests; time travel is unaffected.

        ``spark``: required only when the manifest exceeds the planner
        threshold — the stats cast then runs as a Spark job and the
        manifest never materializes on the driver."""
        from pyspark.sql.types import StructType

        new_t = new_type.strip().lower()
        meta = self.metadata()
        fields = StructType.fromDDL(meta.schema_ddl).fields
        cur_map = {f.name: f.dataType.simpleString() for f in fields}
        if name not in cur_map:
            raise KeyError(f"unknown column {name!r}")
        cur_t = cur_map[name]
        ints = self._WIDEN_INT_ORDER
        ok = (
            cur_t in ints
            and new_t in ints
            and ints.index(new_t) > ints.index(cur_t)
        ) or (cur_t == "float" and new_t == "double")
        if not ok:
            raise ValueError(
                f"cannot widen {name!r}: {cur_t} -> {new_t} (allowed: "
                f"int family -> wider int, float -> double)"
            )
        if meta.current_snapshot_id is not None:
            stat_cols = (f"min_{name}", f"max_{name}")
            if self.manifest_rows() > SPARK_MANIFEST_THRESHOLD:
                if spark is None:
                    raise ValueError(
                        "manifest exceeds the planner threshold: pass a "
                        "SparkSession so the stats cast runs distributed"
                    )
                mdf = self.manifest_df(spark)
                present = [c for c in stat_cols if c in mdf.columns]
                if present:
                    for c in present:
                        mdf = mdf.withColumn(c, F.col(c).cast(new_t))
                    self.commit(
                        "replace",
                        pd.DataFrame(),
                        {"stage": "widen_column_manifests", "column": name,
                         "to": new_t},
                        manifests=self._write_manifest_parts(mdf, "wd"),
                    )
            else:
                man = self.manifest_pdf()
                present = [c for c in stat_cols if c in man.columns]
                if present:
                    dtype = {
                        "smallint": "Int16", "int": "Int32",
                        "bigint": "Int64", "double": "float64",
                    }[new_t]
                    man = man.copy()
                    for c in present:
                        man[c] = man[c].astype(dtype)
                    self.commit(
                        "replace", man,
                        {"stage": "widen_column_manifests", "column": name,
                         "to": new_t},
                    )
        version = self.current_version()
        meta = self.metadata(version)
        new_ddl = ", ".join(
            f"{f.name} {new_t if f.name == name else f.dataType.simpleString()}"
            for f in StructType.fromDDL(meta.schema_ddl).fields
        )
        meta.schema_ddl = new_ddl
        self._write_metadata_version(version + 1, meta)

    # ---------- CHECK constraints ----------

    def constraints(self) -> dict:
        """Active CHECK constraints: {name: condition_sql}."""
        return {
            k[len("constraint."):]: v
            for k, v in self.metadata().properties.items()
            if k.startswith("constraint.")
        }

    def add_constraint(
        self, spark: SparkSession, name: str, condition_sql: str
    ) -> None:
        """Delta-style table CHECK constraint (``ALTER TABLE … ADD
        CONSTRAINT <name> CHECK (<expr>)``): every subsequent data-file
        write evaluates the condition row-level inside the write job
        (SQL tri-state — NULL passes, only FALSE violates) and fails the
        write on a violation. Like Delta, ADDING the constraint first
        validates the EXISTING table data with one predicate-only scan;
        a table whose history already violates the condition refuses the
        constraint rather than leaving enforcement half-true."""
        if not re.match(r"^[A-Za-z_]\w*$", name):
            raise ValueError(f"invalid constraint name {name!r}")
        if name in self.constraints():
            raise ValueError(f"constraint {name!r} already exists")
        cond = F.expr(condition_sql)
        if self.metadata().current_snapshot_id is not None:
            bad = (
                self.scan(spark)
                .filter(~F.coalesce(cond, F.lit(True)))
                .limit(1)
                .count()
            )
            if bad:
                raise ValueError(
                    f"existing rows violate CHECK ({condition_sql}); "
                    f"constraint {name!r} not added"
                )
        else:
            # no data yet: still resolve the expression against the
            # declared schema so a typo fails now, not at first write
            self.empty_relation(spark).filter(cond)
        version = self.current_version()
        meta = self.metadata(version)
        meta.properties[f"constraint.{name}"] = condition_sql
        self._write_metadata_version(version + 1, meta)

    def drop_constraint(self, name: str) -> None:
        """Remove a CHECK constraint (metadata-only)."""
        if name not in self.constraints():
            raise KeyError(f"unknown constraint {name!r}")
        version = self.current_version()
        meta = self.metadata(version)
        meta.properties.pop(f"constraint.{name}", None)
        self._write_metadata_version(version + 1, meta)

    # ---------- manifests ----------

    def manifest_abs_paths(self, snapshot_id: Optional[int] = None) -> list:
        """Absolute paths of the snapshot's manifest list."""
        s = self.snapshot(snapshot_id)
        return [os.path.join(self.root, p) for p in s.manifest_paths]

    def manifest_rows(self, snapshot_id: Optional[int] = None) -> int:
        """Manifest entry count (= data-file count) from parquet footers —
        no manifest read; drives the pandas-vs-Spark planner split."""
        return sum(
            pq.ParquetFile(p).metadata.num_rows
            for p in self.manifest_abs_paths(snapshot_id)
        )

    def manifest_pdf(self, snapshot_id: Optional[int] = None) -> pd.DataFrame:
        """Manifest as pandas (planner-side). Columns: MANIFEST_BASE_COLS +
        min_<c>/max_<c>/nulls_<c> per stats column."""
        parts = [
            pq.read_table(p).to_pandas()
            for p in self.manifest_abs_paths(snapshot_id)
        ]
        return parts[0] if len(parts) == 1 else pd.concat(parts, ignore_index=True)

    def manifest_df(self, spark: SparkSession, snapshot_id: Optional[int] = None) -> DataFrame:
        """Manifest as a Spark DataFrame (the ≥ SPARK_MANIFEST_THRESHOLD path).

        ``mergeSchema``: manifests written before a partition-spec or
        stats-spec evolution lack the newer min/max columns — the merged
        read surfaces them as NULL, which the pruners treat as
        "no stats → keep" (sound)."""
        return (
            spark.read.option("mergeSchema", "true")
            .parquet(*self.manifest_abs_paths(snapshot_id))
        )

    def _write_manifest(self, snapshot_id: int, entries: pd.DataFrame) -> str:
        rel = os.path.join("metadata", f"manifest-{snapshot_id}.parquet")
        tbl = pa.Table.from_pandas(entries, preserve_index=False)
        # an ALL-NULL stats column (e.g. min_v of a file whose v is
        # entirely null) infers arrow's `null` type, which Spark's
        # mergeSchema manifest read cannot reconcile with the typed
        # column in sibling manifests — promote to the TABLE column's
        # type (min_/max_ of col c carry c's type; nulls_/counts int64)
        null_cols = [f_.name for f_ in tbl.schema if pa.types.is_null(f_.type)]
        if null_cols:
            types = _ddl_arrow_types(self.metadata().schema_ddl)
            for name in null_cols:
                if name.startswith(("min_", "max_")):
                    t = types.get(name.split("_", 1)[1], pa.string())
                else:
                    t = pa.int64()
                i = tbl.schema.get_field_index(name)
                tbl = tbl.set_column(
                    i, pa.field(name, t), pa.nulls(len(tbl), t)
                )
        # write-then-link: a concurrent writer racing to the same snapshot
        # id must never OVERWRITE a manifest the winner's commit already
        # references — os.link fails on an existing target, and the loser
        # falls back to a uniquified name (its commit CAS will also retry)
        tmp = os.path.join(
            self.root, "metadata", f".manifest-{uuid.uuid4().hex}.tmp"
        )
        pq.write_table(tbl, tmp)
        try:
            os.link(tmp, os.path.join(self.root, rel))
        except FileExistsError:
            rel = os.path.join(
                "metadata", f"manifest-{snapshot_id}-{uuid.uuid4().hex[:8]}.parquet"
            )
            os.link(tmp, os.path.join(self.root, rel))
        finally:
            os.unlink(tmp)
        return rel

    # ---------- commit protocol ----------

    def _write_metadata_version(self, version: int, meta: TableMetadata) -> None:
        mpath = os.path.join(self.meta_dir, f"v{version}.metadata.json")
        with open(mpath, "x") as f:  # 'x': fail loudly if version exists
            f.write(meta.to_json())
        tmp = os.path.join(self.meta_dir, f".version-hint.{uuid.uuid4().hex}.tmp")
        with open(tmp, "w") as f:
            f.write(str(version))
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, os.path.join(self.meta_dir, "version-hint.text"))

    def commit(
        self,
        operation: str,
        new_manifest: pd.DataFrame,
        summary: Optional[dict] = None,
        properties: Optional[dict] = None,
        stage_only: bool = False,
        wap_id: Optional[str] = None,
        branch: Optional[str] = None,
        max_retries: int = 5,
        txn: Optional[tuple] = None,
        manifests: Optional[tuple] = None,
        swap: Optional["FileSwap"] = None,
    ) -> Snapshot:
        """Commit with optimistic concurrency (Iceberg's commit protocol).
        The metadata-version CAS (``open(…, "x")``) detects a concurrent
        writer, and one rebase rule decides what follows — Delta's
        WriteSerializable level, where blind appends commute with every
        operation. An ``append`` rebases onto the new head. A ``swap``
        commit (the ``FileSwap`` delta every other write commits) rebases
        when every snapshot since its base is an ``append``, and raises
        :class:`CommitConflictError` otherwise, also when the base has
        expired; the caller re-plans against the new head. The rule runs
        on every attempt, so it also catches a writer that landed between
        planning and commit. Rebases retry up to ``max_retries`` times. A
        commit carrying a full file list of its own raises on a lost CAS.

        ``txn=(property_name, version)``: idempotent-sink validation —
        the commit aborts with :class:`TxnAlreadyCommittedError` if the
        named table property is already ≥ ``version`` AT COMMIT TIME.
        Because the check re-runs inside every CAS attempt against the
        freshly-read metadata, two concurrent writers replaying the same
        (txnAppId, batchId) cannot both commit: the loser's CAS fails,
        its retry re-reads the winner's property, and it aborts."""
        additive = operation == "append" or swap is not None
        attempts = max(1, max_retries + 1) if additive else 1
        last: Optional[BaseException] = None
        for _ in range(attempts):
            try:
                return self._commit_once(
                    operation, new_manifest, summary, properties, stage_only,
                    wap_id, branch, txn, manifests, swap,
                )
            except FileExistsError as e:
                last = e
                if not additive:
                    raise CommitConflictError(
                        f"{operation!r} commit lost a race with a concurrent "
                        f"writer; re-plan against the new table head"
                    ) from e
                time.sleep(0.01 * (1 + (uuid.uuid4().int & 7)))
        raise CommitConflictError(
            f"{operation!r} commit still conflicting after {attempts} attempts"
        ) from last

    def _commit_once(
        self, operation, new_manifest, summary, properties, stage_only,
        wap_id, branch, txn, manifests, swap,
    ) -> Snapshot:
        """One attempt of ``commit``: the next snapshot (atomic).

        ``operation == "append"``: ``new_manifest`` holds only the ADDED
        files; they are written as a DELTA manifest and the snapshot's
        manifest LIST shares every ancestor manifest — an append to a
        10^8-file table writes O(added) manifest bytes. Any other
        operation without a ``swap`` (replace/expire): ``new_manifest``
        IS the full new file list, written as a single fresh manifest.

        ``swap``: ``new_manifest`` holds the files the ``FileSwap`` adds.
        With no dropped file the snapshot is append-style (a delta
        manifest, or the parent's manifest list shared verbatim when
        nothing is added); otherwise one fresh manifest holds the head's
        files minus the dropped plus the added. Its delete sets are the
        head's minus the retired plus the added; every other commit
        carries the parent's forward.

        ``properties`` are merged into the table properties in the SAME
        metadata version — the non-prunable state streaming sinks use for
        per-app transaction versions (snapshot summaries can be expired;
        properties survive every expiry).

        ``stage_only`` (write-audit-publish): the snapshot is written to
        the log but the current pointer does NOT move — readers keep
        seeing the pre-commit table while an audit job scans the staged
        snapshot by id (``scan(snapshot_id=...)``) and runs its quality
        gate. ``publish()`` then fast-forwards (or cherry-picks an
        append) to make it visible. Iceberg's ``spark.wap.id`` staged
        commit. ``wap_id`` is the audit handle recorded in the summary.

        ``manifests=(paths, totals)``: the full file list is ALREADY
        WRITTEN as the manifest files ``paths`` (a Spark re-shard,
        ``_write_manifest_parts``) whose file / record / byte totals are
        ``totals``; ``new_manifest`` must be empty — the entry rows never
        pass through the driver.

        ``branch``: commit onto the named branch (``create_branch``)
        instead of ``main`` — the snapshot parents on the BRANCH head and
        only the ``branch.<name>`` pointer advances; readers of main see
        nothing until ``fast_forward``. Iceberg branch-write semantics
        (``write.branch``); mutually exclusive with ``stage_only`` (WAP
        staging is the single-commit special case of a branch).
        """
        version = self.current_version()
        meta = self.metadata(version)
        if txn is not None:
            txn_prop, txn_version = txn
            if int(meta.properties.get(str(txn_prop), -1)) >= int(txn_version):
                raise TxnAlreadyCommittedError(
                    f"{txn_prop}={txn_version} already committed "
                    f"(duplicate idempotent-sink replay)"
                )
        if branch is not None:
            if stage_only:
                raise ValueError("branch commits and stage_only are exclusive")
            head_id = self._branch_head(meta, branch)
        else:
            head_id = meta.current_snapshot_id
        snaps = {s.snapshot_id: s for s in meta.snapshots}
        parent = snaps.get(head_id)
        delete_paths = list(parent.delete_paths) if parent else []
        eq_deletes = [dict(e) for e in parent.eq_deletes] if parent else []
        if swap is not None:
            at = head_id
            while at != swap.base and at in snaps and snaps[at].operation == "append":
                at = snaps[at].parent_snapshot_id
            if at != swap.base or (at is not None and at not in snaps):
                raise CommitConflictError(
                    f"{operation!r} commit planned on snapshot {swap.base}, but "
                    f"a non-append commit has moved the table since (or that "
                    f"snapshot expired); re-plan against the new table head"
                )
            gone = {p for f in swap.dropped for p in f["path"]}
            if gone:
                man = swap.man if head_id == swap.base else self.manifest_pdf(head_id)
                frames = [man[~man["path"].isin(gone)], new_manifest]
                # empty frames are left out of the concat (their dtypes
                # would leak into the manifest)
                new_manifest = pd.concat(
                    [f for f in frames if len(f)] or frames[:1], ignore_index=True
                )
            delete_paths = [p for p in delete_paths if p not in swap.retired]
            delete_paths += swap.delete_paths
            eq_deletes = [e for e in eq_deletes if e["path"] not in swap.retired]
            eq_deletes += swap.eq_deletes
        if properties:
            meta.properties.update({str(k): str(v) for k, v in properties.items()})
        # next id = max over HISTORY, not current+1: after rollback() the
        # current pointer sits on an old snapshot while later ids still
        # exist in the log — current+1 would overwrite their manifests
        sid = max(snaps, default=0) + 1
        added_records = int(new_manifest["record_count"].sum()) if len(new_manifest) else 0
        added_bytes = int(new_manifest["file_size_bytes"].sum()) if len(new_manifest) else 0
        if manifests is not None:
            manifest_paths, totals = list(manifests[0]), dict(manifests[1])
        elif (
            operation == "append" or (swap is not None and not gone)
        ) and parent is not None:
            manifest_paths = list(parent.manifest_paths)
            if len(new_manifest):
                manifest_paths.append(self._write_manifest(sid, new_manifest))
            ps = parent.summary
            if "added_or_total_files" in ps:
                total_files = int(ps["added_or_total_files"])
            else:  # snapshot from an external writer: count the footers
                total_files = self.manifest_rows(parent.snapshot_id)
            totals = dict(
                added_or_total_files=total_files + int(len(new_manifest)),
                total_records=int(ps.get("total_records", 0)) + added_records,
                total_bytes=int(ps.get("total_bytes", 0)) + added_bytes,
            )
        else:
            manifest_paths = [self._write_manifest(sid, new_manifest)]
            totals = dict(
                added_or_total_files=int(len(new_manifest)),
                total_records=added_records,
                total_bytes=added_bytes,
            )
        extra = {"staged": "true", "wap.id": wap_id or ""} if stage_only else {}
        snap = Snapshot(
            snapshot_id=sid,
            parent_snapshot_id=head_id,
            timestamp_ms=int(time.time() * 1000),
            operation=operation,
            manifest_paths=manifest_paths,
            summary=dict(summary or {}, **totals, **extra),
            delete_paths=delete_paths,
            eq_deletes=eq_deletes,
        )
        meta.snapshots.append(snap)
        if branch is not None:
            meta.properties[f"branch.{branch}"] = str(sid)
        elif not stage_only:
            meta.current_snapshot_id = sid
        self._write_metadata_version(version + 1, meta)
        return snap

    def rewrite_manifests(
        self,
        min_manifests: int = 2,
        spark: Optional[SparkSession] = None,
    ) -> Optional[Snapshot]:
        """Compact the current snapshot's manifest LIST into one manifest
        (Iceberg's ``rewriteManifests``): long append chains accumulate one
        delta manifest per commit, which taxes every scan's footer reads.
        Physical metadata reorganization only — committed as a ``replace``
        so incremental consumers (``changes``) correctly see no new rows,
        and the pending delete sets carry over unchanged.
        No-op (returns None) when the list is already small.

        Same planner split as scan and expire: below
        ``SPARK_MANIFEST_THRESHOLD`` entries the rewrite is a driver-side
        pandas concat; above it (``spark`` given) the manifest is
        re-sharded BY SPARK into ``MANIFEST_PART_ROWS``-row parquet parts
        — a 10^8-file manifest (~10 GB) never materializes on the
        driver."""
        s = self.snapshot()
        if len(s.manifest_paths) < max(2, min_manifests):
            return None
        summary = {"stage": "rewrite_manifests", "manifests_in": len(s.manifest_paths)}
        if spark is None or self.manifest_rows() <= SPARK_MANIFEST_THRESHOLD:
            return self.commit("replace", self.manifest_pdf(), summary)
        return self.commit(
            "replace",
            pd.DataFrame(),
            dict(summary, spark_path="true"),
            manifests=self._write_manifest_parts(self.manifest_df(spark), "rw"),
        )

    def _write_manifest_parts(self, mdf: DataFrame, tag: str) -> tuple:
        """Re-shard the manifest frame ``mdf`` BY SPARK into
        ``MANIFEST_PART_ROWS``-row parquet parts under a fresh
        ``metadata/manifest-<tag>-<uuid>/``; returns ``commit``'s
        ``manifests`` argument: (part paths, snapshot totals)."""
        tot = mdf.agg(
            F.count("*").alias("files"),
            F.sum("record_count").alias("records"),
            F.sum("file_size_bytes").alias("bytes"),
        ).collect()[0]
        n_parts = max(1, -(-int(tot["files"]) // MANIFEST_PART_ROWS))
        rel_dir = os.path.join("metadata", f"manifest-{tag}-{uuid.uuid4().hex}")
        mdf.repartition(n_parts).write.parquet(os.path.join(self.root, rel_dir))
        rel_paths = sorted(
            os.path.join(rel_dir, f)
            for f in os.listdir(os.path.join(self.root, rel_dir))
            if f.endswith(".parquet")
        )
        return rel_paths, dict(
            added_or_total_files=int(tot["files"]),
            total_records=int(tot["records"] or 0),
            total_bytes=int(tot["bytes"] or 0),
        )

    # ---------- named refs (tags) ----------

    def tag(self, name: str, snapshot_id: Optional[int] = None) -> int:
        """Iceberg-style named ref: pin a snapshot under ``ref.<name>``
        (default: the current snapshot). Tagged snapshots are RETAINED by
        ``expire_snapshots`` regardless of its keep policy — the audit /
        reproducibility handle ("the snapshot we trained run X on").
        Metadata-only version bump; no snapshot is created."""
        version = self.current_version()
        meta = self.metadata(version)
        sid = snapshot_id if snapshot_id is not None else meta.current_snapshot_id
        if sid not in {s.snapshot_id for s in meta.snapshots}:
            raise KeyError(f"snapshot {sid} not in table history")
        meta.properties[f"ref.{name}"] = str(sid)
        self._write_metadata_version(version + 1, meta)
        return sid

    def column_stats(self) -> Optional[dict]:
        """Column statistics persisted by ``operators.analyze_table``
        (Iceberg ANALYZE/Puffin analogue), or None if never analyzed.
        ``stale`` is True when the table advanced past the snapshot the
        stats were computed at — consumers decide whether approximate
        planner stats may lag (usually yes) or must be recomputed."""
        meta = self.metadata()
        raw = meta.properties.get("stats.columns")
        if raw is None:
            return None
        sid = int(meta.properties.get("stats.snapshot-id", -1))
        return {
            "columns": json.loads(str(raw)),
            "snapshot_id": sid,
            "row_count": int(meta.properties.get("stats.row-count", -1)),
            "analyzed_at_ms": int(meta.properties.get("stats.analyzed-at-ms", 0)),
            "stale": sid != meta.current_snapshot_id,
        }

    def drop_tag(self, name: str) -> None:
        version = self.current_version()
        meta = self.metadata(version)
        if meta.properties.pop(f"ref.{name}", None) is None:
            raise KeyError(f"no tag {name!r}")
        self._write_metadata_version(version + 1, meta)

    def ref(self, name: str) -> int:
        """Snapshot id a tag points at (scan it via
        ``scan(snapshot_id=table.ref(name))``)."""
        v = self.metadata().properties.get(f"ref.{name}")
        if v is None:
            raise KeyError(f"no tag {name!r}")
        return int(v)

    def tags(self) -> dict:
        """All named refs: {name: snapshot_id}."""
        return {
            k[len("ref."):]: int(v)
            for k, v in self.metadata().properties.items()
            if k.startswith("ref.")
        }

    # ---------- named refs (branches) ----------

    def _branch_head(self, meta: "TableMetadata", name: str) -> int:
        v = meta.properties.get(f"branch.{name}")
        if v is None:
            raise KeyError(f"no branch {name!r}")
        return int(v)

    def create_branch(self, name: str, snapshot_id: Optional[int] = None) -> int:
        """Iceberg-style branch: an independently-advancing named head.
        Commits target it with ``commit(..., branch=name)``; readers pin
        it via ``scan(branch=name)``; ``fast_forward`` publishes it into
        main. Starts at ``snapshot_id`` (default: current). Branch-
        reachable files are protected from ``expire_snapshots`` GC while
        the branch exists. Metadata-only; no snapshot is created."""
        version = self.current_version()
        meta = self.metadata(version)
        if f"branch.{name}" in meta.properties:
            raise ValueError(f"branch {name!r} already exists")
        sid = snapshot_id if snapshot_id is not None else meta.current_snapshot_id
        if sid not in {s.snapshot_id for s in meta.snapshots}:
            raise KeyError(f"snapshot {sid} not in table history")
        meta.properties[f"branch.{name}"] = str(sid)
        self._write_metadata_version(version + 1, meta)
        return int(sid)

    def drop_branch(self, name: str) -> None:
        """Remove the branch pointer. Snapshots that only the branch
        reached become expirable — the next ``expire_snapshots`` GCs the
        abandoned branch's files."""
        version = self.current_version()
        meta = self.metadata(version)
        if meta.properties.pop(f"branch.{name}", None) is None:
            raise KeyError(f"no branch {name!r}")
        self._write_metadata_version(version + 1, meta)

    def branch_head(self, name: str) -> int:
        """Snapshot id the branch head points at."""
        return self._branch_head(self.metadata(), name)

    def branches(self) -> dict:
        """All branches: {name: head snapshot_id}."""
        return {
            k[len("branch."):]: int(v)
            for k, v in self.metadata().properties.items()
            if k.startswith("branch.")
        }

    def fast_forward(self, name: str) -> Snapshot:
        """Publish a branch into main (Iceberg ``fast_forward``): move the
        current pointer to the branch head, REQUIRING that main is an
        ancestor of it — i.e. main gained no commits since the branch was
        cut, so the branch's snapshots linearize onto main verbatim. A
        diverged main raises (a branch of appends can instead be replayed
        commit-by-commit with ``publish``-style cherry-picks; rewrites
        cannot, their manifests encode the branch parent's file set).
        Metadata-only."""
        version = self.current_version()
        meta = self.metadata(version)
        head = self._branch_head(meta, name)
        by_id = {s.snapshot_id: s for s in meta.snapshots}
        sid: Optional[int] = head
        on_chain = False
        while sid is not None and sid in by_id:
            if sid == meta.current_snapshot_id:
                on_chain = True
                break
            sid = by_id[sid].parent_snapshot_id
        if not (on_chain or meta.current_snapshot_id is None):
            raise ValueError(
                f"main diverged from branch {name!r}: snapshot "
                f"{meta.current_snapshot_id} is not an ancestor of the "
                f"branch head {head}"
            )
        meta.current_snapshot_id = head
        self._write_metadata_version(version + 1, meta)
        return self.snapshot(head)

    def rollback(self, snapshot_id: int) -> Snapshot:
        """Iceberg-style rollback: a NEW metadata version whose current
        pointer returns to an earlier snapshot. History is preserved —
        time travel still reads the rolled-back snapshots until
        ``expire_snapshots`` reaps them — and the next ``commit`` branches
        from here with a fresh (never-reused) snapshot id."""
        version = self.current_version()
        meta = self.metadata(version)
        if snapshot_id not in {s.snapshot_id for s in meta.snapshots}:
            raise KeyError(f"unknown snapshot {snapshot_id}")
        meta.current_snapshot_id = int(snapshot_id)
        self._write_metadata_version(version + 1, meta)
        return self.snapshot(snapshot_id)

    # ---------- write-audit-publish (staged commits) ----------

    def staged_snapshots(self) -> list:
        """Unpublished staged snapshots (``commit(stage_only=True)``),
        oldest first."""
        return [
            s
            for s in self.metadata().snapshots
            if s.summary.get("staged") == "true"
        ]

    def _find_staged(self, wap_id: Optional[str], snapshot_id: Optional[int]) -> Snapshot:
        staged = self.staged_snapshots()
        if snapshot_id is not None:
            for s in staged:
                if s.snapshot_id == snapshot_id:
                    return s
            raise KeyError(f"snapshot {snapshot_id} is not staged")
        if wap_id:
            hits = [s for s in staged if s.summary.get("wap.id") == wap_id]
            if not hits:
                raise KeyError(f"no staged snapshot with wap.id {wap_id!r}")
            if len(hits) > 1:
                raise ValueError(f"wap.id {wap_id!r} is ambiguous ({len(hits)} staged)")
            return hits[0]
        raise ValueError("publish() needs wap_id or snapshot_id")

    def _own_delta_pdf(self, s: Snapshot) -> pd.DataFrame:
        """Manifest rows ADDED BY snapshot ``s`` itself. An append commit
        writes exactly one delta manifest named with its own snapshot id —
        identifiable even after the parent expired (expiry pins a staged
        snapshot, not its ancestry)."""
        own = (f"manifest-{s.snapshot_id}.parquet", f"manifest-{s.snapshot_id}-")
        delta = [
            p
            for p in s.manifest_paths
            if os.path.basename(p) == own[0]
            or os.path.basename(p).startswith(own[1])
        ]
        if not delta:
            return pd.DataFrame(columns=MANIFEST_BASE_COLS)
        return pd.concat(
            [pq.read_table(os.path.join(self.root, p)).to_pandas() for p in delta],
            ignore_index=True,
        )

    def delta_scan(
        self,
        spark: SparkSession,
        snapshot_id: int,
        columns: Optional[Sequence[str]] = None,
    ) -> DataFrame:
        """Read ONLY the rows an append snapshot added — the audit surface
        of write-audit-publish: the gate profiles the staged delta, not
        staged-delta ∪ all-prior-data (whose errors are already
        published history). Works on staged and published appends alike."""
        s = self.snapshot(snapshot_id)
        if s.operation != "append":
            raise ValueError(
                f"delta_scan reads append deltas; snapshot {snapshot_id} "
                f"is a {s.operation!r} (rewrites add no logical rows)"
            )
        pdf = self._own_delta_pdf(s)
        if pdf.empty:
            empty = self.empty_relation(spark)
            return empty.select(*columns) if columns else empty
        df = self.read_data(
            spark, [os.path.join(self.root, p) for p in pdf["path"]]
        )
        return df.select(*columns) if columns else df

    def drop_staged(
        self,
        wap_id: Optional[str] = None,
        snapshot_id: Optional[int] = None,
    ) -> Snapshot:
        """Abandon a staged snapshot that failed its audit: remove it from
        the snapshot log so its files become unreachable. Physical cleanup
        is the existing orphan sweep's job (``remove_orphan_files``) —
        dropping is metadata-only and safe under concurrent readers."""
        found = self._find_staged(wap_id, snapshot_id)
        version = self.current_version()
        meta = self.metadata(version)
        meta.snapshots = [
            s for s in meta.snapshots if s.snapshot_id != found.snapshot_id
        ]
        self._write_metadata_version(version + 1, meta)
        return found

    def publish(
        self,
        wap_id: Optional[str] = None,
        snapshot_id: Optional[int] = None,
    ) -> Snapshot:
        """Make a staged snapshot visible (Iceberg ``cherrypick_snapshot``):

        - staged on the CURRENT snapshot → **fast-forward**: the current
          pointer moves to it (metadata-only, no new snapshot);
        - an ``append`` staged on an OLDER snapshot → **cherry-pick**: its
          delta manifests are re-applied onto the current snapshot as a
          NEW append commit (no data is rewritten — appends commute);
        - any other staged operation on an older snapshot → error: a
          rewrite's full manifest encodes the file set of its own parent,
          so replaying it over a diverged table would silently drop the
          intervening commits.
        """
        found = self._find_staged(wap_id, snapshot_id)
        version = self.current_version()
        meta = self.metadata(version)
        # operate on THIS metadata load's log entry (not _find_staged's
        # separate load) so the staged→published flip is actually written
        s = next(x for x in meta.snapshots if x.snapshot_id == found.snapshot_id)
        if s.parent_snapshot_id == meta.current_snapshot_id:
            s.summary.pop("staged", None)
            meta.current_snapshot_id = s.snapshot_id
            self._write_metadata_version(version + 1, meta)
            return s
        if s.operation != "append":
            raise ValueError(
                f"staged {s.operation!r} snapshot {s.snapshot_id} no longer "
                f"sits on the current snapshot — only appends can be "
                f"cherry-picked across commits"
            )
        added = self._own_delta_pdf(s)
        # persist the staged→published flip first; the cherry-pick commit
        # below re-reads metadata, so the flip must already be on disk
        s.summary.pop("staged", None)
        self._write_metadata_version(version + 1, meta)
        return self.commit(
            "append",
            added,
            summary={
                "stage": "publish",
                "cherrypicked_from": s.snapshot_id,
                "wap.id": s.summary.get("wap.id", ""),
            },
        )

    # ---------- write paths ----------

    def new_data_prefix(self) -> str:
        """Fresh isolated directory for one commit's data files."""
        prefix = os.path.join(self.data_dir, uuid.uuid4().hex[:16])
        os.makedirs(prefix, exist_ok=False)
        return prefix

    def data_writer(self, df: DataFrame):
        """``df.write.mode("append")`` carrying the table's parquet write
        properties (footer bloom filters, see ``bloom_write_options``).
        Every DATA-file write path — ingest, compact, cluster, merge
        keep/delta, delete rewrite — goes through this so rewrites never
        silently drop the blooms; positional/equality DELETE files and
        manifests skip it (their columns aren't table columns)."""
        cons = self.constraints()
        for cname in sorted(cons):
            # row-level enforcement INSIDE the write job (no extra pass):
            # assert_true inside a filter cannot be pruned away, unlike a
            # dropped projection column; NULL conditions pass (SQL CHECK)
            ok = F.coalesce(F.expr(cons[cname]), F.lit(True))
            df = df.filter(
                F.assert_true(
                    ok, f"CHECK constraint {cname} ({cons[cname]}) violated"
                ).isNull()
            )
        w = df.write.mode("append")
        opts = bloom_write_options(self.metadata())
        return w.options(**opts) if opts else w

    def append(
        self,
        df: DataFrame,
        *,
        merge_schema: bool = False,
        summary: Optional[dict] = None,
    ) -> Snapshot:
        """Schema-checked append: columns are matched BY NAME against the
        declared schema and cast to the declared types; columns the frame
        lacks land as NULL (they read back as their declared DEFAULT if
        one is set). A frame carrying UNDECLARED columns raises — unless
        ``merge_schema=True`` (Delta's ``mergeSchema``/autoMerge), which
        first ADDS the new columns as a metadata-only schema evolution
        typed from the frame, then appends. The raw ``write_files`` +
        ``commit`` path stays available for internal operators that
        guarantee their own schema."""
        from pyspark.sql.types import StructType

        declared = StructType.fromDDL(self.metadata().schema_ddl)
        names = {f.name for f in declared.fields}
        extra = [f for f in df.schema.fields if f.name not in names]
        if extra:
            if not merge_schema:
                raise ValueError(
                    f"frame has columns not in the table schema: "
                    f"{[f.name for f in extra]} (pass merge_schema=True "
                    f"to evolve the schema)"
                )
            self.add_columns(
                ", ".join(
                    f"{f.name} {f.dataType.simpleString()}" for f in extra
                )
            )
            declared = StructType.fromDDL(self.metadata().schema_ddl)
        out = df.select(
            *[
                (
                    F.col(f.name) if f.name in df.columns else F.lit(None)
                ).cast(f.dataType).alias(f.name)
                for f in declared.fields
            ]
        )
        entries = self.write_files(out)
        n = int(entries["record_count"].sum()) if len(entries) else 0
        summ = {"stage": "append", "rows_inserted": n}
        summ.update(summary or {})
        return self.commit("append", entries, summ)

    def write_files(self, df: DataFrame) -> pd.DataFrame:
        """Write df's current partitioning into a fresh commit dir; return
        manifest entries (with stats) for the files written.

        By default respects the DataFrame's existing partitioning —
        callers ``repartitionByRange(n, *partition_cols, sort_key)`` for
        partition-homogeneous, size-targeted files. The Iceberg
        ``write.distribution-mode`` table property overrides that for
        plain appends: ``hash`` shuffles rows onto their partition tuple
        (partition-homogeneous files — no writer holds every partition's
        files open at 10^12-row ingest widths), ``range`` additionally
        range-orders by the table's write order (:meth:`write_order`)
        and sorts within files, so fresh ingest lands pre-clustered and the
        nightly cluster run has less dirty data. ``none`` (default) is
        the current behavior. Width = ``spark.sql.shuffle.partitions``.
        Internal rewrite operators (compact/cluster/merge) plan their
        own distribution and do NOT route through this.
        """
        mode = str(
            self.metadata().properties.get("write.distribution-mode", "none")
        ).lower()
        if mode not in ("none", "hash", "range"):
            raise ValueError(
                f"write.distribution-mode must be none|hash|range, got {mode!r}"
            )
        if mode != "none":
            meta = self.metadata()
            spark = df.sparkSession
            n = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
            pexprs = [
                t.expr() for t in transforms.parse_spec(meta.partition_cols)
            ]
            if mode == "hash":
                df = df.repartition(n, *pexprs) if pexprs else df
            else:  # range
                order = self.write_order()
                keys = pexprs + (order.exprs() if order else [])
                if keys:
                    df = df.repartitionByRange(n, *keys).sortWithinPartitions(
                        *keys
                    )
        # a failed write, and a write of no rows, leave no prefix behind
        prefix = self.new_data_prefix()
        try:
            self.data_writer(df).parquet(prefix)
            entries = self.collect_stats_for_prefix(df.sparkSession, prefix)
        except BaseException:
            shutil.rmtree(prefix, ignore_errors=True)
            raise
        if not len(entries):
            shutil.rmtree(prefix, ignore_errors=True)
        return entries

    def add_files(
        self,
        spark: SparkSession,
        source,
        branch: Optional[str] = None,
    ) -> Snapshot:
        """Import EXISTING parquet files into the table without rewriting
        them (Iceberg's ``add_files`` migration procedure): the files are
        hard-linked (copy fallback across filesystems) into a fresh commit
        prefix — zero payload decode/encode — then one column-pruned Spark
        aggregation collects per-file stats and an append commit registers
        them. The originals are left untouched; the lakehouse adopts a
        plain-parquet dataset in O(stats scan), not O(rewrite).

        ``source``: a directory containing ``*.parquet`` or an explicit
        list of parquet file paths. Schema is validated against the table
        (same column-name set, read from the first file's FOOTER — no data
        read); a mismatch raises before anything is linked.
        """
        if isinstance(source, str):
            paths = sorted(
                os.path.join(source, fn)
                for fn in os.listdir(source)
                if fn.endswith(".parquet")
            )
        else:
            paths = list(source)
        if not paths:
            raise ValueError("add_files: no parquet files in source")
        file_cols = {f.name for f in pq.ParquetFile(paths[0]).schema_arrow}
        table_cols = {f.name for f in self._schema(spark).fields}
        if file_cols != table_cols:
            raise ValueError(
                f"add_files: schema mismatch — file columns {sorted(file_cols)} "
                f"vs table columns {sorted(table_cols)}"
            )
        prefix = self.new_data_prefix()
        for p in paths:
            dst = os.path.join(prefix, os.path.basename(p))
            try:
                os.link(p, dst)
            except OSError:
                shutil.copy2(p, dst)
        entries = self.collect_stats_for_prefix(spark, prefix)
        return self.commit(
            "append",
            entries,
            summary={
                "stage": "add_files",
                "source_files": len(paths),
            },
            branch=branch,
        )

    def clone(
        self,
        dest_root: str,
        snapshot_id: Optional[int] = None,
    ) -> "Table":
        """Zero-copy SHALLOW CLONE (Delta's ``CREATE TABLE … SHALLOW
        CLONE`` analogue): a new INDEPENDENT table whose initial snapshot
        holds this table's file set at ``snapshot_id`` (default:
        current). Data files are hard-linked (copy fallback across
        filesystems) and the source's manifest entries are reused
        verbatim — no Spark job, no stats recollection, no payload read:
        the whole clone is O(files) driver metadata work. Afterwards the
        two tables evolve independently: commits, maintenance and expiry
        on either side never touch the other (hard links keep bytes
        alive until BOTH sides' GC has dropped them).

        Cloning a snapshot with pending merge-on-read deletes is refused
        — reusing its data files verbatim would resurrect suppressed
        rows in the clone; run ``apply_deletes()`` first.
        """
        s = self.snapshot(snapshot_id)
        if s.delete_paths or s.eq_deletes:
            raise ValueError(
                "snapshot has pending merge-on-read deletes; run "
                "apply_deletes() before cloning"
            )
        meta = self.metadata()
        props = {
            k: v
            for k, v in meta.properties.items()
            if not k.startswith(("ref.", "branch.", "stream.txn."))
        }
        dest = Table.create(
            dest_root,
            meta.schema_ddl,
            partition_cols=list(meta.partition_cols),
            stats_cols=list(meta.stats_cols),
            properties=props or None,
        )
        man = self.manifest_pdf(s.snapshot_id)
        if len(man):
            prefix = dest.new_data_prefix()
            new_paths = []
            for i, rel in enumerate(man["path"]):
                src = os.path.join(self.root, rel)
                dst = os.path.join(prefix, f"{i:08d}-{os.path.basename(rel)}")
                try:
                    os.link(src, dst)
                except OSError:
                    shutil.copy2(src, dst)
                new_paths.append(os.path.relpath(dst, dest.root))
            man = man.copy()
            man["path"] = new_paths
        dest.commit(
            "append",
            man,
            summary={
                "stage": "clone",
                "source_table_uuid": meta.table_uuid,
                "source_snapshot_id": int(s.snapshot_id),
                "files_linked": int(len(man)),
            },
        )
        return dest

    def collect_stats_for_prefix(
        self, spark: SparkSession, prefix, method: str = "auto"
    ) -> pd.DataFrame:
        """Per-file min/max/null stats for freshly written data files.

        Two collectors, identical output (asserted equal in
        tests/test_tableformat.py):

        - **footer** (default): harvest the parquet FOOTER statistics the
          writer already computed — per-row-group min/max/null-count —
          and fold them per file. ZERO data IO: a footer read per file
          instead of re-scanning every payload byte, which at 100 TB is
          the difference between a metadata operation and a second full
          read of everything just written (Iceberg's metrics/migration
          path works the same way). Non-identity partition-transform
          stats are derived from the source column's bounds — sound
          because every transform except ``bucket`` is monotonic. Footer
          reads distribute over executors above a path-count threshold,
          else a driver thread pool (IO-bound, GIL-released).
        - **scan** (fallback; ``method="scan"`` forces it): one Spark agg
          grouped by ``_metadata.file_path`` over the data itself — the
          universal path, used when a footer can't prove exact stats
          (missing min/max, truncation-length string bounds, float NaN,
          INT96 timestamps) or the spec has a ``bucket`` transform. This
          is the north_star's 'per-file min/max column stats' collector;
          it scales with executors, unlike the reference's per-column
          ``filter().count()`` loop
          (/root/reference/scripts/gold_agilean.py:117-122).
        """
        meta = self.metadata()
        prefixes = [prefix] if isinstance(prefix, str) else list(prefix)
        tforms = transforms.parse_spec(meta.partition_cols)
        part_fields = [t.name for t in tforms]
        if method != "scan" and all(t.monotonic for t in tforms):
            pdf = self._footer_stats(spark, prefixes, meta, tforms)
            if pdf is not None:
                return self._stats_tail(pdf, part_fields)
            if method == "footer":
                raise ValueError(
                    "footer stats unavailable or inexact for these files"
                )
        df = spark.read.parquet(*prefixes)
        # hidden partitioning: materialize each non-identity transform as a
        # derived column so its min/max/null stats (and partition_json
        # routing) use the TRANSFORM value — users' predicates on the
        # source column are mapped into this space at scan time
        for t in tforms:
            if t.kind != "identity":
                df = df.withColumn(t.name, t.expr())
        stat_cols = list(dict.fromkeys(part_fields + list(meta.stats_cols)))
        aggs = [
            F.count(F.lit(1)).alias("record_count"),
            F.first(F.col("_metadata.file_size")).alias("file_size_bytes"),
        ]
        for c in stat_cols:
            aggs += [
                F.min(c).alias(f"min_{c}"),
                F.max(c).alias(f"max_{c}"),
                F.sum(F.col(c).isNull().cast("long")).alias(f"nulls_{c}"),
            ]
        agg_df = df.groupBy(F.col("_metadata.file_path").alias("abs_path")).agg(*aggs)
        return self._stats_tail(agg_df.toArrow(), part_fields)

    def _footer_stats(
        self, spark: SparkSession, prefixes, meta, tforms
    ) -> Optional[pa.Table]:
        """Fold parquet footer statistics into manifest entries; None when
        any file's footer can't prove exact stats (caller falls back to
        the data-scan collector)."""
        want = list(
            dict.fromkeys([t.source for t in tforms] + list(meta.stats_cols))
        )
        paths = []
        for pre in prefixes:
            pre = _strip_scheme(pre)
            if not os.path.isdir(pre):
                return None  # non-local filesystem: use the scan collector
            for dirpath, _dirs, files in os.walk(pre):
                paths += [
                    os.path.join(dirpath, fn)
                    for fn in sorted(files)
                    if fn.endswith(".parquet")
                ]
        if not paths:
            return None
        if len(paths) > FOOTER_SPARK_THRESHOLD:
            # metadata fan-out over executors: ~10^8 files is a big job of
            # tiny tasks, never a driver loop
            rows = (
                spark.sparkContext.parallelize(
                    paths, max(1, len(paths) // 64)
                )
                .map(lambda p: _footer_file_stats(p, want))
                .collect()
            )
        else:
            with ThreadPoolExecutor(
                max_workers=min(32, max(4, len(paths)))
            ) as ex:
                rows = list(ex.map(lambda p: _footer_file_stats(p, want), paths))
        if any(r is None for r in rows):
            return None
        # zero-row files contribute no manifest entry (matches the scan
        # collector: no rows -> no group for that file)
        pairs = [(p, r) for p, r in zip(paths, rows) if r["n"] > 0]
        paths = [p for p, _ in pairs]
        rows = [r for _, r in pairs]
        types = _ddl_arrow_types(meta.schema_ddl)
        tf_type = {
            "truncate": pa.string(),
            "days": pa.int32(),
            "months": pa.int32(),
            "years": pa.int32(),
        }
        name_to_tf = {t.name: t for t in tforms}
        part_fields = [t.name for t in tforms]
        out_cols = list(dict.fromkeys(part_fields + list(meta.stats_cols)))
        arrays = {
            "abs_path": pa.array(paths, pa.string()),
            "record_count": pa.array([r["n"] for r in rows], pa.int64()),
            "file_size_bytes": pa.array([r["size"] for r in rows], pa.int64()),
        }
        names = ["abs_path", "record_count", "file_size_bytes"]
        for c in out_cols:
            t = name_to_tf.get(c)
            if t is not None and t.kind != "identity":
                src, typ = t.source, tf_type[t.kind]
                mns = [t.py_value(r["cols"][src][0]) for r in rows]
                mxs = [t.py_value(r["cols"][src][1]) for r in rows]
            else:
                src, typ = c, types.get(c, pa.string())
                mns = [r["cols"][src][0] for r in rows]
                mxs = [r["cols"][src][1] for r in rows]
            try:
                arrays[f"min_{c}"] = pa.array(mns, typ)
                arrays[f"max_{c}"] = pa.array(mxs, typ)
            except (pa.ArrowInvalid, pa.ArrowTypeError):
                return None  # footer value shape unexpected: scan instead
            arrays[f"nulls_{c}"] = pa.array(
                [r["cols"][src][2] for r in rows], pa.int64()
            )
            names += [f"min_{c}", f"max_{c}", f"nulls_{c}"]
        return pa.table({n: arrays[n] for n in names})

    def _stats_tail(self, atbl: pa.Table, part_fields) -> pd.DataFrame:
        pdf = _arrow_pandas(atbl)
        # A file "belongs" to a partition value iff, on every partition
        # column, min == max with no NULL, or all rows are NULL (JSON null);
        # files that span values (raw ingest, range boundaries, a value
        # and NULLs) are tagged mixed, and the next compaction or cluster
        # routes their rows by tuple (tuple_census). Vectorized:
        # an iterrows() loop here is O(files) of slow driver python —
        # pandas stays the planner only below SPARK_MANIFEST_THRESHOLD,
        # but 2M rows of iterrows is minutes while this is milliseconds.
        cols_json = []
        for c in sorted(part_fields):
            lo, nulls = pdf[f"min_{c}"], pdf[f"nulls_{c}"].fillna(-1)
            pure = (lo == pdf[f"max_{c}"]).fillna(False) & (nulls == 0)
            v = lo.astype(str).map(json.dumps).where(pure, json.dumps("__mixed__"))
            v = v.mask(nulls == pdf["record_count"], "null")
            cols_json.append(json.dumps(c) + ": " + v)
        if cols_json:
            body = cols_json[0]
            for part in cols_json[1:]:
                body = body + ", " + part
            pdf["partition_json"] = "{" + body + "}"
        else:
            pdf["partition_json"] = "{}"
        pdf["path"] = [os.path.relpath(_strip_scheme(p), self.root) for p in pdf["abs_path"]]
        return pdf.drop(columns=["abs_path"])

    # ---------- read path ----------

    def scan(
        self,
        spark: SparkSession,
        snapshot_id: Optional[int] = None,
        predicates: Optional[Iterable[tuple]] = None,
        columns: Optional[Sequence[str]] = None,
        as_of_ms: Optional[int] = None,
        branch: Optional[str] = None,
    ) -> DataFrame:
        """Snapshot read with manifest min/max file pruning.

        ``predicates``: iterable of ``(col, op, value)`` with op in
        ``>= <= = between in isnull notnull`` (value is a (lo, hi) pair
        for between, a list of values for in — batch point lookups that
        compose with manifest pruning, bucket-transform derivation and
        the parquet footer blooms; value is ignored for isnull/notnull,
        which prune on the per-file null-count stats). Files
        whose [min,max] range provably excludes the predicate are skipped
        before Spark ever lists them; the same predicate is re-applied as a
        real filter for row-level correctness (pruning is only file-level).
        ``as_of_ms``: time travel — read the latest snapshot committed at
        or before this timestamp (mutually exclusive with snapshot_id).
        ``branch``: read the named branch's head (mutually exclusive with
        both).
        """
        if branch is not None:
            if snapshot_id is not None or as_of_ms is not None:
                raise ValueError("branch is exclusive with snapshot_id/as_of_ms")
            snapshot_id = self.branch_head(branch)
        if as_of_ms is not None:
            if snapshot_id is not None:
                raise ValueError("pass snapshot_id or as_of_ms, not both")
            snapshot_id = self.snapshot_as_of(as_of_ms).snapshot_id
        meta = self.metadata()
        if snapshot_id is None and meta.current_snapshot_id is None:
            # freshly created table (no snapshot yet): a zero-row relation
            # with the declared schema — Iceberg's CREATE-then-SELECT shape
            empty = self.empty_relation(spark, meta.schema_ddl)
            return empty.select(*columns) if columns else empty
        preds = list(predicates or [])
        # hidden partitioning: file-level pruning additionally uses the
        # transform-space predicates derived from source-column predicates
        # (sound by construction); ROW-level filtering below re-applies
        # only the originals
        prune_preds = prune_predicates(meta, preds)
        statable = statable_cols(meta)
        # where prune_manifest runs is picked by manifest size WITHOUT
        # materializing it: the parquet footer gives the row count. Below
        # the threshold it runs driver-side (no job overhead); above it
        # per batch of the manifest relation, and only surviving paths
        # come back to the driver.
        s = self.snapshot(snapshot_id)

        def _empty():
            e = self.empty_relation(spark, meta.schema_ddl)
            return e.select(*columns) if columns else e

        n_entries = self.manifest_rows(s.snapshot_id)
        if n_entries == 0:
            return _empty()
        if n_entries > SPARK_MANIFEST_THRESHOLD:
            manifests = self.manifest_abs_paths(s.snapshot_id)
            kept = prune_manifest_spark(spark, manifests, prune_preds, statable)
            rel_paths = [r[0] for r in kept.collect()]
        else:
            man = self.manifest_pdf(snapshot_id)
            rel_paths = list(prune_manifest(man, prune_preds, statable)["path"])
        if len(rel_paths) == 0:
            return _empty()
        paths = [os.path.join(self.root, p) for p in rel_paths]
        df = self.read_data(spark, paths, meta=meta)
        if s.delete_paths or s.eq_deletes:
            df = self.live_rows(spark, df, s).drop("__mor_path", "__mor_pos")
        for col, op, value in preds:
            df = df.filter(_pred_to_column(col, op, value))
        if columns:
            df = df.select(*columns)
        return df

    def pending_delete_paths(self, snapshot_id: Optional[int] = None) -> list:
        """Merge-on-read delete files pending at a snapshot (relative
        paths); empty when the table has none (the common case — every
        read and rewrite path is then exactly as before)."""
        if self.metadata().current_snapshot_id is None and snapshot_id is None:
            return []
        return list(self.snapshot(snapshot_id).delete_paths)

    def pending_eq_deletes(self, snapshot_id: Optional[int] = None) -> list:
        """Merge-on-read EQUALITY deletes pending at a snapshot: a list of
        ``{"path", "cols", "as_of_snapshot_id"}`` dicts (empty in the
        common case)."""
        if self.metadata().current_snapshot_id is None and snapshot_id is None:
            return []
        return [dict(e) for e in self.snapshot(snapshot_id).eq_deletes]

    def refuse_pending_deletes(self, op: str) -> None:
        """Raise before ``op`` when merge-on-read deletes are pending: an
        operation that copies or reuses whole files would resurrect the
        rows they suppress."""
        if self.pending_delete_paths() or self.pending_eq_deletes():
            raise ValueError(
                "table has merge-on-read deletes pending; run "
                f"apply_deletes() before {op}"
            )

    def live_rows(self, spark, df: DataFrame, s: Snapshot) -> DataFrame:
        """The rows of ``df``, a raw ``read_data`` relation, still visible
        at snapshot ``s``: pending positional and equality deletes
        anti-joined out. Each row carries its table-relative file path
        ``__mor_path`` and its row position ``__mor_pos``, the pair a
        positional delete names. Every merge-on-read probe and every
        read through pending deletes goes through here."""
        return self._apply_eq_deletes(spark, self._apply_mor_deletes(spark, df, s), s)

    def _apply_eq_deletes(self, spark, df: DataFrame, s: Snapshot) -> DataFrame:
        """Anti-join out equality-deleted rows (Iceberg v2 equality delete
        semantics with sequence ordering): a value row in an equality
        delete file suppresses every data row matching it on the delete's
        columns, in data files that existed at the delete's
        ``as_of_snapshot_id`` — files appended LATER are exempt, so a
        re-insert of a deleted key survives, exactly like Iceberg's
        sequence-number rule. Zero-cost when no equality deletes are
        pending. Value sets are small by design (targeted key deletes —
        bulk predicates should use copy-on-write), so the anti-join
        broadcasts; the exempt file set is the files APPENDED since the
        delete, small while the delete is pending (rewrites are guarded),
        and joins as a broadcast path-marker."""
        if not s.eq_deletes:
            return df
        cur_paths = set(self.manifest_pdf(s.snapshot_id)["path"])
        # ``_metadata`` resolves only on the raw file relation, so the
        # exempt-file join uses the path column the positional step kept
        out = df
        for cols, vals, covered in self.eq_delete_scopes(spark, s, cur_paths):
            vals = vals.withColumn("__eq_hit", F.lit(True))
            exempt = sorted(cur_paths - covered)
            out = out.join(F.broadcast(vals), list(cols), "left")
            if exempt:
                ex = local_frame(
                    spark, {"__mor_path": exempt}, "__mor_path string"
                ).withColumn("__eq_ex", F.lit(True))
                out = (
                    out.join(F.broadcast(ex), "__mor_path", "left")
                    .filter(
                        F.col("__eq_hit").isNull() | F.col("__eq_ex").isNotNull()
                    )
                    .drop("__eq_hit", "__eq_ex")
                )
            else:
                out = out.filter(F.col("__eq_hit").isNull()).drop("__eq_hit")
        return out

    def eq_delete_scopes(self, spark, s: Snapshot, cur_paths: set) -> list:
        """``[(cols, values, covered)]``: the equality deletes pending at
        ``s`` grouped by ``(cols, as_of_snapshot_id)`` in ``as_of`` order,
        each with its distinct value rows and the paths of ``cur_paths``
        (``s``'s files) already in the table at ``as_of``, the only files
        it deletes from (the sequence rule)."""
        groups: dict = {}
        for e in s.eq_deletes:
            key = (tuple(e["cols"]), int(e["as_of_snapshot_id"]))
            groups.setdefault(key, []).append(e["path"])
        return [
            (
                cols,
                spark.read.parquet(*[os.path.join(self.root, p) for p in dpaths])
                .select(*cols)
                .distinct(),
                set(self.manifest_pdf(as_of)["path"]) & cur_paths,
            )
            for (cols, as_of), dpaths in sorted(groups.items(), key=lambda kv: kv[0][1])
        ]

    def _apply_mor_deletes(self, spark, df: DataFrame, s: Snapshot) -> DataFrame:
        """Anti-join out positionally-deleted rows (Iceberg v2 positional
        delete semantics: a delete file row (path, pos) suppresses row
        ``pos`` of data file ``path``), adding the ``__mor_path`` /
        ``__mor_pos`` columns it joins on; with none pending there is no
        join. Delete sets are small by design (sparse deletes — bulk
        deletes should use copy-on-write), so the anti-join broadcasts;
        a large accumulated set falls back to a shuffle join and is the
        signal to run ``apply_deletes``."""
        df = df.withColumn("__mor_path", rel_path_expr(self.root)).withColumn(
            "__mor_pos", F.col("_metadata.row_index")
        )
        if not s.delete_paths:
            return df
        dabs = [os.path.join(self.root, p) for p in s.delete_paths]
        dels = spark.read.schema("path string, pos long").parquet(*dabs)
        nbytes = sum(os.path.getsize(p) for p in dabs if os.path.exists(p))
        if nbytes <= 64 * 1024 * 1024:
            dels = F.broadcast(dels)
        return df.join(
            dels.withColumnRenamed("path", "__mor_path").withColumnRenamed(
                "pos", "__mor_pos"
            ),
            ["__mor_path", "__mor_pos"],
            "left_anti",
        )

    def changes(
        self,
        spark: SparkSession,
        from_snapshot_id: int,
        to_snapshot_id: Optional[int] = None,
        columns: Optional[Sequence[str]] = None,
    ) -> DataFrame:
        """Incremental scan: rows LOGICALLY ADDED after ``from_snapshot_id``
        up to ``to_snapshot_id`` (inclusive; default current) — the
        snapshot-diff consumption pattern the reference approximates with
        Glue job bookmarks (/root/reference/terraform/glue_digit.tf:14,
        SURVEY.md §2.9 T5), planned from manifest diffs instead of
        directory listing.

        Per-snapshot semantics (Iceberg incremental-read rules) are
        ``logical_adds``: an append emits every added file, an overwrite
        its inserted files, a merge / update its delta files, and a
        replace / expire / delete nothing.

        A consumer that checkpoints the last snapshot id it processed and
        reads ``changes(last, current)`` sees every appended/upserted row
        exactly once.
        """
        paths = [
            os.path.join(self.root, p)
            for p in self.added_paths(from_snapshot_id, to_snapshot_id, spark)
        ]
        if paths:
            df = self.read_data(spark, paths)
        else:
            df = self.empty_relation(spark, self.metadata().schema_ddl)
        return df.select(*columns) if columns else df

    def added_paths(
        self,
        from_snapshot_id: Optional[int],
        to_snapshot_id: Optional[int] = None,
        spark: Optional[SparkSession] = None,
    ) -> list:
        """The files holding the rows LOGICALLY ADDED in ``(from, to]``
        (``logical_adds`` per link of :meth:`snapshot_diffs`): what
        ``changes`` reads and the ``medallion`` stream plans."""
        return [
            p
            for s, added, _ in self.snapshot_diffs(
                from_snapshot_id, to_snapshot_id, spark, _ADDING_OPS
            )
            for p in logical_adds(s, added)
        ]

    def snapshot_diffs(
        self,
        from_snapshot_id: Optional[int],
        to_snapshot_id: Optional[int],
        spark: Optional[SparkSession],
        ops: Sequence[str],
    ) -> list:
        """``[(snapshot, added, removed)]`` per published snapshot in
        ``(from, to]``, oldest first: the sorted paths new to its manifest
        and gone from it, against its parent's. Links whose operation is
        not in ``ops`` get empty lists. ``from_snapshot_id`` None starts
        from an empty table before the oldest live ancestor (a stream's
        ``startingOffsets=earliest``).

        A manifest file both sides list cancels out (a snapshot lists a
        path once), so a link reads only the manifest files one side
        lacks: an append's diff reads its new manifest, not the table.
        Each diff is ``_one_sided`` over those files' paths, on the
        driver, or with ``spark`` above ``SPARK_MANIFEST_THRESHOLD`` of
        them per path-hash group on executors: only touched paths reach
        the driver."""
        chain = self._ancestry_chain(from_snapshot_id, to_snapshot_id)

        def side(files: set, k: int, big: bool):  # paths as side k, hash-grouped
            paths = [os.path.join(self.root, p) for p in sorted(files)]
            if not big:
                cols = [pq.read_table(p, columns=["path"])["path"] for p in paths]
                rel = [r for c in cols for r in c.to_pylist()]
                return pd.DataFrame({"path": rel, "side": k, "__g": 0})
            if not paths:
                return spark.createDataFrame([], "path string, side bigint, __g bigint")
            n = spark.conf.get("spark.sql.shuffle.partitions")
            group = f"pmod(xxhash64(path), {n}) AS __g"
            return spark.read.parquet(*paths).selectExpr("path", f"{k}L AS side", group)

        out = []
        prev = (
            set(self.snapshot(from_snapshot_id).manifest_paths)
            if from_snapshot_id is not None
            else set()
        )
        for s in chain:
            cur = set(s.manifest_paths)
            added = removed = []
            if s.operation in ops:
                rows = sum(
                    pq.ParquetFile(os.path.join(self.root, p)).metadata.num_rows
                    for p in prev ^ cur
                )
                big = spark is not None and rows > SPARK_MANIFEST_THRESHOLD
                a, b = side(prev - cur, 0, big), side(cur - prev, 1, big)
                both = a.unionByName(b) if big else pd.concat([a, b], ignore_index=True)
                ddl = "path string, side bigint"
                diff = map_groups(both, _one_sided, ddl, "__g", ["path", "side"])
                added = sorted(diff.loc[diff["side"] == 1, "path"])
                removed = sorted(diff.loc[diff["side"] == 0, "path"])
            out.append((s, added, removed))
            prev = cur
        return out

    def _ancestry_chain(
        self, from_snapshot_id: Optional[int], to_snapshot_id: Optional[int]
    ):
        """Published-snapshot chain (exclusive of ``from``, inclusive of
        ``to``), oldest first. Ancestry walk (parent pointers), not an
        id-range scan: staged WAP snapshots and rollback branches put
        off-chain ids inside [from, to] — those carry no published rows
        and must be skipped, while a genuinely pruned ancestor must
        still fail loudly. ``from_snapshot_id`` None walks back to the
        oldest live ancestor (expiry leaves its parent id dangling)."""
        meta = self.metadata()
        to_sid = (
            to_snapshot_id if to_snapshot_id is not None else meta.current_snapshot_id
        )
        earliest = from_snapshot_id is None
        if to_sid is None or (not earliest and to_sid < from_snapshot_id):
            if earliest:
                return []
            raise ValueError(f"bad snapshot range [{from_snapshot_id}, {to_sid}]")
        by_id = {s.snapshot_id: s for s in meta.snapshots}
        chain: list = []
        sid = to_sid
        while sid != from_snapshot_id:
            s = by_id.get(sid)
            if s is None and earliest:
                break
            if s is None or (s.parent_snapshot_id is None and not earliest):
                raise KeyError(
                    f"snapshot {from_snapshot_id} is not a live ancestor of "
                    f"{to_sid}: an intermediate snapshot expired (incremental "
                    f"consumers must keep up with the expiry retention "
                    f"window) or the table was rolled back across it"
                )
            chain.append(s)
            sid = s.parent_snapshot_id
        chain.reverse()
        if earliest:
            return chain
        try:
            self.snapshot(from_snapshot_id)
        except KeyError as e:
            raise KeyError(
                f"snapshot {from_snapshot_id} expired — incremental "
                f"consumers must keep up with the expiry retention window"
            ) from e
        return chain

    def changes_cdc(
        self,
        spark: SparkSession,
        from_snapshot_id: int,
        to_snapshot_id: Optional[int] = None,
        key_cols: Optional[Sequence[str]] = None,
    ) -> DataFrame:
        """CDC changelog between two snapshots: every ROW-LEVEL change as
        table columns + ``_change_type`` ('insert' | 'delete') +
        ``_commit_snapshot_id`` — the Iceberg ``create_changelog_view`` /
        Delta Change Data Feed surface. ``changes()`` answers "what rows
        are new"; this answers "what happened", including removals — the
        feed an incremental training-data consumer needs to retract
        examples it already exported (an update arrives as a delete of
        the old version + an insert of the new, Iceberg changelog style).

        ``key_cols`` (Iceberg changelog compute-updates mode): when given,
        a delete and an insert in the SAME commit sharing a key tuple are
        re-tagged ``update_preimage`` / ``update_postimage`` — a MERGE's
        caption rewrite then reads as an update of that image_id rather
        than an unrelated remove + add. Pairing is uniform across write
        modes: a merge-on-read MERGE/UPDATE's delta inserts pair with its
        positional-delete suppressions the same way a copy-on-write
        commit's file-diff surpluses do.

        Per-snapshot derivation (all bounded by the commit's TOUCHED
        files, never the table):

        - ``append`` → added files read directly as inserts.
        - ``merge`` / copy-on-write ``delete`` → a MULTISET diff of the
          removed vs added files' rows: copy-on-write copies surviving
          rows unchanged, so they cancel; deleted/old-version rows
          survive on the removed side, upserted rows on the added side.
          Row identity is ``xxhash64`` over all columns (count-aware, so
          duplicate identical rows emit the right multiplicity).
        - merge-on-read ``delete`` (positional) → the NEW delete files'
          (path, pos) entries semi-joined against the parent-visible
          rows of those files.
        - merge-on-read ``delete`` (equality) → the NEW value files
          semi-joined against the parent-visible scan (the delete's
          as-of IS the parent, so covered-file filtering is implicit).
        - ``replace`` / ``expire`` (compaction, clustering,
          rewrite_manifests, apply_deletes, delete-file compaction) →
          physical only, nothing emitted.

        Rewritten-away files stay on disk until ``expire_snapshots`` GC,
        which is what makes the removed side readable — the same
        retention window ``changes()`` already requires of consumers.
        """
        schema = self._schema(spark)
        cols = [f.name for f in schema.fields]

        def _read(rel_paths):
            return self.read_data(
                spark, [os.path.join(self.root, p) for p in rel_paths]
            )

        def _tag(df, kind, s):
            return df.select(
                *cols,
                F.lit(kind).alias("_change_type"),
                F.lit(s.snapshot_id).cast("long").alias("_commit_snapshot_id"),
            )

        def _counted(df):
            return df.groupBy(
                F.xxhash64(*[F.col(c) for c in cols]).alias("__sig")
            ).agg(
                F.count(F.lit(1)).alias("__n"),
                F.first(F.struct(*cols)).alias("__r"),
            )

        def _surplus(a, b):
            """Rows of ``a`` beyond their multiplicity in ``b``."""
            return (
                _counted(a)
                .join(
                    _counted(b).select("__sig", F.col("__n").alias("__nb")),
                    "__sig",
                    "left",
                )
                .withColumn("__d", F.col("__n") - F.coalesce("__nb", F.lit(0)))
                .filter(F.col("__d") > 0)
                .select("__r", F.explode(F.expr("sequence(1, __d)")))
                .select("__r.*")
            )

        def _pair(ins, dels, s):
            """Tag ONE commit's insert-side and delete-side rows; with
            ``key_cols``, a same-commit delete+insert sharing a key tuple
            is re-tagged as an update pre/post image. Applies uniformly:
            a copy-on-write commit's multiset-diff surpluses and a
            merge-on-read commit's delta-insert + positional-delete feed
            pair the same way (Iceberg changelog compute-updates)."""
            if not key_cols:
                return [_tag(ins, "insert", s), _tag(dels, "delete", s)]
            kc = list(key_cols)
            ik, dk = (d.select(*kc).distinct() for d in (ins, dels))
            return [
                _tag(ins.join(dk, kc, "left_anti"), "insert", s),
                _tag(ins.join(dk, kc, "left_semi"), "update_postimage", s),
                _tag(dels.join(ik, kc, "left_anti"), "delete", s),
                _tag(dels.join(ik, kc, "left_semi"), "update_preimage", s),
            ]

        # physical-only links (replace/expire) skip the file diff entirely
        diffs = self.snapshot_diffs(
            from_snapshot_id,
            to_snapshot_id,
            spark,
            ("append", "merge", "delete", "update", "overwrite"),
        )
        parts = []
        prev = self.snapshot(from_snapshot_id)
        for s, added, removed in diffs:
            ins_side = None
            dels_side = None
            if s.operation == "append":
                if added:
                    ins_side = _read(added)
            elif s.operation in ("merge", "delete", "update", "overwrite") and (
                added or removed
            ):
                old = _read(removed) if removed else _read(added).limit(0)
                new = _read(added) if added else old.limit(0)
                ins_side, dels_side = _surplus(new, old), _surplus(old, new)
            # merge-on-read commits: the manifest is unchanged (or grew by
            # a delta append); the pending delete sets grew vs the parent
            new_dp = sorted(set(s.delete_paths) - set(prev.delete_paths))
            if new_dp:
                dels = spark.read.schema("path string, pos long").parquet(
                    *[os.path.join(self.root, p) for p in new_dp]
                )
                # the delete entries name exactly the touched data files —
                # read only those, never the parent's whole file set
                touched = sorted(
                    r["path"] for r in dels.select("path").distinct().collect()
                )
                hit = self.live_rows(spark, _read(touched), prev).join(
                    F.broadcast(
                        dels.withColumnRenamed("path", "__mor_path").withColumnRenamed(
                            "pos", "__mor_pos"
                        )
                    ),
                    ["__mor_path", "__mor_pos"],
                    "left_semi",
                ).select(*cols)
                dels_side = hit if dels_side is None else dels_side.unionByName(hit)
            prev_eq = {e["path"] for e in prev.eq_deletes}
            new_eq = [e for e in s.eq_deletes if e["path"] not in prev_eq]
            if new_eq:
                base = self.scan(spark, snapshot_id=prev.snapshot_id)
                for e in new_eq:
                    vals = (
                        spark.read.parquet(os.path.join(self.root, e["path"]))
                        .select(*e["cols"])
                        .distinct()
                    )
                    hit = base.join(F.broadcast(vals), list(e["cols"]), "left_semi")
                    dels_side = (
                        hit if dels_side is None else dels_side.unionByName(hit)
                    )
            if ins_side is not None or dels_side is not None:
                empty = self.empty_relation(spark, schema)
                parts.extend(
                    _pair(
                        ins_side if ins_side is not None else empty,
                        dels_side if dels_side is not None else empty,
                        s,
                    )
                )
            prev = s
        if not parts:
            return _tag(
                self.empty_relation(spark, schema),
                "insert",
                diffs[-1][0] if diffs else self.snapshot(from_snapshot_id),
            ).limit(0)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def register(
        self,
        spark: SparkSession,
        name: str,
        snapshot_id: Optional[int] = None,
        as_of_ms: Optional[int] = None,
    ) -> DataFrame:
        """Expose this table to ``spark.sql`` as a temp view (the Athena /
        SQL-analytics surface, SURVEY.md §2.1 S13 — the reference serves
        its gold layer exclusively through SQL,
        /root/reference/sql/athena_gold_queries.sql:8-95,
        /root/reference/terraform/athena.tf:7-53). The view pins the scan
        made at registration time (snapshot isolation carries over)."""
        df = self.scan(spark, snapshot_id=snapshot_id, as_of_ms=as_of_ms)
        df.createOrReplaceTempView(name)
        return df

    def _schema(self, spark: SparkSession):
        from pyspark.sql.types import StructType

        return StructType.fromDDL(self.metadata().schema_ddl)

    # ---------- maintenance helpers ----------

    def all_reachable_paths(self) -> set:
        """Data+manifest paths referenced by ANY retained snapshot."""
        meta = self.metadata()
        reach = set()
        for s in meta.snapshots:
            reach.update(s.delete_paths)  # MoR delete files live in data/
            reach.update(e["path"] for e in s.eq_deletes)
            for rel in s.manifest_paths:
                if rel in reach:  # manifest lists share ancestor manifests
                    continue
                reach.add(rel)
                man = pq.read_table(os.path.join(self.root, rel), columns=["path"])
                reach.update(man.column("path").to_pylist())
        return reach


from contextlib import contextmanager, nullcontext


@contextmanager
def read_split_size(spark: SparkSession, nbytes: int, open_cost: Optional[int] = None):
    """Align parquet read-split size with a maintenance stage's target
    file size for the duration of the stage.

    Why: ``spark.sql.files.maxPartitionBytes`` defaults to 128 MB, so a
    rewrite whose target_file_size is smaller (or a scan over a table of
    smaller files) bins many files into few read tasks — capping stage
    parallelism at total_bytes/128MB tasks regardless of executor count,
    and inflating copy-on-write outputs past the target (merge's keep
    path writes one file per READ SPLIT). Matching split size to target
    size keeps one task ≈ one output file and lets read-stage
    parallelism scale with the cluster instead of the constant 128 MB.

    ``open_cost`` also sets the bytes a file counts for beyond its size
    when files are packed into a split (``openCostInBytes``, 4 MB by
    default): a low cost packs many small files into one split.

    Session-scoped by design: maintenance stages are single-driver and
    sequential (operators/run.py); concurrent TILE/BATCH jobs inside one
    stage all want the same split size, and the conf is restored on
    exit."""
    confs = {"spark.sql.files.maxPartitionBytes": int(nbytes)}
    if open_cost is not None:
        confs["spark.sql.files.openCostInBytes"] = int(open_cost)
    old = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, str(v))
    try:
        yield
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def rewrite_split_size(
    spark: SparkSession, target_bytes: int, root: str, files: pd.DataFrame
):
    """``read_split_size`` for a copy-on-write keep rewrite of the
    manifest rows ``files`` (paths relative to ``root``).

    A parquet split owns the row groups whose midpoints fall inside it,
    so a split that cuts a single-row-group file yields one real task
    and one empty one (a 4.8 MB file at a 4 MB split: two write tasks,
    one of which reads nothing). The split therefore rises to the
    largest file of the set that is under twice the target and whose
    footer shows ONE row group. Spark packs small files into a split up
    to its size, so outputs stay under twice the target; files with
    several row groups, and files at twice the target or more, still
    split at the target. Footers are read largest first and only for
    files between one and two targets, stopping at the first single
    row group."""
    target = int(target_bytes)
    size = files["file_size_bytes"].astype("int64")
    over = files[(size > target) & (size < 2 * target)]
    split = target
    for r in over.sort_values("file_size_bytes", ascending=False).itertuples():
        if pq.ParquetFile(os.path.join(root, r.path)).metadata.num_row_groups == 1:
            split = int(r.file_size_bytes)
            break
    return read_split_size(spark, split)


# Every data-file rewrite runs at most _REWRITE_THREADS jobs at once
# (the Iceberg RewriteDataFiles shape), and a copy-on-write rewrite cuts
# its files into groups of at most REWRITE_GROUP_FILES: a broad rewrite
# over 10^7 files becomes many medium jobs instead of one monster job.
REWRITE_GROUP_FILES = 4096
_REWRITE_THREADS = 4


def written_entries(table: "Table", spark: SparkSession, prefix: str, pt):
    """Manifest entries of the files just written under ``prefix``, their
    stats timed as the ``stats`` phase of ``pt``; None when the write
    produced no file."""
    if not any(f.endswith(".parquet") for f in os.listdir(prefix)):
        return None
    with pt.phase("stats"):
        return table.collect_stats_for_prefix(spark, prefix)


def prefix_files(table: "Table", prefix: str) -> tuple:
    """``(paths, rows)``: the parquet files just written under ``prefix``,
    relative to the table root, and their row count from the footers.
    A prefix that holds no row is removed and gives ``([], 0)``."""
    rel = sorted(
        os.path.relpath(os.path.join(prefix, f), table.root)
        for f in os.listdir(prefix)
        if f.endswith(".parquet")
    )
    n = sum(
        pq.ParquetFile(os.path.join(table.root, p)).metadata.num_rows for p in rel
    )
    if n == 0:
        shutil.rmtree(prefix, ignore_errors=True)
        return [], 0
    return rel, n


def write_position_deletes(table: "Table", rows: DataFrame) -> tuple:
    """Write positional delete files naming ``rows`` (a ``live_rows``
    frame: their ``__mor_path`` / ``__mor_pos``) into a fresh prefix;
    returns ``prefix_files`` of it. Delete sets are sparse by design, so
    the write is sorted within partitions and coalesced to four files."""
    prefix = table.new_data_prefix()
    (
        rows.select(
            F.col("__mor_path").alias("path"), F.col("__mor_pos").alias("pos")
        )
        .sortWithinPartitions("path", "pos")
        .coalesce(4)
        .write.mode("append")
        .parquet(prefix)
    )
    return prefix_files(table, prefix)


def resumed_units(checkpoint, stage: tuple, unit_nos) -> dict:
    """``{unit_no: unit_done record}`` for the units of ``unit_nos`` that
    ``checkpoint`` already holds under ``stage = (stage, label)``; unit n
    is recorded as ``<stage>/<label>-<n>``."""
    if checkpoint is None:
        return {}
    name, label = stage
    done = {n: checkpoint.unit_payload(name, f"{label}-{n}") for n in unit_nos}
    return {n: rec for n, rec in done.items() if rec is not None}


def rewrite_units(
    table: "Table",
    spark: SparkSession,
    units: dict,
    plan,
    pt,
    *,
    threads: Optional[int] = None,
    checkpoint=None,
    stage: tuple = (),
    lineage=None,
    alongside=(),
) -> tuple:
    """The one runner under every data-file rewrite: compaction batches,
    cluster tiles and copy-on-write groups.

    ``units`` maps a unit number to its manifest rows; units are submitted
    in the mapping's order. A unit's rows are read here with
    ``read_data`` (the one place a rewrite reads its input), and
    ``plan(unit_no, frame)`` turns that frame into the unit's output,
    which is written into a fresh prefix. Its stats are collected in the
    same thread the moment the write lands, so one unit's stats job
    overlaps another's write. The zero-argument callables ``alongside``
    (MERGE's delta write, a cluster's bounds job) are submitted first to
    the same pool. At most ``threads`` (default ``_REWRITE_THREADS``) run
    at once. The whole pass is the ``rewrite`` phase of ``pt``; the units'
    stats are its ``stats`` phase.

    With a ``checkpoint``, ``stage = (stage, label)`` makes the pass
    resumable: each written unit appends a ``unit_done`` lineage record
    (source snapshot, input files / bytes / records, the extras
    ``lineage(unit_no)`` returns, output prefix), and a unit the
    checkpoint already holds (``resumed_units``) is not rewritten: its
    recorded prefix is read back for stats.

    Without a checkpoint nothing can resume a unit, so a failed pass
    removes every prefix it created, and a unit that writes no row leaves
    no prefix.

    Returns ``(entries, prefixes)``: the new manifest entries in unit
    order and ``{unit_no: prefix}``."""
    resumed = resumed_units(checkpoint, stage, units)
    src = table.metadata().current_snapshot_id if checkpoint is not None else None
    prefixes: dict = {}
    entries: dict = {}
    made: list = []

    def run(n: int) -> None:
        rows = units[n]
        if n in resumed:
            prefix = resumed[n]["output_prefix"]
        else:
            frame = table.read_data(
                spark, [os.path.join(table.root, p) for p in rows["path"]]
            )
            out = plan(n, frame)
            prefix = table.new_data_prefix()
            made.append(prefix)
            table.data_writer(out).parquet(prefix)
            if checkpoint is not None:
                checkpoint.unit_done(
                    stage[0],
                    f"{stage[1]}-{n}",
                    {
                        "source_snapshot_id": src,
                        "input_files": list(rows["path"]),
                        "input_bytes": int(rows["file_size_bytes"].sum()),
                        "input_records": int(rows["record_count"].sum()),
                        **(lineage(n) if lineage else {}),
                        "output_prefix": prefix,
                    },
                )
        prefixes[n] = prefix
        entries[n] = written_entries(table, spark, prefix, pt)
        if checkpoint is None and (entries[n] is None or not len(entries[n])):
            shutil.rmtree(prefix, ignore_errors=True)

    try:
        with pt.phase("rewrite"), ThreadPoolExecutor(
            max_workers=threads or _REWRITE_THREADS
        ) as pool:
            futures = [pool.submit(fn) for fn in alongside]
            futures += [pool.submit(run, n) for n in units]
            for f in futures:
                f.result()  # surface the first failure
    except BaseException:
        if checkpoint is None:
            for p in made:
                shutil.rmtree(p, ignore_errors=True)
        raise
    frames = [entries[n] for n in sorted(units) if entries[n] is not None]
    if not frames:
        return pd.DataFrame(columns=MANIFEST_BASE_COLS), prefixes
    return pd.concat(frames, ignore_index=True), prefixes


def rewrite_files(
    table: "Table",
    spark: SparkSession,
    files: pd.DataFrame,
    keep,
    target_bytes: int,
    pt,
    alongside=(),
) -> pd.DataFrame:
    """The copy-on-write rewrite every row-level write shares: read the
    manifest rows ``files``, write ``keep(rows)`` back out and return the
    new manifest entries (an empty frame when nothing survives).

    ``rewrite_units`` over path-ordered groups of at most
    ``REWRITE_GROUP_FILES`` files, with ``alongside`` in the same pool,
    under ``rewrite_split_size``."""
    if not len(files) and not alongside:
        return files.iloc[0:0]
    ordered = files.sort_values("path")
    n = REWRITE_GROUP_FILES
    units = {i: ordered.iloc[i * n : (i + 1) * n] for i in range(-(-len(files) // n))}
    with rewrite_split_size(spark, target_bytes, table.root, files):
        entries, _ = rewrite_units(
            table, spark, units, lambda _n, rows: keep(rows), pt, alongside=alongside
        )
    return entries if len(entries) else files.iloc[0:0]


def records(files: pd.DataFrame) -> int:
    """Rows held by the manifest rows ``files``."""
    return int(files["record_count"].sum()) if len(files) else 0


def check_rows_kept(op: str, dropped: pd.DataFrame, added: pd.DataFrame) -> None:
    """Refuse to commit a rewrite that moves rows without changing them
    (compaction, ``cluster``) when the files it adds do not hold exactly
    the rows of the files it drops: a planner that left a piece of a
    dropped file unwritten would otherwise lose those rows silently."""
    if records(dropped) != records(added):
        raise RuntimeError(
            f"{op}: the rewrite writes {records(added)} rows for the "
            f"{records(dropped)} rows of the files it replaces"
        )


def _arrow_pandas(atbl: pa.Table) -> pd.DataFrame:
    """``atbl`` as pandas, via Arrow, NOT toPandas: pandas coerces a
    nullable int64 column that happens to be all-null in this batch to
    float64, which (a) breaks the mergeSchema manifest read against
    sibling int64 manifests and (b) rounds >2^53 values (phash!) —
    unsound stats. Integer columns with nulls become pandas Int64
    (exact)."""
    pdf = atbl.to_pandas()
    for f_ in atbl.schema:
        if pa.types.is_integer(f_.type) and pdf[f_.name].dtype.kind == "f":
            pdf[f_.name] = pd.Series(
                atbl[f_.name].to_pylist(), index=pdf.index, dtype="Int64"
            )
    return pdf


# A partition tuple as one string: every spec field's value cast to
# string, joined by TUPLE_SEP; a NULL field reads as TUPLE_NULL.
TUPLE_SEP = "\x1f"
TUPLE_NULL = "\x00"


def tuple_key_col(partition_cols):
    """Each row's partition tuple as one ``TUPLE_SEP``-joined string."""
    return F.concat_ws(
        TUPLE_SEP,
        *[
            F.coalesce(e.cast("string"), F.lit(TUPLE_NULL))
            for e in transforms.exprs(partition_cols)
        ],
    )


def _tuple_json(fields: list, values: list) -> str:
    """A tuple in the manifest's ``partition_json`` form (``_stats_tail``)."""
    pairs = sorted(zip(fields, values))
    return "{" + ", ".join(json.dumps(f) + ": " + json.dumps(v) for f, v in pairs) + "}"


def pure_tuples(files: pd.DataFrame, fields: list) -> pd.Series:
    """Each manifest row's partition tuple in ``tuple_census``'s ``tuple``
    form, or None for a file that mixes tuples (a ``__mixed__`` field, or
    a field missing: written under another spec)."""

    def pure_key(pj: str) -> Optional[str]:
        d = json.loads(pj)
        if any(d.get(f, "__mixed__") == "__mixed__" for f in fields):
            return None
        return TUPLE_SEP.join(TUPLE_NULL if d[f] is None else str(d[f]) for f in fields)

    pjs = files["partition_json"]
    return pjs.map({pj: pure_key(pj) for pj in pjs.unique()})


def tuple_census(
    table: "Table", spark: SparkSession, files: pd.DataFrame
) -> pd.DataFrame:
    """Rows per (file, partition tuple) of the manifest rows ``files``.

    A file whose ``partition_json`` gives one value (JSON null for the
    NULL tuple) for every field of
    the current spec is *pure*: its one census row is read off the
    manifest. The others (a ``__mixed__`` field, or a file written under
    another spec) are counted by ONE column-pruned
    ``groupBy(file, tuple).count()`` over only their partition source
    columns: no payload byte is read.

    Returns ``path``, ``tuple`` (the tuple's values joined by
    ``TUPLE_SEP``), ``partition_json`` (the tuple in manifest form),
    ``record_count``,
    ``file_size_bytes`` (the file's bytes pro rata by rows) and
    ``slice``: on the rows of a file that holds several tuples, the
    tuple as ``tuple_key_col`` (Spark's string cast) computes it, which
    a rewrite routes rows by; None on a file that holds one. ``tuple``
    and ``partition_json`` format every value as the manifest does
    (``_stats_tail``'s string of the typed value), so a pure and a mixed
    file of one tuple agree whatever the value's type (a boolean reads
    ``True`` there, ``true`` in Spark's cast)."""
    cols = ["path", "partition_json", "record_count", "file_size_bytes"]
    spec = table.metadata().partition_cols
    fields = transforms.field_names(spec)
    keys = pure_tuples(files, fields)
    pure = files.loc[keys.notna(), cols].assign(tuple=keys[keys.notna()], slice=None)
    mixed = files.loc[keys.isna(), cols]
    if not len(mixed):
        return pure.reset_index(drop=True)
    vcols = [f"__v{i}" for i in range(len(fields))]
    counts = _arrow_pandas(
        table.read_data(spark, [os.path.join(table.root, p) for p in mixed["path"]])
        .select(
            rel_path_expr(table.root).alias("path"),
            tuple_key_col(spec).alias("slice"),
            *[e.alias(v) for e, v in zip(transforms.exprs(spec), vcols)],
        )
        .groupBy("path", "slice", *vcols)
        .count()
        .toArrow()
    )
    vals = list(
        zip(*[counts[v].astype(str).where(counts[v].notna(), None) for v in vcols])
    )
    census = pd.DataFrame(
        {
            "path": counts["path"],
            "tuple": [
                TUPLE_SEP.join(TUPLE_NULL if x is None else x for x in row) for row in vals
            ],
            "partition_json": [_tuple_json(fields, list(row)) for row in vals],
            "record_count": counts["count"].astype("int64"),
        },
        columns=["path", "tuple", "partition_json", "record_count"],
    )
    per_file = census.groupby("path")["record_count"]
    size = census["path"].map(mixed.set_index("path")["file_size_bytes"]).astype("int64")
    share = size * census["record_count"] // per_file.transform("sum")
    census["file_size_bytes"] = share.astype("int64")
    census["slice"] = counts["slice"].where(per_file.transform("size") > 1, None)
    return pd.concat([pure, census[pure.columns]], ignore_index=True)


def join_pieces(
    table: "Table", df: DataFrame, pieces: DataFrame, sliced: bool
) -> DataFrame:
    """The rows of ``df``, a rewrite's input frame, that belong to
    ``pieces``, a small frame of ``__pp`` (file path) and ``__pt`` (a
    ``slice`` of ``tuple_census``, or NULL), broadcast: a row matches
    the piece of its file whose ``__pt`` is NULL (the whole file) or its
    own tuple (one tuple's rows of a mixed file). ``sliced`` says whether
    any ``__pt`` is set; without one the join is on the path alone. The
    pieces' other columns ride along; ``__pp`` and ``__pt`` are dropped."""
    rows = df.withColumn("__rp", rel_path_expr(table.root))
    cond = rows["__rp"] == F.col("__pp")
    if sliced:
        tk = tuple_key_col(table.metadata().partition_cols)
        cond = cond & (F.col("__pt").isNull() | (F.col("__pt") == tk))
    return rows.join(F.broadcast(pieces), cond).drop("__rp", "__pp", "__pt")


class FileSwap:
    """The one commit under every non-append write: a delta against the
    snapshot the write planned on.

    The swap pins its *base*, the current snapshot, when it is created;
    ``man`` and ``snapshot`` read that base, so a caller creates the swap
    before it plans. It records the data files the write drops (``drop``,
    ``rewrite``) and adds (``rewrite``, ``insert``, ``add``), and the
    delete files it adds and retires (``add_deletes``). ``Table.commit``
    applies that delta to the head, which may have moved since the base
    only by appends (``CommitConflictError`` otherwise).

    Used as a context manager around the whole write: if anything raises
    before the commit lands, every prefix the swap recorded (inserted,
    rewritten and added files, added delete files) is removed. A
    whole-table replace drops ``swap.man`` and inserts the new frame."""

    def __init__(self, table: "Table", spark: SparkSession, pt=None):
        self.table, self.spark, self.pt = table, spark, pt
        meta = table.metadata()
        self.base: Optional[int] = meta.current_snapshot_id
        self.snapshot: Optional[Snapshot] = next(
            (s for s in meta.snapshots if s.snapshot_id == self.base), None
        )
        self.dropped: list = []
        self.rewritten: list = []
        self.added: list = []  # every added manifest frame, rewrites included
        self.inserted: Optional[pd.DataFrame] = None
        self.delete_paths: list = []
        self.eq_deletes: list = []
        self.retired: set = set()
        self._man: Optional[pd.DataFrame] = None
        self._landed = False

    def __enter__(self) -> "FileSwap":
        return self

    def __exit__(self, exc_type, exc, tb) -> None:
        if exc_type is not None and not self._landed:
            paths = [p for e in self.added for p in e["path"]] + self.delete_paths
            paths += [e["path"] for e in self.eq_deletes]
            for rel in {os.path.dirname(p) for p in paths}:
                shutil.rmtree(os.path.join(self.table.root, rel), ignore_errors=True)

    @property
    def man(self) -> pd.DataFrame:
        """The base manifest (empty for a table with no snapshot), read
        on first use."""
        if self._man is None:
            self._man = (
                pd.DataFrame(columns=MANIFEST_BASE_COLS)
                if self.base is None
                else self.table.manifest_pdf(self.base)
            )
        return self._man

    def insert(self, df: DataFrame) -> pd.DataFrame:
        """Write ``df`` (the ``write`` phase) as the swap's inserted files."""
        with self.pt.phase("write") if self.pt else nullcontext():
            self.inserted = self.table.write_files(df)
        self.added.append(self.inserted)
        return self.inserted

    def add(self, entries: Optional[pd.DataFrame]) -> None:
        """Add the manifest entries of files already written elsewhere."""
        if entries is not None:
            self.added.append(entries)

    def drop(self, files: pd.DataFrame) -> None:
        """Remove the manifest rows ``files`` wholesale."""
        self.dropped.append(files)

    def rewrite(
        self, files: pd.DataFrame, keep, target_bytes: int, alongside=()
    ) -> pd.DataFrame:
        """Replace the manifest rows ``files`` by ``rewrite_files`` of them."""
        entries = rewrite_files(
            self.table, self.spark, files, keep, target_bytes, self.pt, alongside
        )
        self.dropped.append(files)
        self.rewritten.append(entries)
        self.added.append(entries)
        return entries

    def add_deletes(self, positional=(), equality=(), retire=()) -> None:
        """Add positional delete files (relative paths) and equality
        deletes (``{"path", "cols", "as_of_snapshot_id"}`` dicts); take
        the pending delete files ``retire`` out of the delete sets."""
        self.delete_paths += list(positional)
        self.eq_deletes += [dict(e) for e in equality]
        self.retired |= set(retire)

    def commit(
        self, operation: str, summary: dict, rows_key="rows_deleted", **kw
    ) -> Snapshot:
        """Commit the swap. ``summary[rows_key]`` (unless ``rows_key`` is
        None) is the rows removed: those of the dropped and rewritten
        files minus those their rewrites kept. ``insert_prefix`` names
        the inserted files, the logical inserts of the snapshot
        (``logical_adds``). ``kw`` goes to ``Table.commit``."""
        summ = dict(summary)
        if rows_key:
            summ[rows_key] = sum(records(f) for f in self.dropped) - sum(
                records(e) for e in self.rewritten
            )
        if self.inserted is not None and len(self.inserted):
            summ["insert_prefix"] = (
                os.path.dirname(str(self.inserted.iloc[0]["path"])) + "/"
            )
        adds = [e for e in self.added if len(e)]
        snap = self.table.commit(
            operation,
            pd.concat(adds, ignore_index=True)
            if adds
            else pd.DataFrame(columns=MANIFEST_BASE_COLS),
            summ,
            swap=self,
            **kw,
        )
        self._landed = True
        return snap


# operations whose added files can hold logically new rows
_ADDING_OPS = ("append", "overwrite", "merge", "update")


def _one_sided(paths: pd.DataFrame) -> pd.DataFrame:
    """The rows of ``paths`` (``path``; ``side`` 0 for a parent's
    manifest files, 1 for its child's) whose path is on one side only:
    added (1) or removed (0) files. A snapshot lists a path once."""
    return paths.loc[~paths["path"].duplicated(keep=False), ["path", "side"]]


def logical_adds(s: Snapshot, added) -> list:
    """The files among ``added`` (paths new to snapshot ``s``'s manifest)
    that hold logically new rows, sorted: the one incremental-read rule
    under ``Table.changes`` and the ``medallion`` streaming source.

    An append adds rows in all of them; an overwrite in its
    ``insert_prefix`` (all when unset), since its boundary keep-rewrites
    carry pre-existing rows; a merge or update only in its
    ``delta_prefix`` (none when unset: a copy-on-write update's rewrites
    hold old rows). Replace / expire / delete add none: physical-only or
    row removal, which surfaces in ``changes_cdc``."""
    if s.operation == "append":
        prefix = ""
    elif s.operation == "overwrite":
        prefix = s.summary.get("insert_prefix") or ""
    elif s.operation in ("merge", "update") and s.summary.get("delta_prefix"):
        prefix = s.summary["delta_prefix"]
    else:
        return []
    return sorted(p for p in added if p.startswith(prefix))


def rel_path_expr(root: str):
    """``_metadata.file_path`` (a file:-scheme URI) → path relative to the
    table root, computed JVM-side so joins/maps against manifest-stored
    relative paths use exactly matching strings."""
    import re as _re

    p = F.regexp_replace(F.col("_metadata.file_path"), "^file:/+", "/")
    return F.regexp_replace(p, "^" + _re.escape(root.rstrip("/") + "/"), "")


def _ddl_arrow_types(schema_ddl: str) -> dict:
    """{column: arrow type} from a Spark DDL string, driver-side (no
    session needed — commit() must stay pure-driver). Splits fields on
    depth-0 commas so decimal(10,2) / map<k,v> / struct<...> survive;
    unknown/nested types fall back to string (only used to type
    ALL-NULL stats columns, where any consistent type is sound as long
    as it matches the non-null manifests — nested types never collect
    min/max stats here)."""
    simple = {
        "string": pa.string(), "varchar": pa.string(), "char": pa.string(),
        "bigint": pa.int64(), "long": pa.int64(),
        "int": pa.int32(), "integer": pa.int32(),
        "smallint": pa.int16(), "tinyint": pa.int8(),
        "double": pa.float64(), "float": pa.float32(), "real": pa.float32(),
        "boolean": pa.bool_(), "binary": pa.binary(),
        "date": pa.date32(), "timestamp": pa.timestamp("us"),
    }
    out: dict = {}
    depth = 0
    field = ""
    fields = []
    for ch in schema_ddl:
        if ch in "<(":
            depth += 1
        elif ch in ">)":
            depth -= 1
        if ch == "," and depth == 0:
            fields.append(field)
            field = ""
        else:
            field += ch
    if field.strip():
        fields.append(field)
    for f_ in fields:
        parts = f_.strip().split(None, 1)
        if len(parts) != 2:
            continue
        name, typ = parts[0].strip("`"), parts[1].strip().lower()
        base = typ.split("(")[0].split("<")[0].strip()
        out[name] = simple.get(base, pa.string())
    return out


def _footer_file_stats(path: str, want_cols) -> Optional[dict]:
    """One parquet file's row-group footer statistics folded to per-file
    ``{col: (min, max, null_count)}`` plus row count and byte size.

    Returns None when the footer cannot PROVE exact stats — missing
    min/max on a chunk that isn't all-null (float NaN, INT96, writer
    opted out), or string/binary bounds long enough (≥ 48 bytes) that
    writer-side truncation may have rounded them — and the caller falls
    back to the data-scan collector. Pure pyarrow + os.stat: safe on
    executors, no Spark session."""
    try:
        md = pq.ParquetFile(path).metadata
    except Exception:
        return None
    idx = {}
    if md.num_row_groups:
        rg0 = md.row_group(0)
        for j in range(rg0.num_columns):
            idx[rg0.column(j).path_in_schema] = j
    cols = {}
    for c in want_cols:
        if md.num_row_groups and c not in idx:
            return None
        mn = mx = None
        nulls = 0
        for i in range(md.num_row_groups):
            rg = md.row_group(i)
            st = rg.column(idx[c]).statistics
            if st is None or not st.has_null_count:
                return None
            nulls += st.null_count
            if st.null_count == rg.num_rows:
                continue  # all-null chunk: no bounds to contribute
            if not st.has_min_max:
                return None
            lo, hi = st.min, st.max
            for v in (lo, hi):
                if isinstance(v, (str, bytes)) and len(v) >= 48:
                    return None
            mn = lo if mn is None or lo < mn else mn
            mx = hi if mx is None or hi > mx else mx
        cols[c] = (mn, mx, nulls)
    return {"n": md.num_rows, "size": os.path.getsize(path), "cols": cols}


def _strip_scheme(p: str) -> str:
    """file:/x, file:///x → /x (Hadoop FS URIs from _metadata.file_path)."""
    if p.startswith("file:"):
        p = p[5:]
        while p.startswith("//"):
            p = p[1:]
    return p


def _pred_to_column(col: str, op: str, value):
    c = F.col(col)
    if op == ">=":
        return c >= value
    if op == "<=":
        return c <= value
    if op == "=":
        return c == value
    if op == "between":
        return (c >= value[0]) & (c <= value[1])
    if op == "in":
        # Catalyst pushes In to the parquet reader, where both dictionary
        # and footer-bloom row-group skipping apply per value
        return c.isin(*list(value))
    if op == "isnull":
        return c.isNull()
    if op == "notnull":
        return c.isNotNull()
    raise ValueError(f"unsupported predicate op {op!r}")


def statable_cols(meta) -> list:
    """Columns whose manifest stats may legitimately prune files:
    identity partition sources + stats_cols, MINUS default-valued
    columns. A defaulted column's physical NULLs read as the default
    (see :meth:`Table.read_data`), so its per-file min/max/null-count
    no longer describe what a scan observes — pruning or containment
    proofs on it would be unsound. Excluding it prunes less, never
    wrong; rewrites materialize the default and new files' stats become
    truthful again, but the column stays excluded while the default is
    live (cheap and simple beats tracking per-file schema generations).
    """
    cols = transforms.field_names(meta.partition_cols) + list(meta.stats_cols)
    dfl = json.loads(str(meta.properties.get(DEFAULTS_PROP, "{}")))
    if not dfl:
        return cols
    return [c for c in cols if c not in dfl]


def typed_predicates(meta, preds) -> list:
    """``preds`` with each literal in the type of its column's stats: an
    ISO date string on a date column reads as a date; any other string
    stays as it is, and pruning proves nothing on it. Row filters keep
    the originals."""
    types = _ddl_arrow_types(meta.schema_ddl)
    dates = {c for c, t in types.items() if pa.types.is_date(t)}

    def typed(v):
        try:
            return transforms._to_date(v) if isinstance(v, str) else v
        except ValueError:
            return v

    def literal(col, op, value):
        if col not in dates or op in ("isnull", "notnull"):
            return value
        if op in ("between", "in"):
            return type(value)(map(typed, value))
        return typed(value)

    return [(col, op, literal(col, op, value)) for col, op, value in preds]


def prune_predicates(meta, preds) -> list:
    """What file pruning plans from: ``preds`` typed, plus every sound
    transform-space derivation (``transforms.extend_predicates``)."""
    return transforms.extend_predicates(
        meta.partition_cols, typed_predicates(meta, preds)
    )


def prune_manifest(man: pd.DataFrame, preds, stats_cols) -> pd.DataFrame:
    """File-level min/max pruning of a manifest: the one set of survival
    rules, run on the driver, or per Arrow batch of the manifest relation
    by :func:`prune_manifest_spark`.

    A file survives only if every predicate's range intersects the file's
    [min,max] for that column. Null-only files (min/max NaN) are kept —
    pruning must never be unsound — and a predicate whose literal the
    stats cannot be compared with prunes nothing.
    """
    mask = pd.Series(True, index=man.index)
    for col, op, value in preds:
        if op not in (">=", "<=", "=", "between", "in", "isnull", "notnull"):
            raise ValueError(f"unsupported predicate op {op!r}")
        if col not in stats_cols:
            continue  # no stats → cannot prune on this column
        if op in ("isnull", "notnull"):
            if f"nulls_{col}" not in man.columns:
                continue
            nulls = man[f"nulls_{col}"]
            has = nulls.notna()
            cond = pd.Series(True, index=man.index)
            if op == "isnull":
                cond.loc[has] = nulls[has] > 0
            else:
                cond.loc[has] = nulls[has] < man.loc[has, "record_count"]
            mask &= cond
            continue
        if f"min_{col}" not in man.columns:
            # stats never collected for this column (e.g. manifests from
            # before a partition-spec evolution) → cannot prune, keep all
            continue
        mn, mx = man[f"min_{col}"], man[f"max_{col}"]
        has = mn.notna() & mx.notna()
        # compare only rows WITH stats: object-dtype columns (strings)
        # raise on NaN comparisons, and stat-less rows must be kept anyway
        cond = pd.Series(True, index=man.index)
        m, x = mn[has], mx[has]
        try:
            if op == ">=":
                cond.loc[has] = x >= value
            elif op == "<=":
                cond.loc[has] = m <= value
            elif op == "=":
                cond.loc[has] = (m <= value) & (x >= value)
            elif op == "between":
                lo, hi = value
                cond.loc[has] = (x >= lo) & (m <= hi)
            else:  # in
                acc = pd.Series(False, index=m.index)
                for v in value:
                    acc |= (m <= v) & (x >= v)
                cond.loc[has] = acc
        except (TypeError, ValueError):
            continue  # an incomparable literal proves nothing
        mask &= cond
    return man[mask]


def prune_manifest_spark(
    spark: SparkSession, manifests: list, preds, stats_cols
) -> DataFrame:
    """The paths (one ``path`` column) of the entries of the manifest
    files ``manifests`` (absolute paths) that survive
    :func:`prune_manifest`, run on executors: the >
    SPARK_MANIFEST_THRESHOLD path, where the manifest is big data.

    One unit per manifest row group: a task reads only ``path`` and the
    columns the rules read with pyarrow, as the driver does, so no
    manifest row crosses the JVM (moving a row to a Python worker costs
    more than pruning it). A file that lacks a stats column (written
    before the column had stats) prunes nothing on it."""
    stats = {f"{k}_{c}" for c, _, _ in preds for k in ("min", "max", "nulls")}
    units = [
        (m, g) for m in manifests for g in range(pq.ParquetFile(m).num_row_groups)
    ]

    def run(batches):
        for b in batches:
            for m, g in zip(b["manifest"].to_pylist(), b["row_group"].to_pylist()):
                f = pq.ParquetFile(m)
                names = f.schema_arrow.names
                cols = [c for c in names if c in stats or c == "record_count"]
                tbl = f.read_row_group(g, columns=["path", *cols])
                man = _arrow_pandas(tbl.select(cols))
                kept = man.index.isin(prune_manifest(man, preds, stats_cols).index)
                yield from tbl.select(["path"]).filter(pa.array(kept)).to_batches()

    return local_frame(
        spark,
        {"manifest": [m for m, _ in units], "row_group": [g for _, g in units]},
        "manifest string, row_group int",
    ).mapInArrow(run, "path string")


def map_groups(man, fn, ddl: str, by: str, cols: list) -> pd.DataFrame:
    """``fn`` (a pandas frame of the ``cols`` it reads → a frame of the
    ``ddl`` columns) over each ``by`` group of ``man``, concatenated: on
    the driver when ``man`` is pandas, else per group on executors
    (``applyInArrow``). Arrow converts through ``_arrow_pandas``:
    ``applyInPandas`` would make a nullable BIGINT float64 and round
    phash stats past 2^53."""
    if isinstance(man, pd.DataFrame):
        man = man[[by, *cols]]
        parts = [fn(g) for _, g in man.groupby(by, sort=False)] or [fn(man)]
        return pd.concat(parts, ignore_index=True)
    schema = pa.schema(list(_ddl_arrow_types(ddl).items()))

    def run(atbl: pa.Table) -> pa.Table:
        out = fn(_arrow_pandas(atbl))
        return pa.Table.from_pandas(out, schema=schema, preserve_index=False)

    grouped = man.select(by, *cols).groupBy(by)
    return _arrow_pandas(grouped.applyInArrow(run, ddl).toArrow())


# Iceberg v2 write-mode properties (write.delete.mode / write.update.mode /
# write.merge.mode): the TABLE declares whether its DML defaults to
# copy-on-write (bulk-change friendly) or merge-on-read (sparse-change
# friendly); operators resolve mode=None against these, and an explicit
# mode= argument always wins — exactly Iceberg's precedence.
WRITE_DELETE_MODE_PROP = "write.delete.mode"
WRITE_UPDATE_MODE_PROP = "write.update.mode"
WRITE_MERGE_MODE_PROP = "write.merge.mode"


def resolve_write_mode(meta: "TableMetadata", op: str, mode) -> str:
    """``mode`` if given, else the table's ``write.<op>.mode`` property,
    else copy-on-write (Iceberg's default). Anything but copy-on-write
    or merge-on-read raises, before the operation writes anything."""
    if mode is None:
        mode = str(
            meta.properties.get(f"write.{op}.mode", "copy-on-write")
        ).strip().lower()
    if mode not in ("copy-on-write", "merge-on-read"):
        raise ValueError(
            f"{op} mode must be 'copy-on-write' or 'merge-on-read', got {mode!r}"
        )
    return mode
