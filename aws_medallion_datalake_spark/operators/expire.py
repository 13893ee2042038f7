"""Snapshot expiry with reachability GC + orphan sweep.

The reference retires nothing — every overwrite leaks the previous files
until S3 lifecycle rules (not in repo) clean them. Here expiry is a
first-class metadata operation (north_star: "snapshot expiry with
reachability GC, manifest-list rewrite"):

1. choose retained snapshots (always the current one; plus ``keep_last`` /
   ``older_than_ms`` policy),
2. reachable set = union of every retained manifest's file list + the
   retained manifest files themselves,
3. delete unreachable data files, expired manifests, and orphan commit
   prefixes (from aborted writes); metadata JSON versions are kept (tiny,
   and they are the audit trail),
4. write a new metadata version whose snapshot list contains only the
   retained snapshots.

Two GC executions share that policy:

- **driver path** (default below ``SPARK_MANIFEST_THRESHOLD`` manifest
  entries): ``os.walk`` + a python set — zero job overhead for the
  common small/medium table.
- **Spark path** (``spark=`` given and the retained manifests hold more
  than ``SPARK_MANIFEST_THRESHOLD`` entries): the listing parallelizes over commit
  prefixes (one executor task walks each slice), the reachable set is
  the retained manifests read as parquet, orphans = listing ANTI-JOIN
  reachable, and deletion runs in ``foreachPartition`` — no file list
  ever materializes on the driver, so 10^8-file tables GC at executor
  parallelism.
"""

from __future__ import annotations

import os
import shutil
import time
from typing import Optional

import pyarrow.parquet as pq

from ..session import local_frame
from ..sources.tableformat import SPARK_MANIFEST_THRESHOLD, Table


def _spark_gc(table: Table, spark, retained, dry_run: bool) -> tuple:
    """Distributed orphan GC over ``data_dir``: returns
    (deleted_files, freed_bytes) for files unreachable from any retained
    manifest."""
    from pyspark.sql import functions as F

    sc = spark.sparkContext
    prefixes = sorted(
        os.path.join(table.data_dir, d)
        for d in os.listdir(table.data_dir)
        if os.path.isdir(os.path.join(table.data_dir, d))
    )
    if not prefixes:
        return 0, 0

    def _walk(paths):
        import os as _os

        for p in paths:
            for dirpath, _dn, fns in _os.walk(p):
                for fn in fns:
                    full = _os.path.join(dirpath, fn)
                    try:
                        yield (full, _os.path.getsize(full))
                    except OSError:  # racing writer/cleaner
                        pass

    n_slices = max(1, min(len(prefixes), sc.defaultParallelism * 4))
    listing = spark.createDataFrame(
        sc.parallelize(prefixes, n_slices).mapPartitions(_walk),
        schema="abs_path string, size long",
    )
    manifest_paths = sorted(
        {os.path.join(table.root, rel) for s in retained for rel in s.manifest_paths}
    )
    delete_paths = sorted(
        {os.path.join(table.root, rel) for s in retained for rel in s.delete_paths}
        | {os.path.join(table.root, e["path"]) for s in retained for e in s.eq_deletes}
    )
    if manifest_paths:
        sep = os.sep
        reach = (
            spark.read.parquet(*manifest_paths)
            .select(
                F.concat(F.lit(table.root + sep), F.col("path")).alias("abs_path")
            )
            .distinct()
        )
        if delete_paths:  # retained MoR delete files live under data/ too
            reach = reach.unionByName(
                local_frame(spark, {"abs_path": delete_paths}, "abs_path string")
            )
        orphans = listing.join(reach, "abs_path", "left_anti")
    else:
        orphans = listing
    orphans = orphans.persist()
    try:
        agg = orphans.agg(
            F.count(F.lit(1)).alias("n"), F.coalesce(F.sum("size"), F.lit(0)).alias("b")
        ).first()
        if not dry_run and agg["n"]:

            def _rm(rows):
                import os as _os

                for r in rows:
                    try:
                        _os.remove(r.abs_path)
                    except OSError:
                        pass

            orphans.foreachPartition(_rm)
    finally:
        orphans.unpersist()
    return int(agg["n"]), int(agg["b"])


def expire_snapshots(
    table: Table,
    *,
    spark=None,
    keep_last: Optional[int] = None,
    older_than_ms: Optional[int] = None,
    dry_run: bool = False,
) -> dict:
    """Expire old snapshots and GC unreachable files. Returns metrics.

    Retention resolves explicit arguments first, then the table's
    Iceberg retention properties, then the engine defaults —
    ``history.expire.min-snapshots-to-keep`` → ``keep_last`` (default 1)
    and ``history.expire.max-snapshot-age-ms`` → ``older_than_ms``
    (cutoff = now − age), so a table can carry its own policy and every
    unparameterized ``expire_snapshots(t)`` / ``VACUUM`` honors it.
    """
    t0 = time.time()
    version = table.current_version()
    meta = table.metadata(version)
    if keep_last is None:
        keep_last = int(
            meta.properties.get("history.expire.min-snapshots-to-keep", 1)
        )
    if older_than_ms is None:
        age = meta.properties.get("history.expire.max-snapshot-age-ms")
        if age is not None:
            older_than_ms = int(time.time() * 1000) - int(age)
    snaps = sorted(meta.snapshots, key=lambda s: s.snapshot_id)
    retained = [s for s in snaps[-keep_last:]] if keep_last > 0 else []
    if older_than_ms is not None:
        retained = [
            s for s in snaps if s.timestamp_ms >= older_than_ms or s in retained
        ]
    current = [s for s in snaps if s.snapshot_id == meta.current_snapshot_id]
    # tagged snapshots (ref.<name>) and branch heads (branch.<name>) are
    # pinned from expiry — Iceberg ref-retention semantics. Pinning only
    # the HEAD suffices for file reachability: its manifest list names
    # every manifest (ancestors' delta manifests included), so branch data
    # files stay reachable even when branch-ancestor snapshot log entries
    # are reaped.
    tagged_ids = {
        int(v)
        for k, v in meta.properties.items()
        if k.startswith("ref.") or k.startswith("branch.")
    }
    tagged = [s for s in snaps if s.snapshot_id in tagged_ids]
    # staged-unpublished WAP snapshots are pinned too: their files are not
    # reachable from any published snapshot, so an expiry between stage
    # and publish would GC the very data the audit is gating
    staged = [s for s in snaps if s.summary.get("staged") == "true"]
    # snapshots referenced by PENDING equality deletes are pinned: the
    # scan-side sequence rule needs the as_of snapshot's manifests to
    # decide which files the delete covers, until apply_deletes clears it
    eq_pinned_ids = {
        int(e["as_of_snapshot_id"])
        for s in (current or snaps[-1:]) + tagged
        for e in s.eq_deletes
    }
    eq_pinned = [s for s in snaps if s.snapshot_id in eq_pinned_ids]
    retained = sorted(
        {
            s.snapshot_id: s
            for s in retained + current + tagged + staged + eq_pinned
        }.values(),
        key=lambda s: s.snapshot_id,
    )
    expired = [s for s in snaps if s not in retained]

    retained_manifests = {
        os.path.join(table.root, rel) for s in retained for rel in s.manifest_paths
    }
    n_entries = sum(
        pq.ParquetFile(m).metadata.num_rows for m in retained_manifests
    )
    use_spark = spark is not None and n_entries > SPARK_MANIFEST_THRESHOLD
    reachable = set(retained_manifests)
    reachable.update(
        os.path.join(table.root, rel) for s in retained for rel in s.delete_paths
    )
    reachable.update(
        os.path.join(table.root, e["path"]) for s in retained for e in s.eq_deletes
    )
    if use_spark:
        deleted_files, freed_bytes = _spark_gc(table, spark, retained, dry_run)
    else:
        for mpath in sorted(retained_manifests):
            man = pq.read_table(mpath, columns=["path"])
            reachable.update(
                os.path.join(table.root, p) for p in man.column("path").to_pylist()
            )
        deleted_files = 0
        freed_bytes = 0
        for dirpath, _dirnames, filenames in os.walk(table.data_dir):
            for fn in filenames:
                full = os.path.join(dirpath, fn)
                if full not in reachable:
                    freed_bytes += os.path.getsize(full)
                    deleted_files += 1
                    if not dry_run:
                        os.remove(full)
    # expired manifests (delta manifests shared with a retained snapshot's
    # manifest list survive — reachable includes every retained manifest)
    expired_manifests = {
        os.path.join(table.root, rel) for s in expired for rel in s.manifest_paths
    } - retained_manifests
    for mpath in sorted(expired_manifests):
        if os.path.exists(mpath) and mpath not in reachable:
            freed_bytes += os.path.getsize(mpath)
            deleted_files += 1
            if not dry_run:
                os.remove(mpath)

    if not dry_run:
        # sweep now-empty orphan commit prefixes
        for entry in os.listdir(table.data_dir):
            full = os.path.join(table.data_dir, entry)
            if os.path.isdir(full) and not any(os.scandir(full)):
                shutil.rmtree(full)
        # manifest-list rewrite: new metadata version with only retained snaps
        meta.snapshots = retained
        table._write_metadata_version(version + 1, meta)

    return {
        "stage": "expire",
        "expired_snapshots": [s.snapshot_id for s in expired],
        "retained_snapshots": [s.snapshot_id for s in retained],
        "deleted_files": deleted_files,
        "freed_bytes": int(freed_bytes),
        "dry_run": dry_run,
        "duration_sec": round(time.time() - t0, 3),
    }


def remove_orphan_files(
    table: Table,
    *,
    older_than_ms: Optional[int] = None,
    older_than_hours: float = 24.0,
    dry_run: bool = False,
) -> dict:
    """Delete data files not referenced by ANY snapshot (Iceberg's
    ``removeOrphanFiles``). Distinct from :func:`expire_snapshots`: no
    history is dropped — this sweeps only debris from aborted writes
    (a rewrite job that died between writing files and committing).

    The age gate is the safety contract: files younger than the cutoff
    (default 24 h, Iceberg's default) are kept because they may belong
    to an in-flight commit whose manifest isn't visible yet. Pass
    ``older_than_ms`` (epoch ms) to override, e.g. ``0`` never deletes,
    ``time.time()*1000`` sweeps everything unreferenced (single-writer
    test setups only).
    """
    t0 = time.time()
    cutoff_ms = (
        older_than_ms
        if older_than_ms is not None
        else (time.time() - older_than_hours * 3600) * 1000
    )
    reachable = {
        os.path.join(table.root, rel) for rel in table.all_reachable_paths()
    }
    deleted_files = 0
    freed_bytes = 0
    for dirpath, _dirnames, filenames in os.walk(table.data_dir):
        for fn in filenames:
            full = os.path.join(dirpath, fn)
            try:
                if full in reachable or os.path.getmtime(full) * 1000 >= cutoff_ms:
                    continue
                size = os.path.getsize(full)
            except OSError:  # racing writer
                continue
            freed_bytes += size
            deleted_files += 1
            if not dry_run:
                os.remove(full)
    if not dry_run:
        for entry in os.listdir(table.data_dir):
            full = os.path.join(table.data_dir, entry)
            if os.path.isdir(full) and not any(os.scandir(full)):
                shutil.rmtree(full)
    return {
        "stage": "remove_orphan_files",
        "deleted_files": deleted_files,
        "freed_bytes": int(freed_bytes),
        "dry_run": dry_run,
        "duration_sec": round(time.time() - t0, 3),
    }
