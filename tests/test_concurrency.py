"""Optimistic-concurrency commit protocol (Iceberg commit semantics).

Reference parity: the reference relies on Glue/LakeFormation to serialize
writers (terraform/glue_digit.tf); this engine implements Iceberg's
optimistic protocol itself — metadata-version CAS, transparent rebase for
appends, and a ``FileSwap`` delta for every other write that rebases over
appends and fails validation over anything else.
"""

import os
import threading

import pytest
from pyspark.sql import functions as F

from aws_medallion_datalake_spark.operators import (
    cluster,
    compact,
    delete_where,
    equality_delete,
    expire_snapshots,
    merge_into,
    update_where,
)
from aws_medallion_datalake_spark.sources.generator import SCHEMA, generate_images
from aws_medallion_datalake_spark.sources.tableformat import (
    CommitConflictError,
    Table,
)

STATS = ["phash", "w", "h", "image_id"]


@pytest.fixture()
def table(tmp_path, spark):
    t = Table.create(
        str(tmp_path / "images"),
        schema_ddl=SCHEMA,
        partition_cols=["ingest_date"],
        stats_cols=STATS,
    )
    df = generate_images(spark, 100, n_files=4, n_dates=2)
    t.commit("append", t.write_files(df))
    return t


def test_racing_appends_all_land(table, spark):
    """N writers racing append commits: every commit lands exactly once
    (rebased onto whichever head won), totals are the sum of all parts."""
    n_writers, rows_each = 6, 30
    entries = []
    for i in range(n_writers):
        df = generate_images(spark, rows_each, n_files=2, start=1000 + i * rows_each)
        entries.append(table.write_files(df))

    barrier = threading.Barrier(n_writers)
    errors = []

    def run(man):
        barrier.wait()
        try:
            table.commit("append", man, max_retries=30)
        except BaseException as e:  # noqa: BLE001 — collected for the assert
            errors.append(e)

    threads = [threading.Thread(target=run, args=(m,)) for m in entries]
    for t in threads:
        t.start()
    for t in threads:
        t.join()

    assert not errors, errors
    meta = table.metadata()
    # 1 seed + n_writers appends, all on one linear history
    assert len(meta.snapshots) == 1 + n_writers
    chain = {s.snapshot_id: s.parent_snapshot_id for s in meta.snapshots}
    seen = set()
    cur = meta.current_snapshot_id
    while cur is not None:
        assert cur not in seen
        seen.add(cur)
        cur = chain[cur]
    assert len(seen) == 1 + n_writers
    head = table.snapshot(meta.current_snapshot_id)
    assert int(head.summary["total_records"]) == 100 + n_writers * rows_each
    assert table.scan(spark).count() == 100 + n_writers * rows_each


def test_append_rebases_over_concurrent_winner(table, spark, monkeypatch):
    """Deterministic race: a competing append lands between our head read
    and our CAS. The additive commit must rebase and keep BOTH file sets."""
    competitor = table.write_files(
        generate_images(spark, 40, n_files=2, start=2000)
    )
    ours = table.write_files(generate_images(spark, 25, n_files=1, start=3000))

    other = Table(table.root)
    orig = Table._write_manifest
    fired = {}

    def inject_then_write(self, sid, man):
        if not fired:
            fired["armed"] = True  # guard against recursion via other.commit
            fired["winner"] = other.commit("append", competitor).snapshot_id
        return orig(self, sid, man)

    monkeypatch.setattr(Table, "_write_manifest", inject_then_write)
    snap = table.commit("append", ours)
    # rebase: our snapshot parents on the competitor's, not the seed
    assert snap.parent_snapshot_id == fired["winner"]
    assert int(snap.summary["total_records"]) == 100 + 40 + 25
    assert table.scan(spark).count() == 165


def test_nonadditive_commit_raises_on_lost_race(table, spark, monkeypatch):
    """A replace commit encodes the parent's exact file set; losing the CAS
    must surface as CommitConflictError (Iceberg validation failure), and
    the winner's commit must remain intact."""
    competitor = table.write_files(
        generate_images(spark, 10, n_files=1, start=4000)
    )
    rewrite = table.write_files(generate_images(spark, 100, n_files=2, start=5000))

    other = Table(table.root)
    orig = Table._write_manifest
    fired = {}

    def inject_then_write(self, sid, man):
        if not fired:
            fired["armed"] = True  # guard against recursion via other.commit
            other.commit("append", competitor)
        return orig(self, sid, man)

    monkeypatch.setattr(Table, "_write_manifest", inject_then_write)
    with pytest.raises(CommitConflictError):
        table.commit("replace", rewrite)
    # winner intact; loser left no visible state
    assert table.scan(spark).count() == 110
    # re-plan against the new head succeeds (the caller's retry contract)
    monkeypatch.setattr(Table, "_write_manifest", orig)
    full = table.manifest_pdf()
    table.commit("replace", full)
    assert table.scan(spark).count() == 110


# ---- writers whose head moved between planning and commit ----
#
# Each race below injects the competing commit through a second handle
# after our write has planned and written its files, right before its
# own Table.commit runs: the window a long rewrite leaves open.


@pytest.fixture()
def table8(tmp_path, spark):
    t = Table.create(
        str(tmp_path / "race"),
        schema_ddl=SCHEMA,
        partition_cols=["ingest_date"],
        stats_cols=STATS,
    )
    t.commit("append", t.write_files(generate_images(spark, 100, n_files=8, n_dates=2)))
    return t


def _race(monkeypatch, table, competitor):
    """Run ``competitor(other)`` (``other`` a second handle on the table)
    once, just before ``table``'s next commit; returns a dict whose
    ``"winner"`` is what it returned."""
    other = Table(table.root)
    orig = table.commit
    fired: dict = {}

    def commit(*args, **kwargs):
        if not fired:
            fired["winner"] = competitor(other)
        return orig(*args, **kwargs)

    monkeypatch.setattr(table, "commit", commit)
    return fired


def _append10(spark):
    def competitor(other):
        entries = other.write_files(generate_images(spark, 10, n_files=1, start=4000))
        return other.commit("append", entries)

    return competitor


def _ids(table, spark) -> set:
    return {r[0] for r in table.scan(spark).select("image_id").collect()}


def test_compaction_racing_an_append_keeps_it(table8, spark, monkeypatch):
    fired = _race(monkeypatch, table8, _append10(spark))
    snap = compact(table8, spark)
    assert snap is not None and "winner" in fired
    assert snap.parent_snapshot_id == fired["winner"].snapshot_id
    assert table8.scan(spark).count() == 110
    assert int(snap.summary["total_records"]) == 110


def test_cow_delete_racing_an_append_keeps_it(table8, spark, monkeypatch):
    victim = "img-%012d" % 5
    fired = _race(monkeypatch, table8, _append10(spark))
    snap = delete_where(table8, spark, [("image_id", "=", victim)])
    assert snap.parent_snapshot_id == fired["winner"].snapshot_id
    ids = _ids(table8, spark)
    assert len(ids) == 109 and victim not in ids
    assert {"img-%012d" % i for i in range(4000, 4010)} <= ids


def test_mor_update_racing_a_mor_delete_keeps_the_row_deleted(
    table8, spark, monkeypatch
):
    victim = "img-%012d" % 3

    def competitor(other):
        return delete_where(
            other, spark, [("image_id", "=", victim)], mode="merge-on-read"
        )

    _race(monkeypatch, table8, competitor)
    with pytest.raises(CommitConflictError):
        update_where(
            table8, spark, [("image_id", "<=", "img-%012d" % 9)],
            {"caption": "'v2'"}, mode="merge-on-read",
        )
    ids = _ids(table8, spark)
    assert len(ids) == 99 and victim not in ids
    assert table8.scan(spark).filter(F.col("caption") == "v2").count() == 0


def test_cow_delete_after_a_cluster_raises_and_cleans_up(table8, spark, monkeypatch):
    before = set(os.listdir(table8.data_dir))
    fired = _race(monkeypatch, table8, lambda other: cluster(other, spark, mode="full"))
    with pytest.raises(CommitConflictError):
        delete_where(table8, spark, [("image_id", "<=", "img-%012d" % 40)])
    # the winner is intact and current
    assert table8.snapshot().snapshot_id == fired["winner"].snapshot_id
    assert table8.scan(spark).count() == 100
    # the loser left no data prefix: only the winner's new ones appeared
    winner = {p.split("/")[1] for p in table8.manifest_pdf()["path"]}
    assert set(os.listdir(table8.data_dir)) == before | winner


def test_cow_delete_over_an_expired_base_raises(table8, spark, monkeypatch):
    def competitor(other):
        _append10(spark)(other)
        return expire_snapshots(other, keep_last=1)

    _race(monkeypatch, table8, competitor)
    with pytest.raises(CommitConflictError):
        delete_where(table8, spark, [("image_id", "=", "img-%012d" % 5)])
    assert table8.scan(spark).count() == 110


@pytest.mark.parametrize(
    "write", ["merge-cow", "merge-mor", "mor-delete", "equality-delete"]
)
def test_failed_commit_leaves_no_data_prefix(table8, spark, monkeypatch, write):
    """A commit that raises removes every prefix the write created: the
    keep-rewrites, the delta and the delete files."""

    def boom(*args, **kwargs):
        raise RuntimeError(write)

    monkeypatch.setattr(table8, "commit", boom)
    prefixes = set(os.listdir(table8.data_dir))
    head = table8.snapshot().snapshot_id
    with pytest.raises(RuntimeError, match=write):
        if write.startswith("merge"):
            # 10 matched keys + 10 new ones
            src = generate_images(spark, 20, n_files=1, start=90).withColumn(
                "caption", F.lit("v2")
            )
            mode = "copy-on-write" if write == "merge-cow" else "merge-on-read"
            merge_into(table8, spark, src, key="image_id", mode=mode)
        elif write == "mor-delete":
            delete_where(
                table8, spark, [("image_id", "=", "img-%012d" % 7)],
                mode="merge-on-read",
            )
        else:
            equality_delete(table8, spark, ["img-%012d" % 7])
    assert set(os.listdir(table8.data_dir)) == prefixes
    assert table8.snapshot().snapshot_id == head
