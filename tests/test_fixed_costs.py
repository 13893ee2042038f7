"""Fixed Spark costs of a maintenance pass: small driver-built frames are
LocalRelations (no Python RDD, no job, no Python worker), explicit file
paths are listed on the driver up to the footer fan-out bound, a
small-source MERGE holds its key set on the driver, and copy-on-write
keep rewrites run no empty write task."""

from types import SimpleNamespace

import pandas as pd
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from aws_medallion_datalake_spark.operators import apply_deletes, delete_where
from aws_medallion_datalake_spark.operators import merge as merge_mod
from aws_medallion_datalake_spark.operators.cluster import _piece_frame
from aws_medallion_datalake_spark.operators.compact import _route_frame
from aws_medallion_datalake_spark.operators.merge import merge_into
from aws_medallion_datalake_spark.operators.overwrite import (
    overwrite_partitions,
    replace_where,
)
from aws_medallion_datalake_spark.operators.update import update_where
from aws_medallion_datalake_spark.session import get_session, local_frame
from aws_medallion_datalake_spark.sources.generator import (
    SCHEMA,
    generate_images,
    generate_updates,
)
from aws_medallion_datalake_spark.sources.tableformat import (
    FOOTER_SPARK_THRESHOLD,
    Table,
    rewrite_split_size,
)


def _analyzed(df) -> str:
    return df._jdf.queryExecution().analyzed().toString()


def test_routing_and_tile_frames_are_local_relations(spark):
    groups = [SimpleNamespace(paths=["a.parquet", "b.parquet"], slices=[None, "x"]),
              SimpleNamespace(paths=["c.parquet", "b.parquet"], slices=[None, "y"])]
    route = _route_frame(spark, groups)
    pieces = pd.DataFrame(
        {"path": ["a.parquet", "b.parquet"], "slice": [None, "x"], "tidx": [1, 2]}
    )
    tile = _piece_frame(spark, {0: pieces.iloc[:1], 3: pieces})
    for df in (route, tile):
        plan = _analyzed(df)
        assert "LocalRelation" in plan and "LogicalRDD" not in plan
    assert route.dtypes == [("__pp", "string"), ("__pt", "string"), ("__rt", "int")]
    rt = {(r["__pp"], r["__pt"]): r["__rt"] for r in route.collect()}
    assert rt["a.parquet", None] == rt["b.parquet", "x"] != rt["c.parquet", None]
    assert rt["b.parquet", "y"] == rt["c.parquet", None]
    assert sorted(tuple(r) for r in tile.collect()) == [
        ("a.parquet", None, 0, 1), ("a.parquet", None, 3, 1), ("b.parquet", "x", 3, 2)
    ]


def test_local_frame_infers_or_casts_types(spark):
    inferred = local_frame(spark, {"k": [3, 1]})
    assert inferred.dtypes == [("k", "bigint")]
    typed = local_frame(spark, {"p": ["x"], "n": [7]}, "n int, p string")
    assert typed.dtypes == [("n", "int"), ("p", "string")]
    assert tuple(typed.first()) == (7, "x")
    empty = local_frame(spark, {"p": []}, "p string")
    assert empty.count() == 0 and "LocalRelation" in _analyzed(empty)


def test_get_session_lists_explicit_paths_on_driver_up_to_footer_bound(spark):
    s = get_session(ship_package=False)  # the live session, reconfigured
    key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    assert s.conf.get(key) == str(FOOTER_SPARK_THRESHOLD)


# ---------------- MERGE: driver-held source keys ----------------

MERGE_COUNTS = ("rows_updated", "rows_inserted", "rows_deleted", "rows_replaced_dupes")


def _merge_table(tmp_path, spark, name, n=200, dup=False) -> Table:
    t = Table.create(
        str(tmp_path / name), SCHEMA, partition_cols=["ingest_date"],
        stats_cols=["phash", "image_id"],
    )
    t.commit("append", t.write_files(generate_images(spark, n, n_files=4, n_dates=2)))
    if dup:
        # the same keys again in other files: every key is duplicated
        t.commit("append", t.write_files(generate_images(spark, n, n_files=3, n_dates=2)))
    return t


def _content(t: Table, spark) -> list:
    return sorted(
        tuple(r)
        for r in t.scan(spark).select(
            "image_id", "caption", "phash", "ingest_date", F.md5("bytes")
        ).collect()
    )


def _persisted_rdds(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def _file_source(spark, tmp_path, df, name="src"):
    """``df`` written to parquet and read back, as a CDC batch arrives."""
    path = str(tmp_path / name)
    df.write.parquet(path)
    return spark.read.parquet(path)


def test_footer_rows_fit_reads_only_parquet_footers(tmp_path, spark):
    computed = generate_updates(spark, 200, n_updates=60, n_inserts=15)
    source = _file_source(spark, tmp_path, computed)
    assert merge_mod._footer_rows_fit(source, 75)
    assert not merge_mod._footer_rows_fit(source, 74)
    assert merge_mod._footer_rows_fit(source.filter("image_id > 0"), 75)
    assert not merge_mod._footer_rows_fit(computed, 4_000_000)


def test_small_source_merge_holds_keys_on_driver(tmp_path, spark, monkeypatch):
    t = _merge_table(tmp_path, spark, "held")
    source = _file_source(
        spark, tmp_path, generate_updates(spark, 200, n_updates=40, n_inserts=10)
    )
    frames = []

    def spy(*args, **kwargs):
        frames.append(local_frame(*args, **kwargs))
        return frames[-1]

    persist = type(source).persist
    persisted = []

    def persist_spy(self, *args, **kwargs):
        persisted.append(self)
        return persist(self, *args, **kwargs)

    monkeypatch.setattr(merge_mod, "local_frame", spy)
    monkeypatch.setattr(type(source), "persist", persist_spy)
    before = _persisted_rdds(spark)
    snap = merge_into(t, spark, source)
    assert not persisted
    assert _persisted_rdds(spark) <= before
    # the source key frame; an update merge builds no matched-key frame
    assert len(frames) == 1
    plan = _analyzed(frames[0])
    assert "LocalRelation" in plan and "LogicalRDD" not in plan
    assert frames[0].count() == 50
    assert "count_matched" not in snap.summary["phase_sec"]
    assert snap.summary["rows_updated"] == 40
    assert snap.summary["rows_inserted"] == 10


@pytest.mark.parametrize(
    "dup, when_matched",
    [(True, "update"), (False, "delete"), (True, "delete")],
    ids=["dup-target-update", "delete", "dup-target-delete"],
)
def test_driver_held_and_smj_branches_agree(
    tmp_path, spark, monkeypatch, dup, when_matched
):
    held = _merge_table(tmp_path, spark, "a", dup=dup)
    smj = held.clone(str(tmp_path / "b"))
    source = _file_source(
        spark, tmp_path, generate_updates(spark, 200, n_updates=60, n_inserts=15)
    )
    s_held = merge_into(held, spark, source, when_matched=when_matched)
    monkeypatch.setattr(merge_mod, "_BROADCAST_KEYS", 0)
    s_smj = merge_into(smj, spark, source, when_matched=when_matched)
    assert "count_matched" not in s_held.summary["phase_sec"]
    assert "count_matched" in s_smj.summary["phase_sec"]
    assert {k: s_held.summary[k] for k in MERGE_COUNTS} == {
        k: s_smj.summary[k] for k in MERGE_COUNTS
    }
    matched = 60 if when_matched == "update" else 0
    assert s_held.summary["rows_updated"] == matched
    assert s_held.summary["rows_inserted"] == 15
    assert s_held.summary["rows_replaced_dupes"] == (60 if dup else 0)
    assert s_held.summary["files_rewritten"] == s_smj.summary["files_rewritten"]
    assert _content(held, spark) == _content(smj, spark)


@pytest.mark.parametrize("kind", ["above-bound", "computed"])
def test_other_sources_take_persisted_path_without_key_fetch(
    tmp_path, spark, monkeypatch, kind
):
    """A source whose footers exceed ``_HELD_KEYS``, or that reads no
    parquet files, runs no driver key fetch: the persisted path alone."""
    held = _merge_table(tmp_path, spark, "a", dup=True)
    other = held.clone(str(tmp_path / "b"))
    computed = generate_updates(spark, 200, n_updates=60, n_inserts=15)
    source = _file_source(spark, tmp_path, computed)
    s_held = merge_into(held, spark, source)
    if kind == "above-bound":
        monkeypatch.setattr(merge_mod, "_HELD_KEYS", 74)
    else:
        source = computed
    limit = type(source).limit
    limits = []

    def limit_spy(self, n):
        if n > 1:  # first() is limit(1)
            limits.append(n)
        return limit(self, n)

    monkeypatch.setattr(type(source), "limit", limit_spy)
    s_other = merge_into(other, spark, source)
    assert not limits
    assert "count_matched" not in s_held.summary["phase_sec"]
    assert "count_matched" in s_other.summary["phase_sec"]
    assert {k: s_held.summary[k] for k in MERGE_COUNTS} == {
        k: s_other.summary[k] for k in MERGE_COUNTS
    }
    assert _content(held, spark) == _content(other, spark)


@pytest.mark.parametrize("limit", [4_000_000, 0], ids=["driver-held", "smj"])
def test_duplicate_source_key_raises_on_both_branches(
    tmp_path, spark, monkeypatch, limit
):
    t = _merge_table(tmp_path, spark, "dupsrc", n=60)
    source = _file_source(
        spark, tmp_path, generate_updates(spark, 60, n_updates=10, n_inserts=5)
    )
    head = t.snapshot().snapshot_id
    monkeypatch.setattr(merge_mod, "_BROADCAST_KEYS", limit)
    with pytest.raises(ValueError, match="duplicate keys"):
        merge_into(t, spark, source.unionByName(source.limit(1)))
    assert t.snapshot().snapshot_id == head


def test_timestamp_key_merge_persisted_path_matches_held(tmp_path, spark):
    """A computed source takes the persisted path: its key range must be
    tz-aware, like the manifest's timestamp stats it prunes against."""
    def rows(ids, v):
        return spark.range(0, 60, 1, 4).filter(F.col("id").isin(ids)).select(
            F.timestamp_seconds(F.col("id") * 3600 + 1704067200).alias("ts"),
            (F.lit(v) if v else F.concat(F.lit("v"), F.col("id").cast("string")))
            .alias("v"),
        )

    persisted = Table.create(
        str(tmp_path / "p"), "ts timestamp, v string", stats_cols=["ts"]
    )
    persisted.commit("append", persisted.write_files(rows(list(range(40)), None)))
    held = persisted.clone(str(tmp_path / "h"))
    source = rows([3, 10, 20, 39, 50], "new")
    s_persisted = merge_into(persisted, spark, source, key="ts")
    s_held = merge_into(
        held, spark, _file_source(spark, tmp_path, source), key="ts"
    )
    assert "count_matched" in s_persisted.summary["phase_sec"]
    assert "count_matched" not in s_held.summary["phase_sec"]
    for s in (s_persisted, s_held):
        assert (s.summary["rows_updated"], s.summary["rows_inserted"]) == (4, 1)
    got = [sorted(tuple(r) for r in t.scan(spark).collect()) for t in (persisted, held)]
    assert got[0] == got[1]
    assert len(got[0]) == 41 and sum(v == "new" for _, v in got[0]) == 5


# ---------------- keep rewrites: no split cuts a single-row-group file ----


def _last_job(spark) -> int:
    return max(spark.sparkContext.statusTracker().getJobIdsForGroup(), default=-1)


def _write_stages(spark, after_job: int) -> list:
    """Rows written by each task, for every stage of the jobs after
    ``after_job`` that wrote rows."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker, store = sc.statusTracker(), sc._jsc.sc().statusStore()
    out = []
    for job in sorted(tracker.getJobIdsForGroup()):
        if job <= after_job:
            continue
        for sid in tracker.getJobInfo(job).stageIds:
            tasks = store.taskList(sid, 0, 100_000)
            rows = [
                tasks.apply(i).taskMetrics().get().outputMetrics().recordsWritten()
                for i in range(tasks.size())
            ]
            if sum(rows):
                out.append(rows)
    return out


@pytest.fixture()
def one_group_files(tmp_path, spark):
    """Four single-row-group files of ~1.7-1.8 MB, every one holding all
    four dates, and a target size just under the smallest."""
    t = Table.create(
        str(tmp_path / "rg"), SCHEMA, partition_cols=["ingest_date"],
        stats_cols=["phash", "image_id"],
    )
    t.commit("append", t.write_files(generate_images(spark, 480, n_files=4)))
    sizes = t.manifest_pdf()["file_size_bytes"]
    return t, int(sizes.min() * 0.9)


def _keep_files(t, before: set, fresh_prefix) -> list:
    return [
        p for p in t.manifest_pdf()["path"]
        if p not in before and not (fresh_prefix and p.startswith(fresh_prefix))
    ]


_DAY = ("ingest_date", "=", "2024-01-02")


def _one_file_source(t, spark, tmp_path):
    """Every 12th key of ``t`` (ten per file), caption revised, as one
    parquet file: its delta write is one task."""
    ids = [r[0] for r in t.scan(spark).select("image_id").collect()][::12]
    (t.scan(spark).filter(F.col("image_id").isin(ids))
     .withColumn("caption", F.lit("rev")).coalesce(1)
     .write.parquet(str(tmp_path / "src")))
    return spark.read.parquet(str(tmp_path / "src"))


def _day_frame(spark):
    """Ten fresh rows of one date, written as one task."""
    return generate_images(spark, 10, n_files=1, start=9000).withColumn(
        "ingest_date", F.lit(_DAY[2])
    )


# every caller of tableformat.rewrite_files: (prepare, run, key of the
# summary's fresh insert/delta prefix); ``prepare`` runs before the
# counted jobs
_REWRITERS = {
    "merge": (
        _one_file_source,
        lambda t, spark, src, target: merge_into(
            t, spark, src, target_file_size_bytes=target
        ),
        "delta_prefix",
    ),
    "merge-clauses": (
        _one_file_source,
        lambda t, spark, src, target: merge_into(
            t, spark, src, when_not_matched="ignore",
            target_file_size_bytes=target,
        ),
        "delta_prefix",
    ),
    "overwrite_partitions": (
        None,
        lambda t, spark, _, target: overwrite_partitions(
            t, spark, _day_frame(spark), target_file_size_bytes=target
        ),
        "insert_prefix",
    ),
    "replace_where": (
        None,
        lambda t, spark, _, target: replace_where(
            t, spark, _day_frame(spark), [_DAY], target_file_size_bytes=target
        ),
        "insert_prefix",
    ),
    "delete_where": (
        None,
        lambda t, spark, _, target: delete_where(
            t, spark, [_DAY], target_file_size_bytes=target
        ),
        None,
    ),
    "apply_deletes": (
        lambda t, spark, _: delete_where(t, spark, [_DAY], mode="merge-on-read"),
        lambda t, spark, _, target: apply_deletes(
            t, spark, target_file_size_bytes=target
        ),
        None,
    ),
    "update_where": (
        None,
        lambda t, spark, _, target: update_where(
            t, spark, [_DAY], {"caption": "'upd'"}, target_file_size_bytes=target
        ),
        None,
    ),
}


@pytest.mark.parametrize("op", list(_REWRITERS))
def test_keep_rewrite_one_task_per_file(one_group_files, spark, tmp_path, op):
    """Each copy-on-write rewrite touching four single-row-group files
    just above the target writes one keep file per touched file, with one
    write task each and none empty, beside a one-task insert or delta
    write where the operation has one."""
    t, target = one_group_files
    prepare, run, fresh_key = _REWRITERS[op]
    prepared = prepare(t, spark, tmp_path) if prepare else None
    before = set(t.manifest_pdf()["path"])
    job = _last_job(spark)
    snap = run(t, spark, prepared, target)
    stages = _write_stages(spark, job)
    fresh = snap.summary[fresh_key] if fresh_key else None
    assert snap.summary["files_rewritten"] == 4
    assert len(_keep_files(t, before, fresh)) == 4
    assert sorted(len(rows) for rows in stages) == ([1, 4] if fresh else [4])
    assert all(min(rows) > 0 for rows in stages), stages


def _split_for(spark, t: Table, target: int) -> int:
    with rewrite_split_size(spark, target, t.root, t.manifest_pdf()):
        return int(spark.conf.get("spark.sql.files.maxPartitionBytes"))


def test_rewrite_split_rises_only_for_one_row_group_under_twice_target(
    tmp_path, spark
):
    one = Table.create(str(tmp_path / "one"), SCHEMA, stats_cols=["image_id"])
    one.commit("append", one.write_files(generate_images(spark, 240, n_files=1)))
    size = int(one.manifest_pdf()["file_size_bytes"].iloc[0])
    assert _split_for(spark, one, int(size * 0.7)) == size
    assert _split_for(spark, one, size) == size
    assert _split_for(spark, one, int(size * 0.45)) == int(size * 0.45)

    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    keys = ("parquet.block.size", "parquet.block.size.row.check.min")
    old = [hconf.get(k) for k in keys]
    hconf.set(keys[0], str(256 << 10))
    hconf.set(keys[1], "10")
    try:
        many = Table.create(str(tmp_path / "many"), SCHEMA, stats_cols=["image_id"])
        many.commit(
            "append", many.write_files(generate_images(spark, 240, n_files=1))
        )
    finally:
        for k, v in zip(keys, old):
            hconf.unset(k) if v is None else hconf.set(k, v)
    path = many.manifest_pdf()["path"].iloc[0]
    assert pq.ParquetFile(str(tmp_path / "many" / path)).metadata.num_row_groups > 1
    size = int(many.manifest_pdf()["file_size_bytes"].iloc[0])
    assert _split_for(spark, many, int(size * 0.7)) == int(size * 0.7)


@pytest.mark.parametrize("frac", [0.45, 0.7], ids=["large-cut", "large-whole"])
def test_mixed_rewrite_set_outputs_stay_under_twice_target(tmp_path, spark, frac):
    """One large single-row-group file and six small ones, all touched.
    Below twice the target the split rises to the large file and the
    small files pack up to it; at twice the target or more the split
    stays at the target and so do the packed outputs."""
    t = Table.create(
        str(tmp_path / "mix"), SCHEMA, partition_cols=["ingest_date"],
        stats_cols=["phash", "image_id"],
    )
    t.commit("append", t.write_files(generate_images(spark, 240, n_files=1)))
    large = int(t.manifest_pdf()["file_size_bytes"].iloc[0])
    t.commit(
        "append",
        t.write_files(generate_images(spark, 240, n_files=6, start=1000)),
    )
    target = int(large * frac)
    # one key per file
    ids = [f"img-{i:012d}" for i in [0] + [1000 + 40 * j for j in range(6)]]
    (t.scan(spark).filter(F.col("image_id").isin(ids))
     .withColumn("caption", F.lit("rev")).coalesce(1)
     .write.parquet(str(tmp_path / "src")))
    source = spark.read.parquet(str(tmp_path / "src"))
    before = set(t.manifest_pdf()["path"])
    # pack files by their bytes alone, as large files are packed
    conf = {"spark.sql.files.openCostInBytes": "1",
            "spark.sql.files.minPartitionNum": "1"}
    old = {k: spark.conf.get(k, None) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        job = _last_job(spark)
        snap = merge_into(t, spark, source, target_file_size_bytes=target)
        stages = _write_stages(spark, job)
    finally:
        for k, v in old.items():
            spark.conf.unset(k) if v is None else spark.conf.set(k, v)
    man = t.manifest_pdf()
    keep = man[man["path"].isin(_keep_files(t, before, snap.summary["delta_prefix"]))]
    sizes = sorted(int(s) for s in keep["file_size_bytes"])
    assert snap.summary["files_rewritten"] == 7
    assert int(keep["record_count"].sum()) == 480 - 7
    assert sizes[-1] < 1.1 * large  # the large file's rows, in one output
    if frac < 0.5:
        assert all(s <= 1.05 * target for s in sizes[:-1])
    else:
        assert all(s < 2 * target for s in sizes)
        assert all(min(rows) > 0 for rows in stages), stages
    assert len(sizes) < 7  # the small files were packed
