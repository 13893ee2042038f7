"""Python Data Source connector (format "medallion"): batch read with
manifest pruning, snapshot-diff streaming read, atomic batch write, and the
exactly-once streaming sink."""

import os

import pyarrow as pa
import pytest
from pyspark.sql import functions as F
from pyspark.sql.datasource import EqualTo, GreaterThan, In, IsNotNull

from aws_medallion_datalake_spark.sources.datasource import (
    MedallionBatchReader,
    MedallionStreamReader,
    MedallionStreamWriter,
    _arrow_schema_from_ddl,
    _filters_to_preds,
    _task_write,
    register,
)
from aws_medallion_datalake_spark.sources.generator import (
    SCHEMA,
    generate_images,
)
from aws_medallion_datalake_spark.sources.tableformat import Table

STATS = ["phash", "w", "h", "image_id", "ingest_date"]


def _mk_table(tmp_path, spark, rows=60, n_files=3):
    t = Table.create(
        str(tmp_path / "t"),
        SCHEMA,
        partition_cols=["ingest_date"],
        stats_cols=STATS,
    )
    if rows:
        t.append(generate_images(spark, rows, n_files=n_files))
    return t


def _ids(df):
    return sorted(r["image_id"] for r in df.select("image_id").collect())


# ------------------------------------------------------------ batch read


def test_batch_read_matches_scan(tmp_path, spark):
    register(spark)
    t = _mk_table(tmp_path, spark)
    got = spark.read.format("medallion").load(t.root)
    ref = t.scan(spark)
    assert got.columns == ref.columns
    assert _ids(got) == _ids(ref)
    # values survive the Arrow round trip, including binary payloads
    a = got.orderBy("image_id").select("image_id", "bytes", "phash").first()
    b = ref.orderBy("image_id").select("image_id", "bytes", "phash").first()
    assert (a["image_id"], bytes(a["bytes"]), a["phash"]) == (
        b["image_id"], bytes(b["bytes"]), b["phash"]
    )


def test_batch_read_filtered_and_time_travel(tmp_path, spark):
    register(spark)
    t = _mk_table(tmp_path, spark)
    sid1 = t.snapshot().snapshot_id
    t.append(generate_images(spark, 20, n_files=1, start=1000))
    # row-level correctness under a filter (Spark re-applies every filter)
    d = t.scan(spark).select(F.min("ingest_date")).first()[0]
    got = (
        spark.read.format("medallion")
        .load(t.root)
        .filter(F.col("ingest_date") == d)
    )
    assert _ids(got) == _ids(t.scan(spark).filter(F.col("ingest_date") == d))
    # snapshotId option = time travel
    old = (
        spark.read.format("medallion")
        .option("snapshotId", str(sid1))
        .load(t.root)
    )
    assert old.count() == 60


def test_pushed_filters_prune_files(tmp_path, spark):
    # date-homogeneous files so a date predicate is file-separable
    t = _mk_table(tmp_path, spark, rows=0)
    imgs = generate_images(spark, 60, n_files=2)
    for d in ["2024-01-01", "2024-01-02", "2024-01-03", "2024-01-04"]:
        t.append(imgs.filter(F.col("ingest_date") == d).repartition(1))
    reader = MedallionBatchReader({"path": t.root})
    n_all = len(reader.partitions())
    assert n_all == len(t.manifest_pdf()) == 4
    reader2 = MedallionBatchReader({"path": t.root})
    kept = reader2.pushFilters([EqualTo(("ingest_date",), "2024-01-02")])
    assert list(kept)  # every filter returned for Spark row-level re-apply
    assert len(reader2.partitions()) == 1


def test_filter_translation():
    preds = _filters_to_preds(
        [
            EqualTo(("a",), 1),
            GreaterThan(("b",), 2),
            In(("c",), (1, 2)),
            IsNotNull(("d",)),
        ]
    )
    assert preds == [
        ("a", "=", 1),
        ("b", ">=", 2),
        ("c", "in", [1, 2]),
        ("d", "notnull", None),
    ]


def test_batch_read_schema_evolution(tmp_path, spark):
    """Files predating an added column read NULL→default; renamed columns
    coalesce across physical generations — same as Table.read_data."""
    register(spark)
    t = _mk_table(tmp_path, spark, rows=30, n_files=1)
    t.add_columns("grade int", defaults={"grade": 7})
    t.rename_column("caption", "title")
    t.append(
        generate_images(spark, 10, n_files=1, start=500)
        .withColumnRenamed("caption", "title")
        .withColumn("grade", F.lit(9))
    )
    got = spark.read.format("medallion").load(t.root)
    ref = t.scan(spark)
    cols = ["image_id", "title", "grade"]
    assert sorted(map(tuple, got.select(cols).collect())) == sorted(
        map(tuple, ref.select(cols).collect())
    )
    assert got.filter(F.col("grade") == 7).count() == 30


def test_batch_read_refuses_pending_mor(tmp_path, spark):
    from aws_medallion_datalake_spark.operators import delete_where

    t = _mk_table(tmp_path, spark)
    lo = t.scan(spark).agg(F.min("phash")).first()[0]
    delete_where(t, spark, [("phash", "<=", lo)], mode="merge-on-read")
    with pytest.raises(Exception, match="merge-on-read"):
        MedallionBatchReader({"path": t.root}).partitions()


def test_ddl_arrow_schema_strict():
    s = _arrow_schema_from_ddl(SCHEMA + ", price decimal(10,2)")
    assert s.field("bytes").type == pa.binary()
    assert s.field("phash").type == pa.int64()
    assert s.field("price").type == pa.decimal128(10, 2)
    with pytest.raises(ValueError, match="unsupported"):
        _arrow_schema_from_ddl("x array<int>")


# -------------------------------------------------------- streaming read


def test_stream_read_incremental(tmp_path, spark):
    register(spark)
    t = _mk_table(tmp_path, spark, rows=40, n_files=2)
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def drain():
        q = (
            spark.readStream.format("medallion")
            .option("startingOffsets", "earliest")
            .load(t.root)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    drain()
    assert _ids(spark.read.parquet(out)) == _ids(t.scan(spark))
    # new appends: the SAME checkpoint picks up exactly the delta
    t.append(generate_images(spark, 15, n_files=1, start=2000))
    drain()
    assert _ids(spark.read.parquet(out)) == _ids(t.scan(spark))
    # replaying with no new snapshots adds nothing
    drain()
    assert spark.read.parquet(out).count() == 55


def test_added_rel_paths_semantics(tmp_path, spark):
    """The stream planner follows Table.changes' per-operation rules:
    physical rewrites emit nothing, merges emit only the delta prefix."""
    from aws_medallion_datalake_spark.operators.compact import compact

    t = _mk_table(tmp_path, spark, rows=40, n_files=8)
    s0 = t.snapshot().snapshot_id
    t.append(generate_images(spark, 10, n_files=1, start=3000))
    s1 = t.snapshot().snapshot_id
    added = t.added_paths(s0, s1)
    assert len(added) >= 1
    got = _ids(t.read_data(spark, [os.path.join(t.root, p) for p in added]))
    ref = _ids(t.changes(spark, s0, s1))
    assert got == ref
    # a pure compaction emits nothing
    compact(t, spark, target_file_size_bytes=1 << 30)
    s2 = t.snapshot().snapshot_id
    assert s2 > s1 and t.added_paths(s1, s2) == []
    # earliest (sid 0) covers the full history exactly once
    assert len(t.added_paths(None, s2)) > 0
    assert _ids(
        t.read_data(
            spark,
            [os.path.join(t.root, p) for p in t.added_paths(None, s2)],
        )
    ) == _ids(t.scan(spark))


def test_earliest_stream_after_expiry(tmp_path, spark):
    """startingOffsets=earliest on a table whose history was expired:
    expire_snapshots prunes meta.snapshots but leaves the oldest
    survivor's parent id dangling — the walk must treat the oldest LIVE
    snapshot as the chain root, not raise KeyError."""
    from aws_medallion_datalake_spark.operators.expire import (
        expire_snapshots,
    )

    t = _mk_table(tmp_path, spark, rows=20, n_files=2)
    t.append(generate_images(spark, 10, n_files=1, start=2000))
    t.append(generate_images(spark, 10, n_files=1, start=3000))
    expire_snapshots(t, keep_last=2)
    meta = t.metadata()
    oldest = min(s.snapshot_id for s in meta.snapshots)
    assert t.snapshot(oldest).parent_snapshot_id is not None  # dangling
    cur = t.snapshot().snapshot_id
    paths = t.added_paths(None, cur)
    got = _ids(t.read_data(spark, [os.path.join(t.root, p) for p in paths]))
    assert got == _ids(t.scan(spark))


def test_stream_reader_offsets(tmp_path, spark):
    t = _mk_table(tmp_path, spark, rows=20, n_files=1)
    r = MedallionStreamReader({"path": t.root})
    assert r.initialOffset() == {
        "snapshot_id": t.snapshot().snapshot_id
    }  # latest: only NEW data streams
    r2 = MedallionStreamReader(
        {"path": t.root, "startingoffsets": "earliest"}
    )
    assert r2.initialOffset() == {"snapshot_id": 0}
    assert r.latestOffset() == {"snapshot_id": t.snapshot().snapshot_id}
    assert r.partitions(r.latestOffset(), r.latestOffset()) == []


# -------------------------------------------------------------- writers


def test_batch_write_append_commits_snapshot(tmp_path, spark):
    register(spark)
    t = _mk_table(tmp_path, spark, rows=20, n_files=1)
    extra = generate_images(spark, 12, n_files=2, start=4000)
    extra.write.format("medallion").mode("append").save(t.root)
    assert t.scan(spark).count() == 32
    s = t.snapshot()
    assert s.operation == "append"
    assert int(s.summary["rows_inserted"]) == 12
    # manifest entries carry real footer stats for pruning
    man = t.manifest_pdf()
    assert man["min_phash"].notna().all() and man["record_count"].sum() == 32


def test_batch_write_validates(tmp_path, spark):
    register(spark)
    t = _mk_table(tmp_path, spark, rows=10, n_files=1)
    bad = generate_images(spark, 5, n_files=1).withColumn("zzz", F.lit(1))
    with pytest.raises(Exception, match="zzz"):
        bad.write.format("medallion").mode("append").save(t.root)
    t.add_constraint(spark, "w_pos", "w > 0")
    ok = generate_images(spark, 5, n_files=1, start=100)
    with pytest.raises(Exception, match="CHECK"):
        ok.write.format("medallion").mode("append").save(t.root)


def test_empty_overwrite_truncates(tmp_path, spark):
    """Spark/Delta semantics: overwrite with an empty frame empties the
    table instead of silently leaving the old contents visible."""
    register(spark)
    t = _mk_table(tmp_path, spark, rows=10, n_files=1)
    empty = spark.createDataFrame([], t.scan(spark).schema)
    empty.write.format("medallion").mode("overwrite").save(t.root)
    assert t.scan(spark).count() == 0
    assert t.snapshot().operation == "overwrite"
    # empty append stays a no-op (no snapshot)
    n_snaps = len(t.metadata().snapshots)
    empty.write.format("medallion").mode("append").save(t.root)
    assert len(t.metadata().snapshots) == n_snaps


def test_txn_validated_inside_commit(tmp_path, spark):
    """The (txnAppId, batchId) check is atomic with the metadata CAS: a
    writer that passed the cheap pre-check but finds the version already
    durable at commit time aborts instead of double-committing."""
    from aws_medallion_datalake_spark.sources.tableformat import (
        TxnAlreadyCommittedError,
    )

    t = _mk_table(tmp_path, spark, rows=0)
    pdf = generate_images(spark, 6, n_files=1).toPandas()
    batch = pa.RecordBatch.from_pandas(pdf, preserve_index=False)
    w = MedallionStreamWriter(
        {"path": t.root, "txnappid": "race"},
        spark.createDataFrame([], SCHEMA).schema,
        False,
    )
    msg = _task_write(iter([batch]), t.root, t.metadata().schema_ddl)
    w.commit([msg], batchId=0)
    assert t.scan(spark).count() == 6
    # simulate the loser of a concurrent replay: its pre-check raced and
    # passed, but the atomic commit-time validation must reject
    entries = t.collect_stats_for_prefix(
        None,
        [_task_write(iter([batch]), t.root, t.metadata().schema_ddl).prefix],
        method="footer",
    )
    with pytest.raises(TxnAlreadyCommittedError):
        t.commit(
            "append",
            entries,
            {"stage": "stream_append"},
            properties={"stream.txn.race": 0},
            txn=("stream.txn.race", 0),
        )
    assert t.scan(spark).count() == 6
    # writer.commit wraps the same race: replay drops its files quietly
    msg3 = _task_write(iter([batch]), t.root, t.metadata().schema_ddl)
    w.commit([msg3], batchId=0)
    assert t.scan(spark).count() == 6 and not os.path.exists(msg3.prefix)


def test_stream_writer_exactly_once(tmp_path, spark):
    """Replayed micro-batch ids commit nothing (txnAppId ledger, same
    property namespace as streaming/ingest)."""
    t = _mk_table(tmp_path, spark, rows=0)
    w = MedallionStreamWriter(
        {"path": t.root, "txnappid": "sink-A"},
        spark.createDataFrame([], SCHEMA).schema,
        False,
    )
    pdf = generate_images(spark, 8, n_files=1).toPandas()
    batch = pa.RecordBatch.from_pandas(pdf, preserve_index=False)
    msg = _task_write(iter([batch]), t.root, t.metadata().schema_ddl)
    w.commit([msg], batchId=0)
    assert t.scan(spark).count() == 8
    # crash-replay of the same batch id: skipped, files dropped
    msg2 = _task_write(iter([batch]), t.root, t.metadata().schema_ddl)
    w.commit([msg2], batchId=0)
    assert t.scan(spark).count() == 8
    assert not os.path.exists(msg2.prefix)
    w.commit(
        [_task_write(iter([batch]), t.root, t.metadata().schema_ddl)],
        batchId=1,
    )
    assert t.scan(spark).count() == 16
    assert int(t.metadata().properties["stream.txn.sink-A"]) == 1


def test_stream_write_end_to_end(tmp_path, spark):
    """readStream(medallion) -> writeStream(medallion): table-to-table
    incremental replication through the standard streaming API."""
    register(spark)
    src = _mk_table(tmp_path, spark, rows=24, n_files=2)
    dst = Table.create(
        str(tmp_path / "dst"),
        SCHEMA,
        partition_cols=["ingest_date"],
        stats_cols=STATS,
    )
    ckpt = str(tmp_path / "ckpt2")

    def pump():
        q = (
            spark.readStream.format("medallion")
            .option("startingOffsets", "earliest")
            .load(src.root)
            .writeStream.format("medallion")
            .option("path", dst.root)
            .option("txnAppId", "repl-1")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    pump()
    assert _ids(dst.scan(spark)) == _ids(src.scan(spark))
    src.append(generate_images(spark, 10, n_files=1, start=5000))
    pump()
    assert _ids(dst.scan(spark)) == _ids(src.scan(spark))
    assert dst.scan(spark).count() == 34


def test_row_group_skipping(tmp_path):
    """Pushed predicates skip whole row groups from footer stats — the
    pruning layer below manifest file pruning."""
    import pyarrow.parquet as pq

    from aws_medallion_datalake_spark.sources.datasource import (
        _FileSlice,
        _read_slice,
    )

    path = str(tmp_path / "f.parquet")
    tbl = pa.table(
        {"k": pa.array(range(100), pa.int64()),
         "s": pa.array([f"v{i:03d}" for i in range(100)])}
    )
    pq.write_table(tbl, path, row_group_size=10)  # 10 sorted groups

    def rows(preds):
        import json

        sl = _FileSlice(
            path, "k bigint, s string", "{}", "{}", json.dumps(preds)
        )
        return sum(b.num_rows for b in _read_slice(sl))

    assert rows([]) == 100
    assert rows([["k", "=", 5]]) == 10          # one group decoded
    assert rows([["k", ">=", 95]]) == 10
    assert rows([["k", "<=", 9]]) == 10
    assert rows([["k", "between", [35, 44]]]) == 20
    assert rows([["k", "in", [3, 97]]]) == 20   # only groups covering 3 / 97
    assert rows([["k", "=", 1000]]) == 0
    assert rows([["k", "notnull", None]]) == 100
    assert rows([["k", "isnull", None]]) == 0
    assert rows([["s", "=", "v050"]]) == 10     # string stats prune too


def test_row_groups_decoded_per_predicate(tmp_path, monkeypatch):
    """On a file clustered by ``k`` whose ``v`` is NULL in its first row
    groups, each pushed predicate decodes exactly the row groups its
    footer stats cannot exclude, and reads their rows."""
    import json

    import pyarrow.parquet as pq

    from aws_medallion_datalake_spark.sources.datasource import (
        _FileSlice,
        _read_slice,
    )

    path = str(tmp_path / "f.parquet")
    tbl = pa.table({
        "k": pa.array(range(120), pa.int64()),
        "v": pa.array([None if i < 35 else f"v{i:03d}" for i in range(120)]),
    })
    pq.write_table(tbl, path, row_group_size=10)  # 12 row groups
    decoded = []
    iter_batches = pq.ParquetFile.iter_batches

    def spy(self, *a, **k):
        decoded.append(list(k["row_groups"]))
        return iter_batches(self, *a, **k)

    monkeypatch.setattr(pq.ParquetFile, "iter_batches", spy)

    def read(preds):
        decoded.clear()
        sl = _FileSlice(path, "k bigint, v string", "{}", "{}", json.dumps(preds))
        got = pa.Table.from_batches(list(_read_slice(sl)), schema=tbl.schema)
        groups = decoded[0] if decoded else []
        want = pa.concat_tables([tbl.slice(10 * g, 10) for g in groups]) if groups else tbl.slice(0, 0)
        assert got.equals(want), preds
        return groups

    assert read([["k", "=", 55]]) == [5]
    assert read([["k", "between", [25, 64]]]) == [2, 3, 4, 5, 6]
    assert read([["k", "in", [3, 97, 500]]]) == [0, 9]
    assert read([["k", "in", [500]]]) == []
    assert read([["v", "isnull", None]]) == [0, 1, 2, 3]
    assert read([["v", "notnull", None]]) == list(range(3, 12))
    assert read([["k", ">=", 20], ["v", "isnull", None]]) == [2, 3]
    # all-NULL row groups have no min/max, so they are kept
    assert read([["v", "=", "v050"]]) == [0, 1, 2, 5]
    assert read([["k", "=", "a string"]]) == list(range(12))  # incomparable: keep


def test_task_write_rolls_files(tmp_path, monkeypatch):
    """A wide task rolls to a new parquet file at the size target instead
    of producing one unbounded file."""
    import aws_medallion_datalake_spark.sources.datasource as ds

    monkeypatch.setattr(ds, "_TARGET_FILE_BYTES", 4096)
    batches = [
        pa.RecordBatch.from_pydict(
            {"k": list(range(i * 100, (i + 1) * 100)),
             "s": ["x" * 64] * 100}
        )
        for i in range(10)
    ]
    msg = ds._task_write(iter(batches), str(tmp_path), "k bigint, s string")
    assert msg.n_files > 1
    files = sorted(os.listdir(msg.prefix))
    assert len(files) == msg.n_files
    import pyarrow.parquet as pq

    total = sum(
        pq.read_table(os.path.join(msg.prefix, f)).num_rows for f in files
    )
    assert total == 1000
