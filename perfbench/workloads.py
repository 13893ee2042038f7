"""The benchmark workloads, driven through the engine's public API.

Each workload builds its fixture and runs one warm-up iteration (both
count toward set-up time), then loops in a closed loop with one client and
no think time until the run's time budget is spent. An iteration is one
write-path operation on a fresh clone (a maintenance pass, or a CDC upsert
round) followed by the probe reads that check the table it left. Every
call into a layer is wrapped in a span, so per-layer numbers are measured
from outside the engine: the span's wall time, the ``phase_sec`` and file
counts the call already returns, and (traced runs) the Spark task counters
whose time window the span contains.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
import traceback
from contextlib import contextmanager

import numpy as np
from pyspark.sql import functions as F

from aws_medallion_datalake_spark.operators.cluster import cluster, clustering_quality
from aws_medallion_datalake_spark.operators.compact import compact
from aws_medallion_datalake_spark.operators.expire import expire_snapshots
from aws_medallion_datalake_spark.operators.merge import merge_into
from aws_medallion_datalake_spark.operators.metascan import fast_count
from aws_medallion_datalake_spark.operators.overwrite import overwrite_partitions
from aws_medallion_datalake_spark.pipeline.medallion import BLOOM_PROPS, STATS
from aws_medallion_datalake_spark.sources.generator import SCHEMA, generate_images
from aws_medallion_datalake_spark.sources.tableformat import Table

import seeding as S
from benchstats import median
from cputime import tree_cpu_s

TARGET_BYTES = 4 << 20
# tile cap = 2 x 4 MB: the ~30 MB table clusters in ~5 concurrent tiles of
# 2 output files each, the shape of a table far larger than one job
CLUSTER_MAX_FILES_PER_JOB = 2
CLUSTER_COLS = ("phash", "w", "h")
# the generator pays ~0.3 s per partition: render in a few, then spread
# the rows over the N_FILES small files the bronze table should have
GEN_PARTITIONS = 8
CHECKSUM_COLS = ["image_id", "caption", "phash"]
REVISED = " (rev2)"
REFRESHED = " (refresh)"
# the first iteration after the warm-up still runs ~10-20% slower than
# the next; a run reports no op from fewer than this many iterations
MIN_ITERATIONS = 2


class Run:
    """State of one benchmark run: spans, samples and the op tally."""

    def __init__(self, spark, work_dir: str, inputs: dict, cores: int,
                 seconds: float, traced: bool, t0: float):
        self.spark = spark
        self.work = work_dir
        self.inp = inputs
        self.cores = cores
        self.seconds = seconds
        self.traced = traced
        self.t0 = t0
        self.spans: list = []
        self.samples: dict = {}
        self.attempted = 0
        self.failed = 0
        self.failures: list = []
        self.sizes: dict = {}
        self.extra: dict = {}
        self.pid = os.getpid()

    def log(self, what: str) -> None:
        print(f"[perfbench {time.time() - self.t0:7.2f}s] {what}", file=sys.stderr)

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    @contextmanager
    def span(self, name: str):
        """Time one call into a layer: wall time, and the CPU time of every
        process of the run. Only calls that return are kept."""
        cpu0 = tree_cpu_s(self.pid)
        rec = {"name": name, "start": time.time()}
        yield rec
        rec["end"] = time.time()
        rec["cpu_s"] = tree_cpu_s(self.pid) - cpu0
        rec["wall_s"] = rec["end"] - rec["start"]
        self.spans.append(rec)

    def call(self, fn, *args, **kwargs):
        self.attempted += 1
        return fn(*args, **kwargs)

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.failed += 1
            self.failures.append(what)
            print(f"CHECK FAILED: {what}", file=sys.stderr)

    def guarded(self, fn, *args) -> None:
        """Run one step; an exception counts as one failed op."""
        try:
            fn(*args)
        except Exception:  # reported and counted; the loop goes on
            self.failed += 1
            self.failures.append(traceback.format_exc().strip().splitlines()[-1])
            traceback.print_exc(file=sys.stderr)

    def sample(self, name: str, value: float) -> None:
        self.samples.setdefault(name, []).append(float(value))

    def measure(self, step, finish) -> int:
        """Closed loop: ``step(i)`` until the time budget is spent and
        MIN_ITERATIONS have run, then ``finish()`` checks the final table."""
        deadline = time.time() + self.seconds
        n = 0
        while True:
            n += 1
            self.guarded(step, n)
            if n >= MIN_ITERATIONS and time.time() >= deadline:
                break
        self.guarded(finish)
        return n


# ---------------------------------------------------------------- helpers


def generate(run: Run, n_rows: int):
    """``n_rows`` generated rows from the seed's id range, and the id column
    as a number."""
    df = generate_images(
        run.spark, n_rows, n_files=GEN_PARTITIONS, n_dates=S.N_DATES,
        start=run.inp["start"],
    ).cache()
    return df, F.substring("image_id", 5, 12).cast("long")


def ingest(run: Run, name: str, df) -> Table:
    """The fragmented bronze table: ``df`` spread over N_FILES small files."""
    t = Table.create(
        run.path(name), SCHEMA, partition_cols=["ingest_date"],
        stats_cols=STATS, properties=dict(BLOOM_PROPS),
    )
    t.commit("append", t.write_files(df.repartition(S.N_FILES)),
             {"stage": "bronze", "rows": S.N_ROWS})
    run.log(f"ingested {name}")
    return t


def run_compact(run: Run, t: Table):
    return run.call(compact, t, run.spark, target_file_size_bytes=TARGET_BYTES,
                    parallelism=run.cores)


def run_cluster(run: Run, t: Table):
    return run.call(cluster, t, run.spark, curve="morton", cols=CLUSTER_COLS,
                    target_file_size_bytes=TARGET_BYTES,
                    max_files_per_job=CLUSTER_MAX_FILES_PER_JOB, mode="full")


def checksum(run: Run, df):
    """(rows, order-independent sum of xxhash64(image_id, caption, phash))."""
    h = F.xxhash64(*CHECKSUM_COLS).cast("decimal(38,0)")
    r = run.call(df.agg(F.count(F.lit(1)).alias("n"), F.sum(h).alias("h")).first)
    return int(r["n"]), int(r["h"] or 0)


def payload(df):
    """(rows, payload bytes): the full-scan aggregate."""
    r = df.agg(F.count(F.lit(1)).alias("n"), F.sum(F.length("bytes")).alias("b")).first()
    return int(r["n"]), int(r["b"] or 0)


def dir_bytes(root: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(root) for f in files
    )


def added(before, after):
    return after[~after["path"].isin(before["path"])]


def phases(snap, *names) -> dict:
    ph = (snap.summary.get("phase_sec") or {}) if snap is not None else {}
    return {f"{n}_s": float(ph.get(n, 0.0)) for n in names}


def record_sizes(run: Run, t: Table) -> None:
    man = t.manifest_pdf()
    run.sizes.update(
        rows=int(man["record_count"].sum()), files=int(len(man)),
        mb=round(man["file_size_bytes"].sum() / 1e6, 1), dates=S.N_DATES,
    )


# ------------------------------------------------------------ probe reads


class Oracle:
    """What every probe read must return, from the generated rows the
    table must hold: the sorted phash column and the full-scan aggregate."""

    def __init__(self, df):
        self.phash = np.sort(df.select("phash").toPandas()["phash"].to_numpy())
        self.full = payload(df)
        self.rows = self.full[0]

    def phash_range(self, pos: float, sel: float):
        """(lo, hi, rows with lo <= phash <= hi)."""
        ph = self.phash
        lo = int(ph[int(pos * len(ph))])
        hi = int(ph[min(len(ph) - 1, int((pos + sel) * len(ph)))])
        n = int(np.searchsorted(ph, hi, "right") - np.searchsorted(ph, lo, "left"))
        return lo, hi, n


def timed_scan(run: Run, t: Table, kind: str, preds, action):
    """One read: ``Table.scan`` (planning, manifest pruning) then the
    action, timed apart."""
    with run.span(f"scan.{kind}") as sp:
        df = run.call(t.scan, run.spark, predicates=preds)
        t1 = time.time()
        out = action(df)
    sp["plan_ms"] = (t1 - sp["start"]) * 1000.0
    sp["exec_ms"] = (sp["end"] - t1) * 1000.0
    if run.traced:
        sp["files_read_frac"] = len(df.inputFiles()) / len(t.manifest_pdf())
    return sp, out


def probe_reads(run: Run, t: Table, probe: dict, oracle: Oracle, suffix: str = "") -> None:
    """The reads that check one iteration's table; a present key's caption
    must end with ``suffix``."""
    with run.span("metascan") as sp:
        n = run.call(fast_count, t)
    sp["fast_count_ms"] = sp["wall_s"] * 1000.0
    run.check(n == oracle.rows, f"fast_count {n} != {oracle.rows}")
    for key, want in probe["points"]:
        sp, caps = timed_scan(run, t, "point", [("image_id", "=", key)],
                              lambda df: [r[0] for r in df.select("caption").collect()])
        run.check(len(caps) == want and all(c.endswith(suffix) for c in caps),
                  f"point {key}: {caps}, want {want} row(s) ending {suffix!r}")
        run.sample("point_ms", sp["wall_s"] * 1000.0)
    for pos, sel in probe["ranges"]:
        lo, hi, want = oracle.phash_range(pos, sel)
        # a count: the full aggregate below is the payload read, this one
        # is pruning and filtering
        sp, got = timed_scan(run, t, "range", [("phash", "between", (lo, hi))],
                             lambda df: df.count())
        run.check(got == want, f"range [{lo},{hi}]: {got} rows, want {want}")
        run.sample("range_ms", sp["wall_s"] * 1000.0)
    sp, got = timed_scan(run, t, "full", None, payload)
    run.check(got == oracle.full, f"full scan {got} != {oracle.full}")
    run.sample("scan_gb_per_s", got[1] / 1e9 / sp["wall_s"])


def read_metrics(run: Run) -> dict:
    s = run.samples
    return {
        "point_p50_ms": (median(s.get("point_ms", [])), "ms"),
        "range_p50_ms": (median(s.get("range_ms", [])), "ms"),
        "scan_gb_per_s": (median(s.get("scan_gb_per_s", [])), "GB/s"),
    }


# ------------------------------------------------------ nightly_maintenance


def nightly_maintenance(run: Run):
    """Each pass takes a fresh copy of the fragmented bronze table and runs
    compact -> cluster -> expire; then one unmaintained day of small files
    joins it and the probe reads check it."""
    spark, inp = run.spark, run.inp
    rows, ids = generate(run, S.N_ROWS + S.FRESH_ROWS)
    fixture = ingest(run, "fixture", rows.filter(ids < inp["extra_start"]))
    record_sizes(run, fixture)
    # the fresh day, written by the table's own writer (footer blooms
    # included); add_files links these files into every maintained copy
    fresh_dir = run.path("fresh")
    fresh = (rows.filter(ids >= inp["extra_start"])
             .withColumn("ingest_date", F.lit(S.FRESH_DATE)).repartition(S.FRESH_FILES))
    fixture.data_writer(fresh).parquet(fresh_dir)
    run.sizes.update(fresh_rows=S.FRESH_ROWS, fresh_files=S.FRESH_FILES)
    # every generated row, in the fixture or the fresh day: what each
    # maintained copy must hold
    want = checksum(run, rows)
    oracle = Oracle(rows)
    rows.unpersist()
    want_rows = S.N_ROWS + S.FRESH_ROWS
    run.check(want[0] == oracle.rows == want_rows, f"generated rows {want[0]} != {want_rows}")
    state = {}

    def one_pass(i: int) -> None:
        if "t" in state:
            shutil.rmtree(state.pop("t").root)
        t = state["t"] = fixture.clone(run.path(f"pass{i}"))
        m0 = t.manifest_pdf()
        with run.span("compact") as c:
            snap = run_compact(run, t)
        m1 = t.manifest_pdf()
        new = added(m0, m1)
        c.update(phases(snap, "plan", "rewrite", "stats"),
                 files_in=len(m0) - (len(m1) - len(new)), files_out=len(new),
                 bytes_written_mb=new["file_size_bytes"].sum() / 1e6)
        with run.span("cluster") as k:
            snap = run_cluster(run, t)
        m2 = t.manifest_pdf()
        k.update(phases(snap, "quantile", "rewrite", "stats"),
                 tiles=snap.summary["tiles"], files_out=snap.summary["files_out"])
        # read before anything else rewrites the table
        overlap = clustering_quality(t)
        with run.span("expire") as x:
            ex = run.call(expire_snapshots, t, keep_last=1)
        x.update(deleted_files=ex["deleted_files"], freed_mb=ex["freed_bytes"] / 1e6)

        live = float(m2["file_size_bytes"].sum())
        written = new["file_size_bytes"].sum() + added(m1, m2)["file_size_bytes"].sum()
        run.sample("maint_s", c["wall_s"] + k["wall_s"] + x["wall_s"])
        run.sample("maint_cpu_s", c["cpu_s"] + k["cpu_s"] + x["cpu_s"])
        run.sample("maint_write_amp", written / live)
        run.sample("space_amp", dir_bytes(t.root) / live)
        run.sample("cluster_overlap", overlap)
        run.call(t.add_files, spark, fresh_dir)
        probe_reads(run, t, inp["nightly_probes"][i % S.N_PROBES], oracle)

    def finish() -> None:
        got = checksum(run, state["t"].scan(spark, columns=CHECKSUM_COLS))
        run.check(got == want, f"checksum after maintenance {got} != {want}")

    return one_pass, finish


def nightly_report(run: Run) -> dict:
    """Every metric of the run by name: ``(value, unit)``."""
    s = run.samples
    maint = median(s.get("maint_s", []))
    return {
        "op_p50_ms": (maint * 1000.0, "ms"),
        "op_cpu_s": (median(s.get("maint_cpu_s", [])), "s"),
        "maint_s": (maint, "s"),
        "maint_write_amp": (median(s.get("maint_write_amp", [])), "ratio"),
        "space_amp": (median(s.get("space_amp", [])), "ratio"),
        "cluster_overlap": (median(s.get("cluster_overlap", [])), "ratio"),
        **read_metrics(run),
    }


# --------------------------------------------------------------- cdc_upsert


def cdc_upsert(run: Run):
    """Each round takes a fresh copy of the maintained (clustered,
    expired) table, refreshes the D-1 date with
    ``overwrite_partitions`` and applies a CDC batch with ``merge_into``;
    then the probe reads check it."""
    spark, inp = run.spark, run.inp
    rows, ids = generate(run, S.N_ROWS + S.N_INSERTS)
    base = ingest(run, "base", rows.filter(ids < inp["extra_start"]))
    # a full cluster rewrites every file at the target size: it compacts too
    run_cluster(run, base)
    run.call(expire_snapshots, base, keep_last=1)
    record_sizes(run, base)
    run.log("base maintained")
    d1 = S.date_of(S.REFRESH_DATE_IDX)
    refresh_path, cdc_path = run.path("refresh.parquet"), run.path("cdc.parquet")
    # D-1 refresh: the day's rows delivered again with a revised caption
    (base.scan(spark, predicates=[("ingest_date", "=", d1)])
     .withColumn("caption", F.concat("caption", F.lit(REFRESHED)))
     .coalesce(2).write.parquet(refresh_path))
    # CDC batch: hot-skewed updates carrying a revised caption, plus inserts
    upd = (base.scan(spark, predicates=[("image_id", "in",
                                          [S.image_id(i) for i in inp["update_ids"]])])
           .withColumn("caption", F.concat("caption", F.lit(REVISED))))
    ins = rows.filter(ids >= inp["extra_start"])
    upd.unionByName(ins).coalesce(2).write.parquet(cdc_path)
    # neither the refresh nor the updates change a row's phash or payload:
    # every round leaves the generated rows, base and inserts
    oracle = Oracle(rows)
    rows.unpersist()
    src_bytes = dir_bytes(cdc_path)
    n_src = spark.read.parquet(cdc_path).count()
    n_refresh = spark.read.parquet(refresh_path).count()
    want_rows = S.N_ROWS + S.N_INSERTS
    run.check(n_src == S.N_UPDATES + S.N_INSERTS, f"cdc batch rows {n_src}")
    run.check(oracle.rows == want_rows, f"oracle rows {oracle.rows} != {want_rows}")
    run.sizes.update(cdc_rows=n_src, cdc_mb=round(src_bytes / 1e6, 2),
                     refresh_rows=n_refresh)
    run.extra.update(n_src=n_src)
    state = {}

    def one_round(i: int) -> None:
        t = base.clone(run.path(f"round{i}"))
        with run.span("overwrite") as o:
            snap = run.call(overwrite_partitions, t, spark, spark.read.parquet(refresh_path),
                            target_file_size_bytes=TARGET_BYTES)
        o.update(phases(snap, "plan", "write", "rewrite", "stats"))
        m1 = t.manifest_pdf()
        with run.span("merge") as m:
            snap = run.call(merge_into, t, spark, spark.read.parquet(cdc_path),
                            key="image_id", target_file_size_bytes=TARGET_BYTES)
        m2 = t.manifest_pdf()
        new = added(m1, m2)
        m.update(phases(snap, "source_check", "probe", "count_matched", "rewrite", "stats"),
                 files_touched_frac=snap.summary["files_rewritten"] / len(m1),
                 rows_rewritten_per_source_row=(new["record_count"].sum() - n_src) / n_src)
        run.sample("upsert_round_s", o["wall_s"] + m["wall_s"])
        run.sample("upsert_cpu_s", o["cpu_s"] + m["cpu_s"])
        run.sample("merge_s", m["wall_s"])
        run.sample("merge_write_amp", new["file_size_bytes"].sum() / src_bytes)
        run.sample("space_amp", dir_bytes(t.root) / float(m2["file_size_bytes"].sum()))
        if "t" in state:
            shutil.rmtree(state["t"].root)
        state["t"] = t
        probe_reads(run, t, inp["cdc_probes"][i % S.N_PROBES], oracle, REVISED)

    def finish() -> None:
        t = state["t"]
        n = run.call(t.scan(spark, columns=["image_id"]).count)
        run.check(n == want_rows, f"scan count {n} != {want_rows}")
        probe = [S.image_id(i) for i in inp["caption_probe"]]
        got = run.call(t.scan(spark, predicates=[("image_id", "in", probe)],
                              columns=["image_id", "caption"]).collect)
        ok = len(got) == len(probe) and all(r["caption"].endswith(REVISED) for r in got)
        run.check(ok, "updated ids lack the revised caption")
        refreshed = run.call(t.scan(spark, predicates=[("ingest_date", "=", d1)])
                             .filter(F.col("caption").endswith(REFRESHED)).count)
        run.check(refreshed == n_refresh, f"{refreshed} refreshed rows != {n_refresh}")

    return one_round, finish


def cdc_upsert_report(run: Run) -> dict:
    """Every metric of the run by name: ``(value, unit)``."""
    s = run.samples
    merge_s = median(s.get("merge_s", []))
    rnd = median(s.get("upsert_round_s", []))
    return {
        "op_p50_ms": (rnd * 1000.0, "ms"),
        "op_cpu_s": (median(s.get("upsert_cpu_s", [])), "s"),
        "upsert_round_s": (rnd, "s"),
        "merge_rows_per_s": (run.extra["n_src"] / max(merge_s, 1e-9), "rows/s"),
        "merge_write_amp": (median(s.get("merge_write_amp", [])), "ratio"),
        "space_amp": (median(s.get("space_amp", [])), "ratio"),
        **read_metrics(run),
    }


WORKLOADS = {
    "nightly_maintenance": (nightly_maintenance, nightly_report),
    "cdc_upsert": (cdc_upsert, cdc_upsert_report),
}
