"""Physical-plan audit: assert the plans are the ones we'd want at 100 TB.

Checks, for a set of representative plans:
- Parquet scans carry PushedFilters / pruned ReadSchema (no full-width
  reads for narrow projections).
- Dimension joins use BroadcastHashJoin (no shuffle for small dims).
- Hot-path expressions sit inside WholeStageCodegen spans.
- The engine's stats-pruned scan actually lists fewer files than the
  snapshot holds for a selective phash predicate.

Usage: python tools/explain_audit.py [sf_dir]  — exits nonzero on failure.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

import __spark_entry__ as entry  # noqa: E402
from aws_medallion_datalake_spark.session import get_session  # noqa: E402

CHECKS = []


def check(name):
    def deco(fn):
        CHECKS.append((name, fn))
        return fn

    return deco


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


@check("filter pushdown reaches parquet scan (ship_window)")
def _(spark, sf_dir):
    p = plan_of(entry.q_ship_window(spark, sf_dir))
    assert "PushedFilters: [" in p and "IsNotNull" in p, p
    assert "GreaterThanOrEqual" in p or "GreaterThan" in p, p


@check("column pruning: narrow ReadSchema (token_stats reads 2 cols)")
def _(spark, sf_dir):
    p = plan_of(entry.q_token_stats(spark, sf_dir))
    scan = [ln for ln in p.splitlines() if "ReadSchema" in ln]
    assert scan and "bytes" not in scan[0], scan
    assert "text" in p and "source" in p


@check("dim joins broadcast (flagship entry)")
def _(spark, sf_dir):
    p = plan_of(entry.entry(spark))
    assert "BroadcastHashJoin" in p, p


@check("agg plan is vectorized JVM end-to-end (pricing_summary)")
def _(spark, sf_dir):
    # AQE's pre-execution formatted plan doesn't print WholeStageCodegen
    # spans; assert the equivalent: vectorized scan, partial+final hash
    # aggregation, and zero Python evaluation nodes.
    p = plan_of(entry.q_pricing_summary(spark, sf_dir))
    assert "Batched: true" in p, p
    assert p.count("HashAggregate") >= 2, p
    assert "EvalPython" not in p, p


@check("partial aggregation before shuffle (segment_revenue)")
def _(spark, sf_dir):
    p = plan_of(entry.q_segment_revenue(spark, sf_dir))
    # two HashAggregate nodes (partial + final) around the exchange
    assert p.count("HashAggregate") >= 2, p


@check("top-k compiles to TakeOrderedAndProject (top_orders)")
def _(spark, sf_dir):
    p = plan_of(entry.q_top_orders(spark, sf_dir))
    assert "TakeOrderedAndProject" in p, p


@check("morton key is pure codegen — no Python eval in cluster route")
def _(spark, sf_dir):
    from aws_medallion_datalake_spark.functions.udfs import morton64_expr

    df = spark.range(100).selectExpr("id", "id + 1 AS w", "id + 2 AS h").select(
        morton64_expr("id", "w", "h").alias("k")
    )
    p = plan_of(df)
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p


@check("range join compiles to an equi-join, not a nested-loop product")
def _(spark, sf_dir):
    p = plan_of(entry.q_range_join(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p, p
    assert "Join" in p, p  # the bucket equi-join is a real join


@check("asof join: one shuffle on the key, no inequality join")
def _(spark, sf_dir):
    p = plan_of(entry.q_asof_join(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p, p
    assert p.count("Window") >= 1, p
    # exactly one exchange hashes the join key for the running window
    assert "hashpartitioning(__k" in p, p


@check("merge keep-path: broadcast anti-join, zero payload exchange")
def _(spark, sf_dir):
    # the copy-on-write keep plan must broadcast the source KEY set and
    # stream the touched files straight to the writer — an Exchange here
    # means the whole image payload shuffles (the measured AQE-SMJ
    # failure mode this guards against: 1.4 GB through 8 reducers)
    import tempfile

    from aws_medallion_datalake_spark.pipeline.medallion import bronze_ingest
    from aws_medallion_datalake_spark.sources.generator import generate_updates

    root = tempfile.mkdtemp(prefix="audit_mrg_")
    t = bronze_ingest(spark, os.path.join(root, "t"), 400, n_files=4)
    src = generate_updates(spark, 400, 40, 20, n_files=2).cache()
    src_keys = F.broadcast(src.select("image_id").distinct())
    tgt = t.scan(spark)
    keep = tgt.join(src_keys, "image_id", "left_anti")
    p = plan_of(keep)
    assert "BroadcastHashJoin" in p, p
    assert "Exchange hashpartitioning" not in p, p
    src.unpersist()


@check("Q17 decorrelation: brand filter pushed, dim broadcast, one shuffle")
def _(spark, sf_dir):
    p = plan_of(entry.q_small_qty_revenue(spark, sf_dir))
    assert "EqualTo(p_brand,Brand#12)" in p, p
    assert "BroadcastHashJoin" in p, p
    # the per-part agg + back-join share l_partkey partitioning: at most
    # the agg exchange + the final single-row agg exchange; a
    # ReusedExchange is the sharing we want, not an extra shuffle
    n_shuffles = sum(
        1 for ln in p.splitlines()
        if ln.strip().startswith("(") and "Exchange" in ln
        and "BroadcastExchange" not in ln and "ReusedExchange" not in ln
    )
    assert n_shuffles <= 2, (n_shuffles, p)


@check("Q21 EXISTS/NOT EXISTS: semi+anti joins, no nested-loop product")
def _(spark, sf_dir):
    p = plan_of(entry.q_sole_returner(spark, sf_dir))
    assert "LeftSemi" in p and "LeftAnti" in p, p
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p
    assert "TakeOrderedAndProject" in p, p


@check("Q14 share agg: timestamp range pushed, fact never shuffles")
def _(spark, sf_dir):
    p = plan_of(entry.q_promo_revenue(spark, sf_dir))
    assert "GreaterThanOrEqual(l_shipdate" in p, p
    assert "BroadcastHashJoin" in p and "SortMergeJoin" not in p, p
    # only the single-row final-agg exchange remains
    n_shuffles = sum(
        1 for ln in p.splitlines()
        if ln.strip().startswith("(") and "Exchange" in ln
        and "BroadcastExchange" not in ln
    )
    assert n_shuffles <= 1, (n_shuffles, p)


@check("manifest stats pruning lists fewer files (engine scan)")
def _(spark, sf_dir):
    import tempfile

    from aws_medallion_datalake_spark.operators.cluster import cluster
    from aws_medallion_datalake_spark.pipeline.medallion import bronze_ingest

    root = tempfile.mkdtemp(prefix="audit_")
    t = bronze_ingest(spark, os.path.join(root, "t"), 600, n_files=8)
    cluster(t, spark, curve="morton", target_file_size_bytes=1 << 20)
    man = t.manifest_pdf()
    assert len(man) > 2
    lo = int(man["min_phash"].min())
    pruned = t.scan(spark, predicates=[("phash", "between", (lo, lo + 1))])
    n_full = len(man)
    # count scanned files from the plan's file listing
    p = plan_of(pruned)
    import re

    m = re.search(r"number of files read: (\d+)", p)
    n_read = int(m.group(1)) if m else None
    if n_read is None:  # fall back: location list length
        n_read = sum(1 for ln in p.splitlines() if ".parquet" in ln)
    assert n_read < n_full, (n_read, n_full)
    # every clustered file holds one ingest date, so a date predicate
    # lists only that date's files
    mixed = [p for p in man["partition_json"] if "__mixed__" in p]
    assert not mixed, mixed
    day = t.scan(spark, predicates=[("ingest_date", "=", "2024-01-02")])
    n_day = len(set(day.inputFiles()))
    assert 0 < n_day < n_full, (n_day, n_full)


@check("decontamination: benchmark side broadcasts, big side never shuffles")
def _(spark, sf_dir):
    p = plan_of(entry.q_contamination_check(spark, sf_dir))
    # the benchmark n-gram set is broadcast into a semi-join; the
    # training-shingle side must not sort-merge against it
    assert "BroadcastHashJoin" in p and "LeftSemi" in p, p
    assert "EvalPython" not in p, p


@check("BM25: df/corpus stats broadcast, no nested-loop product")
def _(spark, sf_dir):
    p = plan_of(entry.q_bm25_rank(spark, sf_dir))
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p, p
    # the per-(doc,term) tf agg is partial+final hash aggregation
    assert p.count("HashAggregate") >= 2, p
    assert "CartesianProduct" not in p, p


@check("PII scrub: JVM regexp codegen, map-only until the final agg")
def _(spark, sf_dir):
    p = plan_of(entry.q_pii_scrub(spark, sf_dir))
    # redaction + counting is whole-stage-codegen'd regexp work — no
    # Python eval, no join; the only exchange feeds the final group-by
    assert "EvalPython" not in p, p
    assert "Join" not in p and "CartesianProduct" not in p, p
    # exactly one shuffle in the TREE section ("Exchange (n)"); the
    # formatted detail section repeats the node name as "(n) Exchange"
    assert p.count("Exchange (") == 1, p


@check("URL blocklist: broadcast anti-join, corpus side never shuffles")
def _(spark, sf_dir):
    p = plan_of(entry.q_url_blocklist(spark, sf_dir))
    assert "BroadcastHashJoin" in p and "LeftAnti" in p, p
    assert "SortMergeJoin" not in p and "EvalPython" not in p, p


@check("semdedup: per-cluster kernel, no quadratic (cluster,i) self-join")
def _(spark, sf_dir):
    p = plan_of(entry.q_semdedup(spark, sf_dir))
    # the pairwise stage is FlatMapGroupsInPandas keyed on cluster; the
    # old dim-exploded self-join shape (SortMergeJoin of two exploded
    # sides on (cluster, i)) must be gone
    assert "FlatMapGroupsInPandas" in p, p
    assert "SortMergeJoin" not in p, p
    # centroid table is broadcast into assignment
    assert "BroadcastHashJoin" in p, p


@check("unigram_logppl: vocab model broadcasts, token stream never shuffles for the join")
def _(spark, sf_dir):
    p = plan_of(entry.q_unigram_logppl(spark, sf_dir))
    # the (token,count) model is vocabulary-sized: it must come back to
    # the exploded token stream as a broadcast hash join, never a
    # sort-merge that would shuffle 10^12 token rows; all arithmetic is
    # JVM-side (no Python eval in the plan)
    assert "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p, p
    assert "EvalPython" not in p, p


@check("dup_ngram_frac: doc-frequency join stays on the shingle key, no python path")
def _(spark, sf_dir):
    p = plan_of(entry.q_dup_ngram_frac(spark, sf_dir))
    # occurrences and doc-frequency are both keyed on shingle — the
    # join must not introduce a broadcast of the corpus-sized side or a
    # Python eval; generation is pure JVM (explode over transform())
    assert "EvalPython" not in p, p
    assert "Generate" in p and "explode" in p.lower(), p


@check("event_funnel: dependency-chained step windows share ONE user_id exchange")
def _(spark, sf_dir):
    import re

    p = plan_of(entry.q_event_funnel(spark, sf_dir))
    # three conditional-min windows + per-user agg must all reuse a
    # single hashpartitioning(user_id) exchange; the only other
    # exchange is the 1-row global rollup. NOTE: formatted explain
    # prints the node ("(3) Exchange") and its partitioning
    # ("Arguments: hashpartitioning(user_id#…, …)") on SEPARATE lines —
    # match the partitioning expression alone, and bound the total
    # Exchange node count separately (round-4 VERDICT task 2).
    assert len(re.findall(r"hashpartitioning\(user_id", p)) == 1, p
    n_exchanges = len(re.findall(r"\(\d+\) Exchange", p))
    assert n_exchanges <= 2, p  # user_id shuffle + 1-row SinglePartition rollup
    assert "EvalPython" not in p, p


@check("minhash_candidate_pairs: band-keyed join, hot-band cap rides the shuffle")
def _(spark, sf_dir):
    import re

    df = entry.q_minhash_candidate_pairs(spark, sf_dir)
    p = plan_of(df)
    # the candidate join must stay keyed on the band value (never a
    # cross product), and the max_bucket guard must ride the join's own
    # band shuffle — a Window count over the band partition, no extra
    # evaluation of the signature subtree
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, p
    assert "Window" in p, p
    assert len(re.findall(r"hashpartitioning\(band", p)) >= 1, p
    # exchange REUSE is an AQE runtime decision — execute, then assert
    # the final plan shares one band exchange between the join sides
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in final, final


@check("ivf_topk: trained codebook stays broadcast, no cartesian blow-up")
def _(spark, sf_dir):
    p = plan_of(entry.q_ivf_topk(spark, sf_dir))
    # every centroid/query join is a broadcast nested-loop or hash join
    # over K<=8 rows; the corpus side must never sort-merge
    assert "SortMergeJoin" not in p, p
    assert "TakeOrderedAndProject" in p, p


@check("neardup_retention: cluster members broadcast onto the corpus, no big-side shuffle for the join")
def _(spark, sf_dir):
    # the corpus (documents) side must join the exploded member list by
    # BROADCAST — a sort-merge there would shuffle the 100 TB side for
    # a members frame that is O(duplicate docs). The only exchange on
    # the corpus path is the per-component window/agg over the tiny
    # joined subset. (The CC label propagation upstream is materialized
    # via eager localCheckpoint during plan construction, so the
    # returned frame's plan shows only the retention stage.)
    p = plan_of(entry.q_neardup_retention(spark, sf_dir))
    assert "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p, p
    assert "Window" in p, p


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_session("local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    failed = 0
    for name, fn in CHECKS:
        try:
            fn(spark, sf_dir)
            print(f"PASS {name}")
        except AssertionError as e:
            failed += 1
            print(f"FAIL {name}: {str(e)[:400]}")
        except Exception as e:  # noqa: BLE001
            failed += 1
            print(f"ERROR {name}: {e}")
    print(f"== {len(CHECKS) - failed}/{len(CHECKS)} plan checks pass ==")
    spark.stop()
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
