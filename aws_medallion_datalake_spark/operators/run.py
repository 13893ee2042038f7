"""Maintenance run driver: the Step Functions replacement.

One resumable driver loop replaces the reference's ASL state machine
(/root/reference/terraform/digit_pipeline.tf:6-75 — Bronze→Silver→Gold with
per-stage Catch→Fail) and its DynamoDB cursor backfill
(step-functions/digit-historical-load.json): stages run in order, each
records ``stage_done`` with metrics into the RunCheckpoint; a restart with
the same checkpoint path skips completed stages (and, inside compaction,
completed groups). A stage exception stops the run without corrupting
committed work — exactly the reference's fail-stop semantics (SURVEY.md
§3.3), minus the AWS control plane.

Intended CLI: ``spark-submit --py-files $(build_pyfiles_zip())
run_maintenance.py …`` where the driver script is two lines
(``from …operators.run import main; main(sys.argv[1:])`` — spark-submit
takes a script path, not ``-m``); tests/test_spark_submit.py runs it
end-to-end. Or the ``run_maintenance`` API below.
"""

from __future__ import annotations

import time
from typing import Optional, Sequence

from pyspark.sql import DataFrame, SparkSession

from ..sources.tableformat import Table
from .checkpoint import RunCheckpoint
from .cluster import cluster
from .compact import compact
from .delete import apply_deletes, delete_where
from .expire import expire_snapshots
from .merge import merge_into


def detect_layer(*hints: str) -> str:
    """BRONZE/SILVER/GOLD/UNKNOWN from substring hints (table root, stage
    name) — the reference error handler's layer detection applied to
    paths instead of Glue job names
    (scripts/error_handler/lambda_error_handler.py:35-46)."""
    joined = " ".join(h.lower() for h in hints if h)
    for layer in ("bronze", "silver", "gold"):
        if layer in joined:
            return layer.upper()
    return "UNKNOWN"


def render_failure(stage: str, exc: BaseException, *, table_root: str,
                   checkpoint_path: str) -> dict:
    """Structured per-stage failure summary — the same fields the
    reference renders into its notification email (timestamp, layer,
    error type, cause, execution handle, remediation hint;
    scripts/error_handler/lambda_error_handler.py:49-60) as a plain
    dict the run checkpoint and any ``on_stage_failure`` hook can carry."""
    return {
        "timestamp": time.strftime("%Y-%m-%d %H:%M:%S"),
        "stage": stage,
        "layer": detect_layer(table_root, stage),
        "error": type(exc).__name__,
        "cause": str(exc)[:2000],
        "table_root": table_root,
        "checkpoint": checkpoint_path,
        "action": (
            "inspect driver logs, fix the cause, and re-run with the same "
            "--checkpoint to resume; completed stages are skipped"
        ),
    }


def render_success(stage_metrics: dict, *, table_root: str,
                   checkpoint_path: str) -> dict:
    """Structured end-of-run success summary — the reference's success
    notification payload (pipeline, status, execution_date) plus its
    CloudWatch ``PipelineSuccess`` metric value
    (scripts/lambda_success_notification.py:26-44), rendered as a plain
    dict from the per-stage metrics the run just produced."""
    stages = {
        k: v
        for k, v in stage_metrics.items()
        if isinstance(v, dict) and k not in ("auto_plan", "run_summary")
    }
    return {
        "timestamp": time.strftime("%Y-%m-%d %H:%M:%S"),
        "status": "SUCCESS",
        "layer": detect_layer(table_root),
        "table_root": table_root,
        "checkpoint": checkpoint_path,
        "stages_run": [k for k in stages if "skipped" not in stages[k]],
        "stages_resumed": [k for k in stages if "skipped" in stages[k]],
        "stages_noop": [k for k in stages if "noop" in stages[k]],
        "total_wall_sec": round(
            sum(v.get("wall_sec", 0.0) for v in stages.values()), 3
        ),
        "metric": {"PipelineSuccess": 1},
    }


def run_maintenance(
    table: Table,
    spark: SparkSession,
    *,
    checkpoint_path: str,
    stages: Sequence[str] = ("compact", "cluster", "merge", "expire"),
    merge_source: Optional[DataFrame] = None,
    delete_predicates: Optional[Sequence[tuple]] = None,
    target_file_size_bytes: int = 128 * 1024 * 1024,
    cluster_mode: str = "auto",
    keep_last: int = 1,
    compaction_parallelism: int = 8,
    on_stage_failure=None,
    on_success=None,
) -> dict:
    """Run (or resume) a maintenance pipeline; returns per-stage metrics.

    ``stages=("auto",)`` delegates stage selection to the metadata-driven
    policy (operators/policy.py): a healthy table runs nothing, a
    fragmented one compacts, a scattered one clusters, pending
    merge-on-read deletes materialize first. The chosen plan and its
    reasons land in the result under ``"auto_plan"``.

    Compaction, the merge delta and ``cluster`` write in the table's own
    write order (``Table.write_order``). To cluster along the Hilbert
    curve instead of the default Morton one, declare it on the table:
    ``ALTER TABLE t WRITE LOCALLY ORDERED BY (hilbert(phash, w, h))``.

    ``on_stage_failure``: optional callable receiving the structured
    failure dict (timestamp, stage, layer, error, cause, checkpoint) the
    reference pipeline would email on a per-stage Catch — wire it to any
    notification channel. The record is also persisted to the run
    checkpoint and printed to stderr; the exception then propagates
    (fail-stop), and a re-run with the same checkpoint resumes.

    ``on_success``: the symmetric hook — fires once after EVERY stage
    completed cleanly, with the structured end-of-run summary
    (``render_success``: stages run/resumed/noop, total wall time,
    PipelineSuccess=1) that the reference emits as its success email +
    CloudWatch metric (scripts/lambda_success_notification.py:26-44).
    The summary is also persisted to the checkpoint (``run_succeeded``
    record) and returned under the ``"run_summary"`` key.
    """
    cp = RunCheckpoint(checkpoint_path)
    out: dict = {}
    if tuple(stages) == ("auto",):
        from .policy import plan_maintenance

        plan = plan_maintenance(
            table, spark,
            target_file_size_bytes=target_file_size_bytes, keep_last=keep_last,
        )
        stages = tuple(stage for stage, _ in plan)
        out["auto_plan"] = {stage: reason for stage, reason in plan}
    for stage in stages:
        if cp.is_stage_done(stage):
            out[stage] = {"skipped": "resumed", **(cp.stage_metrics(stage) or {})}
            continue
        t0 = time.time()
        try:
            if stage == "compact":
                snap = compact(
                    table,
                    spark,
                    target_file_size_bytes=target_file_size_bytes,
                    parallelism=compaction_parallelism,
                    checkpoint=cp,
                )
                metrics = dict(snap.summary, snapshot_id=snap.snapshot_id) if snap else {"noop": True}
                if snap is None:
                    cp.stage_done("compact", metrics)
            elif stage == "cluster":
                snap = cluster(
                    table,
                    spark,
                    mode=cluster_mode,
                    target_file_size_bytes=target_file_size_bytes,
                    checkpoint=cp,
                )
                metrics = (
                    dict(snap.summary, snapshot_id=snap.snapshot_id)
                    if snap
                    else {"noop": "already clustered"}
                )
                if snap is None:
                    cp.stage_done("cluster", metrics)
            elif stage == "merge":
                if merge_source is None:
                    metrics = {"noop": "no merge source"}
                else:
                    snap = merge_into(
                        table, spark, merge_source, target_file_size_bytes=target_file_size_bytes
                    )
                    metrics = dict(snap.summary, snapshot_id=snap.snapshot_id)
                cp.stage_done("merge", metrics)
            elif stage == "delete":
                if not delete_predicates:
                    metrics = {"noop": "no delete predicates"}
                else:
                    snap = delete_where(
                        table,
                        spark,
                        delete_predicates,
                        target_file_size_bytes=target_file_size_bytes,
                    )
                    metrics = (
                        dict(snap.summary, snapshot_id=snap.snapshot_id)
                        if snap
                        else {"noop": "no matching rows"}
                    )
                cp.stage_done("delete", metrics)
            elif stage == "apply_deletes":
                # materialize pending merge-on-read deletes before any stage
                # that rewrites whole files (compact/cluster/merge refuse to
                # run over a pending delete set)
                snap = apply_deletes(
                    table, spark, target_file_size_bytes=target_file_size_bytes
                )
                metrics = (
                    dict(snap.summary, snapshot_id=snap.snapshot_id)
                    if snap
                    else {"noop": "no pending deletes"}
                )
                cp.stage_done("apply_deletes", metrics)
            elif stage == "rewrite_manifests":
                # physical metadata maintenance: compact the append chain's
                # delta-manifest list back to one manifest (north_rule's
                # "manifest rewrite"); a no-op when the list is already short
                snap = table.rewrite_manifests(spark=spark)
                metrics = (
                    dict(snap.summary, snapshot_id=snap.snapshot_id)
                    if snap
                    else {"noop": "manifest list already compact"}
                )
                cp.stage_done("rewrite_manifests", metrics)
            elif stage == "expire":
                metrics = expire_snapshots(table, spark=spark, keep_last=keep_last)
                cp.stage_done("expire", metrics)
            elif stage == "analyze":
                from .analyze import analyze_table

                stats = analyze_table(table, spark, tune_bloom=True)
                metrics = {
                    "columns_analyzed": len(stats),
                    "snapshot_id": table.metadata().current_snapshot_id,
                }
                cp.stage_done("analyze", metrics)
            else:
                raise ValueError(f"unknown stage {stage!r}")
        except Exception as exc:
            # reference T7 parity: per-stage failure notification —
            # a structured record lands in the checkpoint and stderr,
            # the optional hook fires, and the exception still stops
            # the run (fail-stop; resume skips completed stages)
            failure = render_failure(
                stage, exc, table_root=table.root,
                checkpoint_path=checkpoint_path,
            )
            cp.stage_failed(stage, failure)
            import json as _json
            import sys as _sys

            print(_json.dumps({"maintenance_failure": failure}),
                  file=_sys.stderr)
            if on_stage_failure is not None:
                on_stage_failure(failure)
            raise
        metrics["wall_sec"] = round(time.time() - t0, 3)
        out[stage] = metrics
    summary = render_success(
        out, table_root=table.root, checkpoint_path=checkpoint_path
    )
    cp.run_succeeded(summary)
    if on_success is not None:
        on_success(summary)
    out["run_summary"] = summary
    return out


def main(argv: Optional[Sequence[str]] = None) -> None:
    """CLI entry point for a ``spark-submit --py-files engine.zip`` driver.

    Example::

        spark-submit --py-files "$(python -c 'from \
aws_medallion_datalake_spark.session import build_pyfiles_zip; \
print(build_pyfiles_zip())')" run_maintenance.py \
            --table /data/images --stages compact,cluster,merge,expire \
            --checkpoint /data/runs/2024-01-02 \
            --merge-source /data/staging/updates.parquet
    """
    import argparse
    import json

    p = argparse.ArgumentParser(description="lakehouse maintenance driver")
    p.add_argument("--table", required=True, help="table root directory")
    p.add_argument("--checkpoint", required=True, help="run-checkpoint path")
    p.add_argument(
        "--stages",
        default="compact,cluster,merge,expire",
        help="comma list from: compact, cluster, merge, delete, "
        "rewrite_manifests, expire — or 'auto' to let the metadata "
        "policy (operators/policy.py) pick stages and order",
    )
    p.add_argument("--merge-source", default=None, help="parquet path of MERGE source")
    p.add_argument(
        "--delete-where",
        default=None,
        help='JSON predicate triples for the delete stage, e.g. '
        '\'[["phash","between",[0, 1000]]]\'',
    )
    p.add_argument("--target-file-size-mb", type=int, default=128)
    p.add_argument("--keep-last", type=int, default=1)
    p.add_argument("--master", default=None, help="override master (default: from spark-submit)")
    args = p.parse_args(argv)

    from pyspark.sql import SparkSession

    from ..session import get_session

    preexisting = SparkSession.getActiveSession() is not None
    spark = get_session(master=args.master or "local[*]")
    table = Table.load(args.table)
    src = spark.read.parquet(args.merge_source) if args.merge_source else None
    preds = None
    if args.delete_where:
        preds = [
            (c, op, tuple(v) if isinstance(v, list) else v)
            for c, op, v in json.loads(args.delete_where)
        ]
    metrics = run_maintenance(
        table,
        spark,
        checkpoint_path=args.checkpoint,
        stages=tuple(s.strip() for s in args.stages.split(",") if s.strip()),
        merge_source=src,
        delete_predicates=preds,
        target_file_size_bytes=args.target_file_size_mb << 20,
        keep_last=args.keep_last,
    )
    print(json.dumps(metrics, default=str))
    if not preexisting:  # embedded callers (tests) keep their session
        spark.stop()


if __name__ == "__main__":
    main()
