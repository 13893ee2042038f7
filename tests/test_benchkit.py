"""Pure-python tests for tools/benchkit.py (no Spark): the clean-rep
gate's failure cases, the probe timeout, and re-aggregation of the
committed rep logs pinned to their published numbers."""

import json
import os
import sys
import time

import pytest

REPO = os.path.join(os.path.dirname(__file__), "..")
sys.path.insert(0, os.path.join(REPO, "tools"))

import benchkit  # noqa: E402
import scaling_bench as sb  # noqa: E402


def _bench_rep(alloc=(20, 30), cpu=(0.75, 0.8)):
    """A bench.py result line with just the fields the gate reads."""
    rep = {"cpus": 32, "queries": {"q": 1.0}, "scan_gbps": 1.0,
           "merge_rows_per_sec": 10.0}
    rep["alloc_probe_ms_pre"], rep["alloc_probe_ms_post"] = alloc
    if cpu is not None:
        rep["cpu_probe_s_pre"], rep["cpu_probe_s_post"] = cpu
    return rep


def _maint_rep(**times):
    base = {"alloc_gate": 0.3, "cpu_baseline": 2.0, "cpu_gate": 2.1,
            "cpu_fresh": 0.5, "cpu_fresh_gate": 0.55}
    base.update(times)
    return {"cpus": 8, "times": {k: v for k, v in base.items() if v != "drop"}}


def _verdicts(reps):
    return [benchkit.is_clean(r, reps) for r in reps]


@pytest.mark.parametrize("failed", [None, -1.0])
def test_failed_cpu_probe_is_unclean(failed):
    reps = [_bench_rep(), _bench_rep(cpu=(0.76, failed))]
    assert _verdicts(reps) == [True, False]
    reps = [_maint_rep(), _maint_rep(cpu_fresh=failed, cpu_fresh_gate=failed)]
    # the failed fresh pair does not fall back to the in-JVM pair
    assert _verdicts(reps) == [True, False]


def test_rep_without_cpu_probe_is_unclean():
    reps = [_bench_rep(), _bench_rep(cpu=None)]
    assert _verdicts(reps) == [True, False]
    bare = _maint_rep(cpu_fresh="drop", cpu_fresh_gate="drop",
                      cpu_baseline="drop", cpu_gate="drop")
    assert benchkit.is_clean(bare, [bare]) is False


def test_alloc_gate():
    reps = [_bench_rep(), _bench_rep(alloc=(20, 1001)), _bench_rep(alloc=(None, 20))]
    assert _verdicts(reps) == [True, False, False]
    reps = [_maint_rep(), _maint_rep(alloc_gate=1.2), _maint_rep(alloc_gate="drop")]
    assert _verdicts(reps) == [True, False, False]


def test_cpu_gate_is_relative_to_best_at_the_same_level():
    quiet, busy = _bench_rep(cpu=(0.70, 0.72)), _bench_rep(cpu=(0.80, 0.90))
    assert _verdicts([quiet, busy]) == [True, False]  # 0.90 > 1.25 * 0.70
    busy["cpus"] = 8  # judged only against its own level
    assert len(benchkit.clean([quiet, busy])) == 2


def test_probe_timeout_kills_the_process_group(tmp_path):
    pid_file = tmp_path / "child.pid"
    script = (
        "import subprocess, sys, time\n"
        "c = subprocess.Popen([sys.executable, '-c', 'import time; time.sleep(60)'])\n"
        f"open({str(pid_file)!r}, 'w').write(str(c.pid))\n"
        "time.sleep(60)\n"
    )
    t0 = time.time()
    assert benchkit.run([sys.executable, "-c", script], timeout=1.0) is None
    assert time.time() - t0 < 30
    child = int(pid_file.read_text())
    deadline = time.time() + 10
    while time.time() < deadline:
        try:
            with open(f"/proc/{child}/stat") as f:
                if f.read().split(")")[-1].split()[0] == "Z":
                    break  # killed, waiting to be reaped
        except FileNotFoundError:
            break
        time.sleep(0.1)
    else:
        pytest.fail("the probe's child outlived the timeout")
    # the real probe: 600 MB of sha256 cannot finish in 50 ms
    assert benchkit.cpu_probe_s(2, timeout=0.05) is None


def _log(name):
    return os.path.join(REPO, "BENCH", name)


def test_benchreps_r5c_reaggregates_to_published_numbers():
    with open(_log("benchreps_r5c.jsonl")) as f:
        reps = [json.loads(ln) for ln in f if ln.strip()]
    report = benchkit.aggregate(reps, os.path.join(REPO, "BENCH_r04.json"))
    assert (report["clean_reps"], report["total_reps"]) == (4, 4)
    assert report["total_of_minima_sec"] == 44.345
    assert report["scan_gbps_best"] == 0.846
    assert report["merge_rows_per_sec_best"] == 1966.0
    assert len(report["minima"]) == 39
    assert report["minima"]["maint_cluster"] == 3.728
    assert report["minima"]["minhash_candidate_pairs"] == 3.152
    assert report["vs_baseline_ratio"]["asof_join"] == 0.684
    assert report["vs_baseline_total"] == 0.8


@pytest.mark.parametrize("name", ["benchreps_r5.jsonl", "benchreps_r5b.jsonl"])
def test_alloc_only_logs_have_no_clean_reps(name):
    # these pre-date bench.py's CPU probe (BENCH/NOTES_r5.md §1)
    with open(_log(name)) as f:
        reps = [json.loads(ln) for ln in f if ln.strip()]
    assert benchkit.clean(reps) == []


def test_scalebench_r5_384_reaggregates_to_published_numbers(capsys):
    levels = [1, 2, 4, 8]
    runs = {lv: [] for lv in levels}
    for part in "abcd":
        logged = sb.parse_log(_log(f"scalebench_r5_384{part}.log"), 384000, levels)
        for lv in levels:
            runs[lv] += logged[lv]
    sb.report(sb.aggregate(runs, levels), levels, 384000, 2,
              sb.count_clean(runs, levels))
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["pairs"]["1->4"]["efficiency"] == 0.836
    assert summary["pairs"]["2->8"]["efficiency"] == 0.81
    assert summary["clean_reps"] == {"1": 2, "2": 8, "4": 2, "8": 8}


def test_scale_notch_takes_minima_over_the_clean_rep(capsys):
    import scale_notch

    scale_notch.aggregate(_log("scalenotch_r5.jsonl"))
    out = json.loads(capsys.readouterr().out)
    assert (out["n_reps"], out["n_clean"]) == (2, 1)
    assert out["times"]["merge"] == 227.673
    assert out["times"]["verify"] == 182.11
    assert out["maint_sec"] == 1086.549
    assert out["rows_per_sec"] == 2827.3
    assert out["merge_rows_per_sec"] == 2024.0
    assert out["phases"]["merge"]["rewrite"] == 215.184
