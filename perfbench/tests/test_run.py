"""The single benchmark command end to end, at tiny sizes, plus the
tracer's interval arithmetic. The command tests start Spark and take
about a minute each."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

import pytest

import calls
import run
from tracer import _union

PERFBENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(PERFBENCH)


def bench(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(PERFBENCH, "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def processes_in(cwd: str) -> set[int]:
    """Pids of the processes whose working directory is ``cwd``."""
    pids = set()
    for entry in os.listdir("/proc"):
        try:
            if entry.isdigit() and os.readlink(f"/proc/{entry}/cwd") == cwd:
                pids.add(int(entry))
        except OSError:
            pass
    return pids


def result_of(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def test_untraced_run_prints_every_end_to_end_metric():
    before = processes_in(ROOT)
    proc = bench(
        "--workload", "crawl", "--seed", "1", "--seconds", "0", "--trace", "0",
        "--size", '{"pages": 300}',
    )
    # the JVM, Spark's Python workers and the oracle process have all ended
    assert processes_in(ROOT) - before == set()
    res = result_of(proc)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0
    assert res["attempted"] >= len(run.WORKLOADS["crawl"]["calls"])
    assert set(res["metrics"]) == set(run.END_TO_END)
    for name, m in res["metrics"].items():
        assert m["unit"] == run.END_TO_END[name] and m["value"] > 0, name
    stamp = json.loads(proc.stdout.strip().splitlines()[-2])["stamp"]
    assert stamp["seed"] == 1 and stamp["cores"] == os.cpu_count()
    assert 0 <= stamp["cpu_steal_share"] < 1
    assert not os.path.exists(os.path.join(ROOT, ".perfbench_work"))


def test_traced_run_prints_every_per_layer_metric():
    proc = bench(
        "--workload", "grid", "--seed", "2", "--seconds", "0", "--trace", "1",
        "--size", '{"rows": 4, "cols": 8}',
    )
    res = result_of(proc)
    assert res["correct"]
    spec = run.WORKLOADS["grid"]
    assert res["attempted"] >= len(spec["calls"]) + len(spec["traced_calls"])
    assert list(res["metrics"]) == list(run.per_layer_names())
    m = {k: v["value"] for k, v in res["metrics"].items()}
    assert m["kernels.pagerank.jobs"] > 0 and m["kernels.pagerank.supersteps"] > 0
    assert m["kernels.bfs.stages"] > 0 and m["trace.overhead_s"] > 0


def test_fails_without_the_program(tmp_path):
    """In a directory holding only the benchmark, the command exits with
    an error and prints no result."""
    shutil.copytree(PERFBENCH, tmp_path / "perfbench")
    proc = bench("--workload", "crawl", "--seed", "1", "--seconds", "1", "--trace", "0",
                 cwd=str(tmp_path))
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


def test_stop_descendants_kills_and_reaps_a_child_that_ignores_sigterm():
    child = subprocess.Popen([
        sys.executable, "-c",
        "import signal, time; signal.signal(signal.SIGTERM, signal.SIG_IGN); time.sleep(60)",
    ])
    time.sleep(0.5)  # let it install the handler
    run.stop_descendants(grace_s=1.0)
    assert not os.path.exists(f"/proc/{child.pid}")


def test_per_layer_metrics_fit_the_contract():
    names = run.per_layer_names()
    assert len(names) <= 128
    assert len(run.END_TO_END) <= 16


@pytest.mark.parametrize(
    "intervals,total",
    [([], 0.0), ([(0, 1), (2, 3)], 2.0), ([(0, 2), (1, 3)], 3.0), ([(0, 3), (1, 2)], 3.0),
     ([(1, 1), (2, 1)], 0.0)],
)
def test_union_of_job_intervals(intervals, total):
    assert _union(intervals) == pytest.approx(total)


def test_resume_check_rejects_a_run_that_started_over(tmp_path):
    """The resume check fails before reading the result when the
    checkpoint the run should resume from was rewritten or is not the
    expected superstep."""
    state = tmp_path / "state_00005"
    state.mkdir()
    (state / "part-0.parquet").write_bytes(b"")
    ctx = calls.Ctx(
        spark=None, n=1, edges=None, sym=None, wedges=None,
        vertices=None, workdir=str(tmp_path), durable_rank=[1.0],
        resume_from=(calls.RESUME_FROM, str(state), ["part-0.parquet"]),
    )
    (state / "part-0.parquet").unlink()
    (state / "part-1.parquet").write_bytes(b"")
    assert "started over" in calls._check_resume(ctx, None)
    ctx.resume_from = (10, str(state), ["part-1.parquet"])
    assert "superstep 10" in calls._check_resume(ctx, None)
