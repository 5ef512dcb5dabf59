"""Smoke test of the benchmark: every workload on tiny inputs, traced
and untraced. Checks that every metric BENCHMARK.json names is printed
with its unit, that the report line carries the workload's named
metrics, and that the output checks ran and passed.

    python3 -m pytest perfbench/test_smoke.py -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

NAMED = {
    "hydfs_log": ["append_p50_ms", "append_p95_ms", "read_p50_s", "merge_s", "hydfs_script_s"],
    "rainstorm_live": ["stream_latency_p50_s", "stream_latency_p95_s", "catchup_rows_per_s"],
    "batch_queries": ["batch_cold_s", "batch_warm_s"],
}
TRACED_SELF = ["session", "dfs", "sources", "streaming", "sinks", "plans"]


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _run(workload: str, trace: int) -> tuple[dict, dict]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "2", "--trace", str(trace), "--smoke"]
    p = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, timeout=600, cwd=HERE)
    assert p.returncode == 0, p.stdout
    lines = [x for x in p.stdout.splitlines() if x.startswith("{")]
    return json.loads(lines[-2])["report"], json.loads(lines[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(NAMED))
def test_workload_emits_every_metric(workload, trace):
    report, result = _run(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    spec = _spec()["per_layer" if trace else "end_to_end"]
    assert list(result["metrics"]) == [m["name"] for m in spec]
    for m in spec:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))
        if not trace:
            assert got["value"] > 0, m["name"]
    for name in NAMED[workload] + ["setup_s", "error_ratio"]:
        assert name in report and "unit" in report[name], name
    assert report["error_ratio"]["value"] == 0
    if trace:
        for layer in TRACED_SELF:
            assert f"{layer}.self_s" in report
        assert report["trace.overhead_s"]["value"] > 0


def test_fails_without_the_engine():
    """In a directory holding only BENCHMARK.json and perfbench/, the
    command exits non-zero and prints no result."""
    import shutil

    bare = os.path.join(ROOT, ".perfbench_work", f"bare-{os.getpid()}")
    try:
        os.makedirs(bare)
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        p = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", "hydfs_log", "--seed", "1",
             "--seconds", "1", "--trace", "0"],
            cwd=bare, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=120,
            env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"},
        )
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
