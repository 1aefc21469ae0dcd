"""Smoke runs of every workload at the smallest inputs (sf0.001 tables,
a 2-day fixture), run as the benchmark is run: one process per run, the
result on the last line of standard output.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT / "perfbench"))

from run import END_TO_END, PER_LAYER_UNITS, WORKLOADS  # noqa: E402

SEED = 7


def _run(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [
            sys.executable,
            "perfbench/run.py",
            "--workload", workload,
            "--seed", str(SEED),
            "--seconds", "1",
            "--trace", str(trace),
            "--smoke",
        ],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def _assert_clean(result: dict) -> None:
    assert result["correct"] is True
    assert result["failed"] == 0
    assert result["attempted"] >= 1


@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke_end_to_end(workload):
    result = _run(workload, trace=0)
    _assert_clean(result)
    assert set(result["metrics"]) == set(END_TO_END)
    for name, m in result["metrics"].items():
        assert m["value"] > 0, name
        assert m["unit"] == END_TO_END[name]


@pytest.mark.parametrize("workload", ["query-heavy", "medallion-delta"])
def test_smoke_traced(workload):
    result = _run(workload, trace=1)
    _assert_clean(result)
    assert set(result["metrics"]) == set(PER_LAYER_UNITS)
    trace = json.loads(
        (ROOT / f".bench_build/perfbench/traces/{workload}-seed{SEED}.json").read_text()
    )
    passes = trace["passes"]
    assert result["metrics"]["spark.jobs"]["value"] > 0
    assert result["metrics"]["spark.optimization_ms"]["value"] > 0
    # the JIT compiler threads were found, so program CPU leaves them out
    assert result["metrics"]["proc.jit_cpu_s"]["value"] > 0
    assert trace["spans"], "the traced run recorded no spans"
    if workload == "query-heavy":
        # every op runs in its own cache scope: the second pass
        # recomputes what the first cached instead of reading it
        jobs = [p["ops"]["graph-kcore-peel"]["spark.jobs"] for p in passes[:2]]
        assert jobs[0] == jobs[1] > 0
    else:
        assert result["metrics"]["delta_log.commits"]["value"] > 0
        assert result["metrics"]["medallion.silver_s"]["value"] > 0
