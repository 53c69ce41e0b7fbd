"""Self-test of the benchmark.

    python3 -m pytest perfbench/test_smoke.py -q

The smoke runs use sf0.001 fixtures and the fewest passes: every op of
every workload runs, every metric of BENCHMARK.json must be printed with
its unit, and no op may fail its check.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)

sys.path.insert(0, HERE)
from run import best_of  # noqa: E402
from tracer import union_s  # noqa: E402


def run_bench(args: list[str], cwd: str) -> subprocess.CompletedProcess:
    return subprocess.run([sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
                          cwd=cwd, capture_output=True, text=True, timeout=900)


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_smoke_prints_every_metric_and_no_op_fails(workload):
    out = run_bench(["--workload", workload, "--seed", "1", "--seconds", "0",
                     "--trace", "1", "--smoke"], ROOT)
    assert out.returncode == 0, out.stderr[-4000:]
    lines = out.stdout.strip().splitlines()
    printed = {ln.split()[1]: (float(ln.split()[2]), ln.split()[3])
               for ln in lines if ln.startswith("metric ")}
    for m in SPEC["end_to_end"] + SPEC["per_layer"]:
        assert m["name"] in printed, m["name"]
        assert printed[m["name"]][1] == m["unit"], m["name"]
    assert printed["bench.op_fail_frac"][0] == 0
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0
    assert set(result["metrics"]) == {m["name"] for m in SPEC["per_layer"]}


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns(".data"))
    out = run_bench(["--workload", SPEC["workloads"][0]["name"], "--seed", "1"], str(tmp_path))
    assert out.returncode != 0
    assert out.stdout == ""


def test_union_and_best_of():
    assert union_s([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_s([]) == 0
    passes = [{"op_s": {"a": 2.0, "b": 1.0}}, {"op_s": {"a": 1.5, "b": 3.0}}]
    assert best_of(passes) == 2.5
