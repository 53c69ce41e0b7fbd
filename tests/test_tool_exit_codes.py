"""Exit-status plumbing of the verification tools (r6 ADVICE, both high
items): every tool's ``__main__`` block must propagate ``main()``'s 0/1
status to the process exit code, and exit_gate must record a stage whose
subprocess fails as status FAIL and itself exit non-zero.

Without this, fuzz divergences / invariance violations / superlinear
scale regressions were printed but the process exited 0, so
EXITGATE.json recorded 'pass' for failing stages.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TOOLS = [
    "check.py",
    "exit_gate.py",
    "scale_stress.py",
]


@pytest.mark.parametrize("tool", TOOLS)
def test_main_block_propagates_status(tool: str) -> None:
    src = open(os.path.join(REPO, "tools", tool)).read()
    block = src[src.index('if __name__ == "__main__":'):]
    assert re.search(r"sys\.exit\(main\(\)\)|SystemExit\(main\(\)\)", block), (
        f"tools/{tool} __main__ discards main()'s status — the process "
        "always exits 0 and exit_gate records failing stages as pass"
    )


def _exit_gate():
    sys.path.insert(0, os.path.join(REPO, "tools"))
    try:
        import exit_gate
    finally:
        sys.path.pop(0)
    return exit_gate


def test_exit_gate_forced_fail_stage(tmp_path, monkeypatch) -> None:
    """A stage whose subprocess exits 1 must surface as FAIL + exit 1."""
    exit_gate = _exit_gate()

    out = str(tmp_path / "gate.json")
    fake = [
        ("good", [sys.executable, "-c", "print('ok')"]),
        ("bad", [sys.executable, "-c", "raise SystemExit(1)"]),
    ]
    monkeypatch.setattr(exit_gate, "STAGES", fake)
    monkeypatch.setattr(sys, "argv", ["exit_gate.py", "--out", out])
    rc = exit_gate.main()
    record = json.load(open(out))
    assert record["stages"]["good"]["status"] == "pass"
    assert record["stages"]["bad"]["status"] == "FAIL"
    assert record["pass"] is False
    assert rc == 1

    # and all-green → exit 0
    monkeypatch.setattr(exit_gate, "STAGES", fake[:1])
    rc = exit_gate.main()
    assert rc == 0 and json.load(open(out))["pass"] is True


def test_exit_gate_summary_names_failing_key(tmp_path, monkeypatch) -> None:
    """A failing check stage's summary keeps its FAIL lines, even when
    later stdout lines and stderr noise fill both tails."""
    exit_gate = _exit_gate()
    out = str(tmp_path / "gate.json")
    fake_check = (
        "import sys\n"
        "print('PASS  agg_cube: 9 rows (0.1s)')\n"
        "print('FAIL  agg_pricing: rowcount spark=3 oracle=6')\n"
        "for i in range(6): print(f'PASS  key_{i}: 1 rows (0.1s)')\n"
        "print()\n"
        "print('7 pass, 0 rows-only, 1 fail / 8 keys')\n"
        "for i in range(6): print(f'[Stage {i}:====>   (4 + 3) / 8]', file=sys.stderr)\n"
        "sys.exit(1)\n"
    )
    monkeypatch.setattr(exit_gate, "STAGES", [("check", [sys.executable, "-c", fake_check])])
    monkeypatch.setattr(sys, "argv", ["exit_gate.py", "--out", out])
    assert exit_gate.main() == 1
    summary = json.load(open(out))["stages"]["check"]["summary"]
    assert any(ln.startswith("FAIL  agg_pricing:") for ln in summary), summary
    assert "7 pass, 0 rows-only, 1 fail / 8 keys" in summary


def test_invariance_stages_run_check_at_three_cpus() -> None:
    """The fan-out invariance stages are the oracle sweep at an awkward
    parallelism, not a separate diff tool."""
    stages = {name: cmd for name, cmd in _exit_gate().STAGES if name.startswith("invariance_")}
    assert set(stages) == {"invariance_sf0001", "invariance_sf001"}
    for name, cmd in stages.items():
        assert cmd[:2] == ["env", "SPARK_GRAFT_CPUS=3"], (name, cmd)
        assert cmd[3] == "tools/check.py", (name, cmd)


def test_scale_stage_runs_every_headline_key() -> None:
    import bench
    from tools.scale_stress import ITERATIVE_KEYS

    cmd = dict(_exit_gate().STAGES)["scale_x10"]
    keys = cmd[cmd.index("10") + 1:]
    assert keys == list(bench.HEADLINE.values()) + sorted(ITERATIVE_KEYS)
    assert "dedup_quality_survivor" in keys


def _check(*args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "tools/check.py", *args],
        cwd=REPO, capture_output=True, text=True, timeout=600,
    )


def test_check_sweeps_a_tier_by_name() -> None:
    """``--sf <tier>`` builds the tier and judges declared and rows-only
    keys alike."""
    proc = _check("--sf", "empty", "agg_rollup", "graph_pagerank")
    assert proc.returncode == 0, proc.stdout + proc.stderr
    assert "1 pass, 1 rows-only, 0 fail / 2 keys" in proc.stdout


def test_check_rejects_unknown_sf() -> None:
    proc = _check("--sf", "no_such_tier_or_dir", "agg_rollup")
    assert proc.returncode == 2
    assert "neither a directory nor a tier" in proc.stderr
