"""One-command exit gate: the full verification matrix, one JSON record.

The round-5 evidence (strict sweeps at two SFs, fuzz waves, parallelism
invariance, degenerate-input tiers, amplified-scale stress) was all run
— but scattered across SURVEY prose, so each round had to re-derive what
was actually executed at which HEAD. This tool runs the whole matrix
sequentially (each stage is its own subprocess with its own Spark
session — isolation a stage crash cannot break) and writes ONE
machine-readable summary, EXITGATE.json, stamped with the git HEAD it
ran at.

Stages (each independently skippable):
- pytest             full test suite at sf0.001
- check_sf001        tools/check.py, every key, sf0.01
- check_sf01         tools/check.py, every key, sf0.1
- fuzz               tools/check.py --sf fuzz (perturbed sf0.001)
- invariance_sf0001  tools/check.py at sf0.001 under SPARK_GRAFT_CPUS=3
                     (local[3], 3 shuffle partitions, minPartitionNum 3)
- invariance_sf001   the same at sf0.01
- empty              tools/check.py --sf empty (every table 0 rows)
- empty_facts_only   tools/check.py --sf empty_facts (facts 0 rows)
- empty_one_row      tools/check.py --sf one_row (every table 1 row)
- scale_x10          x10 amplified stress on every bench.py headline key
                     plus the iterative keys

The invariance stages judge the awkward fan-out against the DuckDB
oracle; pytest (8 partitions) and check_sf001 (the default) judge the
usual one. A result that changes with fan-out can equal the fixed
oracle at one fan-out at most, so one of the checks fails.

Usage: python tools/exit_gate.py [--skip STAGE ...] [--only STAGE ...]
Exit code 0 iff every executed stage passed. Expect the full matrix to
take on the order of an hour; run it once per round at final HEAD.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import HEADLINE  # noqa: E402
from tools.scale_stress import ITERATIVE_KEYS  # noqa: E402

# every headline key plus the iterative ones, named here rather than by
# scale_stress.py's stale DEFAULT_KEYS: perfbench/fixtures.py hashes that
# file into the fixture fingerprint its recorded digests are keyed on
SCALE_KEYS = list(HEADLINE.values()) + sorted(ITERATIVE_KEYS)

STAGES: list[tuple[str, list[str]]] = [
    ("pytest", [sys.executable, "-m", "pytest", "tests/", "-q", "-p", "no:warnings"]),
    ("check_sf001", [sys.executable, "tools/check.py"]),
    ("check_sf01", [sys.executable, "tools/check.py", "--sf", "/root/testdata/sf0.1"]),
    ("fuzz", [sys.executable, "tools/check.py", "--sf", "fuzz"]),
    ("invariance_sf0001", ["env", "SPARK_GRAFT_CPUS=3", sys.executable, "tools/check.py",
                           "--sf", "/root/testdata/sf0.001"]),
    ("invariance_sf001", ["env", "SPARK_GRAFT_CPUS=3", sys.executable, "tools/check.py",
                          "--sf", "/root/testdata/sf0.01"]),
    ("empty", [sys.executable, "tools/check.py", "--sf", "empty"]),
    ("empty_facts_only", [sys.executable, "tools/check.py", "--sf", "empty_facts"]),
    ("empty_one_row", [sys.executable, "tools/check.py", "--sf", "one_row"]),
    ("scale_x10", [sys.executable, "tools/scale_stress.py", "--amp", "10", *SCALE_KEYS]),
]


def _tail(text: str, n: int = 4) -> list[str]:
    lines = [ln for ln in text.strip().splitlines() if ln.strip()]
    return lines[-n:]


def _summary(proc: subprocess.CompletedProcess) -> list[str]:
    """The stdout tail; for a failing stage also every ``FAIL `` line of
    stdout (the keys a check stage failed) and the stderr tail."""
    tail = _tail(proc.stdout)
    if proc.returncode == 0:
        return tail
    fails = [ln for ln in proc.stdout.splitlines() if ln.startswith("FAIL ") and ln not in tail]
    return fails + tail + _tail(proc.stderr)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--skip", nargs="*", default=[], metavar="STAGE")
    ap.add_argument("--only", nargs="*", default=[], metavar="STAGE")
    ap.add_argument("--out", default=os.path.join(REPO, "EXITGATE.json"))
    args = ap.parse_args()

    names = {name for name, _ in STAGES}
    for s in list(args.skip) + list(args.only):
        if s not in names:
            print(f"unknown stage {s!r}; stages: {sorted(names)}", file=sys.stderr)
            return 2

    head = subprocess.run(
        ["git", "rev-parse", "HEAD"], cwd=REPO, capture_output=True, text=True
    ).stdout.strip()
    dirty = bool(
        subprocess.run(
            ["git", "status", "--porcelain"], cwd=REPO, capture_output=True, text=True
        ).stdout.strip()
    )

    record: dict = {
        "head": head,
        "dirty_worktree": dirty,
        "started_unix": int(time.time()),
        "stages": {},
    }
    ok = True
    for name, cmd in STAGES:
        if name in args.skip or (args.only and name not in args.only):
            record["stages"][name] = {"status": "skipped"}
            continue
        print(f"== {name}: {' '.join(cmd)}", file=sys.stderr, flush=True)
        t0 = time.time()
        proc = subprocess.run(cmd, cwd=REPO, capture_output=True, text=True)
        sec = round(time.time() - t0, 1)
        passed = proc.returncode == 0
        ok = ok and passed
        record["stages"][name] = {
            "status": "pass" if passed else "FAIL",
            "exit_code": proc.returncode,
            "sec": sec,
            "summary": _summary(proc),
        }
        print(f"   {'pass' if passed else 'FAIL'} in {sec}s", file=sys.stderr, flush=True)

    record["finished_unix"] = int(time.time())
    record["pass"] = ok
    with open(args.out, "w") as f:
        json.dump(record, f, indent=1)
    print(json.dumps({"metric": "exit_gate", "pass": ok, "head": head[:12],
                      "stages": {k: v["status"] for k, v in record["stages"].items()}}))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
