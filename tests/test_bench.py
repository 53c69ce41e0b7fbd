"""bench.py end to end at sf0.001, and the contention stamp it reads."""

from __future__ import annotations

import json
import os
import signal
import subprocess
import time

import base_etl_spark
import bench
from perfbench.host import Contention
from tests.conftest import SF_TEST


def test_bench_main_smoke(spark, monkeypatch, capsys):
    # reuse the suite's session: a second build_session would re-apply
    # the bench's confs (shuffle partitions) to it for every later test
    monkeypatch.setattr(base_etl_spark, "build_session", lambda *a, **k: spark)
    monkeypatch.setattr(bench, "HEADLINE", {"q1": "agg_pricing"})
    monkeypatch.setattr(bench, "LOAD_WAIT_SECS", 0)
    monkeypatch.setattr(bench, "SF_DIR", SF_TEST)
    runs = []
    execute = base_etl_spark.execute_fully
    monkeypatch.setattr(base_etl_spark, "execute_fully", lambda df: runs.append(execute(df)))
    bench.main()
    assert len(runs) % 3 == 1  # one untimed warm-up, then best-of-3 (per retry)
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["value"] == out["queries"]["q1"] > 0
    assert set(out["queries"]) == {"q1"}
    assert out["key_other_cpu_s"]["q1"] is not None
    assert "value_warm2" not in out


def test_bench_times_a_registry_key_by_name(spark, monkeypatch, capsys):
    monkeypatch.setattr(base_etl_spark, "build_session", lambda *a, **k: spark)
    monkeypatch.setattr(bench, "LOAD_WAIT_SECS", 0)
    monkeypatch.setattr(bench, "SF_DIR", SF_TEST)
    assert "graph_degree_distribution" not in bench.HEADLINE.values()
    assert bench.main(["graph_degree_distribution"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert set(out["queries"]) == {"graph_degree_distribution"}
    assert out["value"] == out["queries"]["graph_degree_distribution"] > 0
    assert out["retried_keys"] == []


def test_bench_rejects_unknown_name_before_session(monkeypatch):
    def _no_session(*a, **k):
        raise AssertionError("session built for an unknown name")

    monkeypatch.setattr(base_etl_spark, "build_session", _no_session)
    assert bench.main(["q1", "no_such_key"]) == 2


def test_contention_stamp_sees_orphaned_busy_loop():
    # the shell exits at once, so the loop is reparented away from this
    # process tree and must count as another tenant's CPU
    pid = int(subprocess.run(
        ["sh", "-c", "while :; do :; done >/dev/null 2>&1 & echo $!"],
        capture_output=True, text=True, check=True,
    ).stdout)
    try:
        stamp = Contention([os.getpid()])
        t0 = time.time()
        time.sleep(1.0)
        other = stamp.other_cpu_s()
        wall = time.time() - t0
    finally:
        os.kill(pid, signal.SIGKILL)
    assert other >= 0.5 * wall, (other, wall)
