"""The driver path stays in the JVM: frames built from driver rows plan as
a LocalTableScan (`io.local_frame`), plan building sends few py4j
commands, `load_tables` re-registers temp views only on a switch of
directory, and the driver heap leaves the host room for a second session."""

from __future__ import annotations

import ast
import datetime as dt
import os
import pathlib
import time

import pytest
from py4j.java_gateway import GatewayClient
from py4j.protocol import MEMORY_COMMAND_NAME

from base_etl_spark.io import local_frame
from tests.conftest import SF_ORACLE, SF_TEST

PKG = pathlib.Path(__file__).resolve().parents[1] / "base_etl_spark"

_DDL = (
    "i int, b bigint, s string, d double, f boolean, ts timestamp, v array<double>"
)
_ROWS = [
    (1, 2**40, "x'y\\z", 1.5, True, dt.datetime(2020, 3, 4, 5, 6, 7, 123456), [1.0, -2.5]),
    (-7, -1, "", -0.0, False, dt.datetime(1999, 12, 31, 23, 59, 59), []),
    (None, None, None, None, None, None, None),
    (0, 0, "naïve ☃", 1e300, None, dt.datetime(2020, 7, 1, 12, 0), [None, 3.0]),
]


def _count_py4j(monkeypatch) -> list[int]:
    """Count py4j commands from now on, memory-release commands (sent
    when Python proxies are garbage collected) excluded."""
    calls = [0]
    orig = GatewayClient.send_command

    def send_command(client, command, *args, **kwargs):
        if not command.startswith(MEMORY_COMMAND_NAME):
            calls[0] += 1
        return orig(client, command, *args, **kwargs)

    monkeypatch.setattr(GatewayClient, "send_command", send_command)
    return calls


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture
def local_tz():
    """Run the test with the driver process in a non-UTC time zone (the
    session's zone stays UTC), restoring the old zone afterwards."""
    old = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"
    time.tzset()
    yield
    if old is None:
        del os.environ["TZ"]
    else:
        os.environ["TZ"] = old
    time.tzset()


def test_local_frame_plans_as_local_table_scan(spark):
    plan = _plan(local_frame(spark, _ROWS, _DDL))
    assert "LocalTableScan" in plan, plan
    assert "ExistingRDD" not in plan, plan


def test_local_frame_equals_create_data_frame(spark, local_tz):
    """Rows, schema and the JVM's own view of each value (cast to
    string, so a naive datetime's zone shows) equal the list path's."""
    got = local_frame(spark, _ROWS, _DDL)
    ref = spark.createDataFrame(_ROWS, _DDL)
    assert got.schema == ref.schema
    assert got.collect() == ref.collect()
    as_text = [f"CAST({c} AS STRING)" for c in got.columns]
    assert got.selectExpr(*as_text).collect() == ref.selectExpr(*as_text).collect()
    # naive datetimes are process-local: 05:06 in New York is 10:06 UTC
    assert got.selectExpr("CAST(ts AS STRING)").first()[0] == "2020-03-04 10:06:07.123456"


def test_local_frame_empty(spark):
    got = local_frame(spark, [], _DDL)
    assert got.schema == spark.createDataFrame([], _DDL).schema
    assert got.collect() == []
    assert "LocalTableScan" in _plan(got)


def test_local_frame_rejects_ragged_rows(spark):
    with pytest.raises(ValueError):
        local_frame(spark, [(1, "a"), (2,)], "k int, s string")


def test_no_create_data_frame_outside_local_frame():
    """Every frame built from driver rows goes through io.local_frame;
    `createDataFrame(<python list>)` plans a Scan ExistingRDD that starts
    a Python worker in every task reading it."""
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        tree = ast.parse(path.read_text(), str(path))
        allowed = set()
        for node in ast.walk(tree):
            if isinstance(node, ast.FunctionDef) and node.name == "local_frame":
                allowed.update(id(n) for n in ast.walk(node))
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "createDataFrame"
                and id(node) not in allowed
            ):
                offenders.append(f"{path.relative_to(PKG.parent)}:{node.lineno}")
    assert not offenders, f"use io.local_frame instead: {offenders}"


def test_bpe_train_build_py4j_budget(spark, monkeypatch):
    """Building tokenizer_bpe_train (its collects included) sends a few
    hundred py4j commands. Per-Column origin capture or a Column-lambda
    fold built every round costs thousands, and would fail this bound."""
    from base_etl_spark import queries

    qs = queries()
    qs["tokenizer_bpe_train"](spark, SF_TEST)  # warm: views, caches
    calls = _count_py4j(monkeypatch)
    qs["tokenizer_bpe_train"](spark, SF_TEST)
    monkeypatch.undo()
    assert 0 < calls[0] <= _BPE_BUILD_CALL_BUDGET, calls[0]


# Measured at sf0.001: 454. With per-Column origin capture on, 834; with
# the round's fold built from Column lambdas, 1,256; with both, 3,026.
_BPE_BUILD_CALL_BUDGET = 650


def test_driver_heap_at_most_a_third_of_host_memory(spark):
    mem = spark.sparkContext.getConf().get("spark.driver.memory")
    host = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    assert mem.endswith("g") and int(mem[:-1]) * 2**30 <= host / 3, mem


def test_load_tables_views_follow_the_last_dir(spark):
    """Views are re-registered only on a switch of directory, and after
    A, B, A `spark.sql` reads A again."""
    from base_etl_spark import load_tables

    def counts():
        return {
            n: spark.sql(f"SELECT count(*) FROM {n}").first()[0]
            for n in ("orders", "lineitem", "documents")
        }

    a = load_tables(spark, SF_TEST)
    want_a = {n: a[n].count() for n in ("orders", "lineitem", "documents")}
    assert counts() == want_a
    b = load_tables(spark, SF_ORACLE)
    want_b = {n: b[n].count() for n in ("orders", "lineitem", "documents")}
    assert want_b != want_a
    assert counts() == want_b
    load_tables(spark, SF_TEST)
    assert counts() == want_a


def test_load_tables_repeat_call_sends_no_py4j(spark, monkeypatch):
    """A repeat call for the directory the views already point at is a
    dictionary lookup: no view is re-registered."""
    from base_etl_spark import load_tables

    load_tables(spark, SF_TEST)
    calls = _count_py4j(monkeypatch)
    load_tables(spark, SF_TEST)
    assert calls[0] == 0
