"""Unit oracle layer: every declared registry key vs DuckDB at sf0.001
(fast twin of the driver's sf0.01 gate; tools/check.py runs the full SF)."""

from __future__ import annotations

import os

import pytest

from base_etl_spark import compare, queries, oracle_sql
from tests.conftest import SF_TEST

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_QS = queries()
_ORACLE = oracle_sql()
ALL_KEYS = set(_QS)
DECLARED = sorted(_ORACLE)
ROWS_ONLY = sorted(set(_QS) - set(_ORACLE))


@pytest.mark.parametrize("key", DECLARED)
def test_declared_matches_oracle(key, spark, duck):
    v = compare.check_key(spark, duck, key, SF_TEST)
    assert v.status == compare.PASS, f"{key}: {v.problems}"


@pytest.mark.parametrize("key", ROWS_ONLY)
def test_rows_only_runs(key, spark, duck):
    v = compare.check_key(spark, duck, key, SF_TEST)
    assert v.status == compare.ROWS_ONLY, f"{key}: {v.problems}"
    assert v.cols  # runs and has a stable schema


def test_every_key_has_docstring():
    from base_etl_spark.registry import REGISTRY

    missing = [k for k, s in REGISTRY.items() if not s.doc.strip()]
    assert not missing


def test_entry_contract(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert set(e.oracle_sql()) <= set(e.queries())


def test_keys_come_in_registration_order():
    from base_etl_spark.registry import REGISTRY

    keys = list(queries())
    assert keys == list(REGISTRY)
    assert list(oracle_sql()) == [k for k in keys if REGISTRY[k].oracle is not None]


def test_survey_family_tables_enumerate_registry():
    """r7 VERDICT task 6: SURVEY §2's FAMILY tables (§2.1-2.11) are the
    binding inventory — they must enumerate every registry key exactly,
    without needing the per-round status appendices. Non-registry rows
    allowed: S (surface, pytest-verified) and documented-n/a rows."""
    import re

    lines = open(os.path.join(_REPO, "SURVEY.md")).read().split("\n")
    start = next(i for i, l in enumerate(lines) if l.startswith("### 2.1 "))
    end = next(i for i, l in enumerate(lines) if l.startswith("### 2.12 "))
    fam, st = {}, None
    for line in lines[start:end]:
        m = re.match(r"\|\s*([a-z0-9_]+)\s*\|\s*([^|]+)\|", line)
        if m and m.group(1) != "key":
            fam[m.group(1)] = m.group(2).strip()
    missing = sorted(ALL_KEYS - set(fam))
    assert not missing, f"registry keys absent from SURVEY family tables: {missing}"
    extra = {
        k: v for k, v in fam.items()
        if k not in ALL_KEYS and not (v.startswith("S") or v.startswith("n/a"))
    }
    assert not extra, f"family-table rows naming unknown non-S keys: {extra}"
