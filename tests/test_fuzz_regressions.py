"""Fuzz-tier regressions (round 5): ``tools/check.py --sf fuzz_nulls``
builds a perturbed copy of sf0.001 (short/unicode/boilerplate docs,
exact-boundary session gaps, duplicate timestamps, hour-edge events,
NULL-punched nullable columns; ``tools/tiers.py``) and judges every key
on it with ``compare.check_key``.

Its first two sweeps found 7 latent divergences the per-SF gates could
not see (byte-vs-char frame slicing on multibyte text, argmax ties on
duplicate timestamps, DuckDB array_to_string([]) = NULL, Spark
session_window merging an exact-gap event, NULL-crashing Python UDFs,
NULL-labeled docs training a langid profile, DuckDB raising on ln(0) where
Spark yields NULL). This test re-runs exactly
those keys on the fuzzed data so the fixes stay pinned; the full-surface
fuzz sweep remains a tools/ job (it needs its own Spark session budget).
"""

from __future__ import annotations

import pytest

from base_etl_spark import compare
from tools.tiers import TIERS

FOUND_BY_FUZZ = [
    "mm_frame_stats",
    "agg_argmax",
    "map_funcs",
    "stream_session",
    "udf_scalar",
    "udf_arrow",
    "text_langid_ngram",
    "math_funcs",
    "sample_weighted",  # r6: zero-weight doc -> Spark x/0 NULL sorted FIRST
]


@pytest.fixture(scope="module")
def fuzz_sf():
    return TIERS["fuzz_nulls"]()


@pytest.mark.parametrize("key", FOUND_BY_FUZZ)
def test_fuzzed_key_matches_oracle(key, spark, fuzz_sf):
    v = compare.check_key(spark, compare.oracle_con(fuzz_sf), key, fuzz_sf)
    assert v.status == compare.PASS, f"{key}: {v.problems}"


def test_division_by_zero_is_null_not_ieee(spark):
    """Pins the engine behavior sample_weighted's zero-weight exclusion
    relies on: Spark SQL division by zero yields NULL for DOUBLES too
    (non-ANSI mode), not IEEE inf/NaN — and NULL sorts FIRST ascending,
    so an unguarded ratio ORDER BY silently promotes exactly the rows a
    weight of zero says to never select. If either behavior changes
    (ANSI default flip, NULL ordering), the exclusion rationale must be
    revisited."""
    from pyspark.sql import functions as F

    row = spark.range(1).select(
        (F.lit(1.0) / F.lit(0.0)).alias("d"),
        (F.lit(0.0) / F.lit(0.0)).alias("z"),
    ).first()
    assert row.d is None and row.z is None
    ordered = (
        spark.createDataFrame([(1.0,), (None,)], "x double")
        .orderBy("x")
        .collect()
    )
    assert ordered[0].x is None  # NULLS FIRST ascending
