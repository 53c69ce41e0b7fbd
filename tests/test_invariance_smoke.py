"""Sampled parallelism-invariance regression guard (SURVEY §2.16 item 7).

The full sweep is the exit gate's invariance stages: tools/check.py
under SPARK_GRAFT_CPUS=3, judged against the DuckDB oracle, while this
suite and the default check.py run judge the usual fan-out. Re-running
all keys per pytest run is too slow, so this pins the property in one
session, shuffle partitions 3 vs 8, on the keys whose shapes were
historically at risk:

- agg_argmax: WAS parallelism-dependent on duplicate (user_id, ts)
  until the fuzz wave gave it a unique composite order key — the one
  genuine order-dependence found, so it stays pinned forever.
- win_topk_per_group / topk_orders: rank ties + TakeOrderedAndProject,
  where tie-break completeness is what keeps scan order out of the
  result.
- dedup_near_minhash: banding buckets are hash-shuffled; pair emission
  must not depend on which partition a bucket lands in.
- agg_salted: the salt split/re-merge must be an identity at any
  fan-out.
- agg_pricing: order-dependent float accumulation absorbed by the
  documented final round.

A failure here means the answer depends on spark.sql.shuffle.partitions
— a wrong answer on any cluster whose fan-out differs from the test's,
invisible to the fixed-SF oracle gates because both engines would agree
while both vary.
"""

from __future__ import annotations

import pytest

from base_etl_spark import queries
from base_etl_spark.compare import frame_to_multiset, spark_to_pandas

from .conftest import SF_TEST

SMOKE_KEYS = [
    "agg_argmax",
    "win_topk_per_group",
    "topk_orders",
    "dedup_near_minhash",
    "agg_salted",
    "agg_pricing",
]


@pytest.mark.parametrize("key", SMOKE_KEYS)
def test_result_invariant_under_shuffle_fanout(spark, key):
    qs = queries()
    results = []
    try:
        for parts in (3, 8):
            spark.conf.set("spark.sql.shuffle.partitions", str(parts))
            sdf = qs[key](spark, SF_TEST)
            results.append(
                frame_to_multiset(
                    spark_to_pandas(sdf.columns, [tuple(r) for r in sdf.collect()])
                )
            )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", "8")
    assert results[0] == results[1], (
        f"{key}: result depends on shuffle partition count (3 vs 8)"
    )


def test_class_balanced_selection_ids_deterministic(spark):
    """ADVICE r8: sample_class_balanced's driver contract is
    constitutively (lang, k), so the hash gate cannot see a broken
    xxhash64 ranking — pin the ID-LEVEL selection: repeated runs and
    different shuffle fan-outs must keep exactly the same doc_ids."""
    from base_etl_spark.io import load_tables
    from base_etl_spark.operators.corpus import class_balanced_selection

    docs = load_tables(spark, SF_TEST).documents
    picks = []
    try:
        for parts in (3, 8, 8):
            spark.conf.set("spark.sql.shuffle.partitions", str(parts))
            sel = class_balanced_selection(docs)
            picks.append(sorted((r.doc_id, r.lang) for r in sel.collect()))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", "8")
    assert picks[0] == picks[1] == picks[2], (
        "class-balanced id selection is not deterministic across runs/fan-out"
    )
    assert picks[0], "selection unexpectedly empty on the test fixture"
