"""Empty-input regressions (round 5): ``tools/check.py --sf empty`` runs
every key on 0-row tables (schema preserved from the sf0.001 footers) —
the filter-eliminated-everything / empty-ingest-partition shape that the
per-SF gates and the row-perturbing fuzz tiers can never produce.

Its first sweep found 10 latent defects, every one a classic production
failure class:
- empty PARTITIONED writes emit no part files, so a bare
  spark.read.parquet of the derived layout raised UNABLE_TO_INFER_SCHEMA
  (etl_time_travel, scan_partitioned_pruned, join_dpp_runtime — fixed by
  explicit-schema reads via sinks.read_derived);
- Spark's Expand-based grouping sets emit NO grand-total row over empty
  input where ANSI (DuckDB/Postgres) emits one (agg_rollup, agg_cube,
  agg_grouping_sets — fixed by a count-gated synthesized row);
- crosstab derives columns from observed values, so an absent status
  dropped the column and the explicit select crashed (agg_crosstab);
- groupBy drops the all-good/all-corrupt population from the quarantine
  report (scan_csv_permissive — fixed by a static domain outer join);
- division by zero on an empty graph (graph_pagerank) and np.stack on an
  empty probe list (sim_topk_blocked).

This re-runs exactly those keys on the empty tier driver-strict so the
fixes stay pinned; the full-surface empty sweep remains a tools/ job.
"""

from __future__ import annotations

import pytest

from base_etl_spark import compare
from tools.tiers import TIERS

FOUND_BY_EMPTY_SWEEP = [
    "etl_time_travel",
    "agg_rollup",
    "agg_cube",
    "agg_grouping_sets",
    "agg_crosstab",
    "sim_topk_blocked",
    "scan_partitioned_pruned",
    "join_dpp_runtime",
    "scan_csv_permissive",
]


@pytest.fixture(scope="module")
def empty_sf():
    return TIERS["empty"]()


@pytest.mark.parametrize("key", FOUND_BY_EMPTY_SWEEP)
def test_empty_input_matches_oracle(key, spark, empty_sf):
    v = compare.check_key(spark, compare.oracle_con(empty_sf), key, empty_sf)
    assert v.status == compare.PASS, f"{key}: {v.problems}"


def test_pagerank_empty_graph_is_empty(spark, empty_sf):
    from base_etl_spark import queries

    df = queries()["graph_pagerank"](spark, empty_sf)
    assert df.columns == ["node", "rank"]
    assert df.count() == 0


def test_win_distribution_single_row_percent_rank(spark):
    """The one-row degenerate tier (tools/check.py --sf one_row)
    found the closed form's n=1 hole: (rn-1)/(n-1) is 0/0, NULL under
    Spark's non-ANSI division, while SQL defines percent_rank of a lone
    row as 0.0 (DuckDB's native window function emits 0.0). Pin the
    special case driver-strict against the oracle on a 1-row table."""
    sf = TIERS["one_row"]()
    v = compare.check_key(spark, compare.oracle_con(sf), "win_distribution", sf)
    assert len(v.rows) == 1 and v.rows[0][2:] == (1, 0.0, 1.0)  # ntile, pct, cdist
    assert v.status == compare.PASS, v.problems
