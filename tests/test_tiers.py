"""The generated fixture tiers behind ``tools/check.py --sf <tier>``."""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest

from base_etl_spark.schemas import TABLE_NAMES
from tools.tiers import SRC_SF, TIERS


@pytest.mark.parametrize("tier", list(TIERS))
def test_tier_holds_every_table_in_source_schema(tier):
    sf = TIERS[tier]()
    assert sorted(os.listdir(sf)) == sorted(f"{n}.parquet" for n in TABLE_NAMES)
    for name in TABLE_NAMES:
        want = pq.read_schema(os.path.join(SRC_SF, f"{name}.parquet"))
        got = pq.read_schema(os.path.join(sf, f"{name}.parquet"))
        assert got.equals(want), (tier, name, got, want)


def test_fuzz_tiers_do_not_share_a_directory():
    """Building ``fuzz_nulls`` must leave the ``fuzz`` tier's files as
    they were: a sweep of one may be reading while the other builds."""
    fuzz = TIERS["fuzz"]()
    before = {n: pq.read_table(os.path.join(fuzz, n)) for n in os.listdir(fuzz)}
    nulls = TIERS["fuzz_nulls"]()
    assert os.path.realpath(fuzz) != os.path.realpath(nulls)
    for n, tbl in before.items():
        assert pq.read_table(os.path.join(fuzz, n)).equals(tbl), n
    docs = pq.read_table(os.path.join(nulls, "documents.parquet"))
    assert docs.num_rows > before["documents.parquet"].num_rows
    assert docs.column("lang").null_count > 0
    assert before["documents.parquet"].column("lang").null_count == 0
