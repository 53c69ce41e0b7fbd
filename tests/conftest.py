from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_TEST = "/root/testdata/sf0.001"  # fast unit-layer SF (SURVEY §5.4)
SF_ORACLE = "/root/testdata/sf0.01"  # the driver's t2 SF


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    from base_etl_spark import build_session

    # warehouse.dir is a STATIC conf — must be set at session build (the
    # bucketed-table test writes managed tables)
    wh = str(tmp_path_factory.mktemp("spark_warehouse"))
    s = build_session(
        "tests", shuffle_partitions=8, extra_conf={"spark.sql.warehouse.dir": wh}
    )
    yield s


@pytest.fixture(scope="session")
def tables(spark):
    from base_etl_spark import load_tables

    return load_tables(spark, SF_TEST)


@pytest.fixture(scope="session")
def duck():
    from base_etl_spark.compare import oracle_con

    return oracle_con(SF_TEST)
