"""Sink round-trips + JDBC plan assembly (SURVEY §2.1 S-rows)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from base_etl_spark import sinks
from base_etl_spark.schemas import ORDERS


def test_parquet_partitioned_roundtrip(spark, tables, tmp_path):
    path = str(tmp_path / "orders_by_status")
    df = tables.orders.withColumn("yr", F.year("o_orderdate"))
    sinks.write_parquet(df, path, partition_by=["o_orderstatus"], target_partitions=4)
    # hive-style partition dirs exist
    assert any(d.startswith("o_orderstatus=") for d in os.listdir(path))
    back = spark.read.parquet(path)
    assert back.count() == df.count()
    # partition pruning: the filter becomes a PartitionFilter (directory
    # skip), never a data filter over all rows
    one = back.filter(F.col("o_orderstatus") == "F")
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(o_orderstatus" in plan
    assert one.count() > 0


def test_csv_roundtrip_preserves_nulls(spark, tmp_path):
    path = str(tmp_path / "csv_rt")
    df = spark.createDataFrame([(1, "x"), (2, None)], ["id", "s"])
    sinks.write_csv(df, path)
    back = sinks.read_csv(spark, path, df.schema).orderBy("id").collect()
    assert back[1].s is None  # NULL survived (not "")


def test_json_roundtrip(spark, tables, tmp_path):
    path = str(tmp_path / "json_rt")
    df = tables.nation
    sinks.write_json(df, path)
    back = sinks.read_json(spark, path, df.schema)
    assert back.count() == 25


def test_jdbc_writer_builds_without_db(tables):
    w = sinks.build_jdbc_writer(
        tables.nation,
        url="jdbc:postgresql://example.invalid:5432/warehouse",
        table="analytics.nation",
        properties={"user": "etl"},
    )
    # plan assembled; .save() would need a live DB — not available here
    assert w is not None


def test_bucketed_table_joins_without_exchange(spark, tables, tmp_path):
    # warehouse dir is set (session-scoped, static conf) in conftest
    sinks.write_bucketed(
        tables.orders.select("o_orderkey", "o_totalprice"), "orders_b", "o_orderkey", 4
    )
    sinks.write_bucketed(
        tables.lineitem.select("l_orderkey", "l_quantity"), "lineitem_b", "l_orderkey", 4
    )
    # force a non-broadcast join so the bucketed layout is what saves the
    # shuffle (with broadcast there is nothing for bucketing to save)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = spark.table("orders_b").join(
            spark.table("lineitem_b"), F.col("o_orderkey") == F.col("l_orderkey")
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan  # bucketing co-located the join
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    spark.sql("DROP TABLE IF EXISTS orders_b")
    spark.sql("DROP TABLE IF EXISTS lineitem_b")


_DERBY = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}


def test_jdbc_roundtrip_derby(spark, tables):
    """Real executed JDBC load: write nation to embedded Derby (bundled
    in Spark's jars), read it back through the JDBC source."""
    url = "jdbc:derby:memory:etltest;create=true"
    w = sinks.build_jdbc_writer(
        tables.nation, url, "nation_jdbc", mode="overwrite", properties=_DERBY
    )
    w.save()
    back = sinks.read_jdbc(spark, url, "nation_jdbc", properties=_DERBY)
    assert back.count() == 25
    assert {c.lower() for c in back.columns} == {c.lower() for c in tables.nation.columns}
    # append mode adds rows (the default daily-ETL load semantics)
    sinks.build_jdbc_writer(
        tables.nation.limit(5), url, "nation_jdbc", mode="append", properties=_DERBY
    ).save()
    assert sinks.read_jdbc(spark, url, "nation_jdbc", properties=_DERBY).count() == 30


def test_read_jdbc_partitioned_and_pushdown(spark, tables):
    """The parallel-read leg: a range-partitioned read splits into
    numPartitions range queries, and a subquery dbtable pushes the
    filter/projection into the database."""
    url = "jdbc:derby:memory:etlread;create=true"
    sinks.build_jdbc_writer(
        tables.customer.select("c_custkey", "c_nationkey", "c_acctbal"),
        url, "customer_jdbc", mode="overwrite", properties=_DERBY,
    ).save()
    part = sinks.read_jdbc(
        spark, url, "customer_jdbc", properties=_DERBY,
        partition_column="c_custkey", lower_bound=1, upper_bound=1501,
        num_partitions=4,
    )
    assert part.rdd.getNumPartitions() == 4
    assert part.count() == tables.customer.count()
    # range partitioning must not drop or duplicate boundary rows
    assert part.select("c_custkey").distinct().count() == tables.customer.count()
    sub = sinks.read_jdbc(
        spark, url,
        # Derby uppercases unquoted identifiers; Spark created the table
        # with quoted lowercase columns, so the pushdown query quotes too
        '(SELECT "c_custkey", "c_acctbal" FROM customer_jdbc WHERE "c_acctbal" > 0) t',
        properties=_DERBY,
    )
    assert set(c.lower() for c in sub.columns) == {"c_custkey", "c_acctbal"}
    assert sub.count() == tables.customer.filter("c_acctbal > 0").count()
    with pytest.raises(ValueError):
        sinks.read_jdbc(
            spark, url, "customer_jdbc", properties=_DERBY,
            partition_column="c_custkey",
        )


def test_run_daily_job_executes_jdbc_leg(spark, tmp_path):
    """run_daily_job with a JDBC URL must actually LOAD the rows (ADVICE
    r1: the writer was built and discarded)."""
    import datetime as dt

    from base_etl_spark import etl
    from tests.conftest import SF_TEST

    url = "jdbc:derby:memory:etljob;create=true"
    n = etl.run_daily_job(
        spark, SF_TEST, dt.date(1995, 6, 19), str(tmp_path / "daily"),
        jdbc_url=url, jdbc_properties=_DERBY,
    )
    back = (
        spark.read.format("jdbc").option("url", url)
        .option("dbtable", "daily_order_summary")
        .option("driver", _DERBY["driver"]).load()
    )
    assert back.count() == n > 0
    # replaying the same logical date must NOT double-insert (ADVICE r2:
    # the JDBC leg appended blindly; now it delete+appends the date)
    n2 = etl.run_daily_job(
        spark, SF_TEST, dt.date(1995, 6, 19), str(tmp_path / "daily"),
        jdbc_url=url, jdbc_properties=_DERBY,
    )
    assert n2 == n
    assert (
        spark.read.format("jdbc").option("url", url)
        .option("dbtable", "daily_order_summary")
        .option("driver", _DERBY["driver"]).load().count() == n
    )


def test_compaction_file_count_contract(spark):
    import glob
    import os

    from base_etl_spark import queries
    from base_etl_spark.sinks import scratch_path
    from tests.conftest import SF_TEST

    queries()["etl_compaction"](spark, SF_TEST).collect()
    frag = glob.glob(os.path.join(scratch_path(SF_TEST, "lineitem_fragmented"), "*.parquet"))
    comp = glob.glob(os.path.join(scratch_path(SF_TEST, "lineitem_compacted"), "*.parquet"))
    assert len(frag) == 64
    assert len(comp) == 4


def test_python_datasource_partition_plumbing(spark):
    """The custom source must genuinely parallelize: 8 driver-planned
    partitions, round-robin striping so every partition carries an even
    share, and options flow through (a smaller total/parts override)."""
    from base_etl_spark.pysource import SynthSource

    try:
        spark.dataSource.register(SynthSource)
    except Exception:
        pass
    df = spark.read.format("synthrange").load()
    assert df.rdd.getNumPartitions() == 8
    sizes = [len(p) for p in df.rdd.glom().collect()]
    assert sizes == [10_000 // 8] * 8
    small = spark.read.format("synthrange").option("total", "100").option("parts", "4").load()
    assert small.count() == 100
    assert small.rdd.getNumPartitions() == 4
    # ids cover the exact range with no dupes or gaps
    assert small.agg({"id": "min"}).first()[0] == 0
    assert small.select("id").distinct().count() == 100


# every layout each key writes under sinks.scratch_path
_LAYOUTS = {
    "scan_partitioned_pruned": ["orders_by_year"],
    "join_dpp_runtime": ["orders_by_year", "year_dim"],
    "join_bucketed_colocated": ["orders_bkt", "lineitem_bkt"],
    "etl_time_travel": ["customer_versions"],
    "scan_csv_permissive": ["customer_csv_dirty"],
    "scan_json_permissive": ["customer_jsonl_dirty"],
    "scan_text_lines": ["documents_txt"],
}


@pytest.mark.parametrize("key", sorted(_LAYOUTS))
def test_write_key_rewrites_its_layout_on_every_call(key, spark, duck):
    """A second call writes its layout again instead of reusing the
    first call's: a file planted between the calls is gone, and the
    second call's rows still equal the oracle."""
    from base_etl_spark import compare, queries
    from base_etl_spark.sinks import scratch_path
    from tests.conftest import SF_TEST

    queries()[key](spark, SF_TEST).collect()
    sentinels = [os.path.join(scratch_path(SF_TEST, name), "_sentinel") for name in _LAYOUTS[key]]
    for p in sentinels:
        open(p, "w").close()
    v = compare.check_key(spark, duck, key, SF_TEST)
    assert not [p for p in sentinels if os.path.exists(p)], "layout not rewritten"
    assert v.status == compare.PASS, v.problems


def test_python_datasource_sink_roundtrip(spark, tables, tmp_path):
    """The WRITE half of the Python DataSource surface: per-task Python
    writers stream JSON-lines files on executors, the driver-side
    commit publishes a manifest, and the files read back to exactly the
    source aggregate. Abort safety is the protocol's (attempt-unique
    file names); this pins the happy path end to end."""
    import json

    from pyspark.sql import functions as F

    from base_etl_spark.pysource import JsonlSink

    try:
        spark.dataSource.register(JsonlSink)
    except Exception:
        pass  # already registered in this session
    src = tables.orders.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    expected = {r.o_orderpriority: r.n for r in src.collect()}
    out = str(tmp_path / "jsonl_sink")
    (tmp_path / "jsonl_sink").mkdir()
    src.write.format("jsonlsink").option("path", out).mode("append").save()
    manifest = json.loads((tmp_path / "jsonl_sink" / "_MANIFEST.json").read_text())
    assert manifest["n_rows"] == len(expected)
    back = spark.read.json(f"{out}/part-*.jsonl")
    got = {r.o_orderpriority: r.n for r in back.collect()}
    assert got == expected
