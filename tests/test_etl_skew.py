"""Daily-ETL job layer, skew utilities, dynamic partition pruning."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from base_etl_spark import etl, skew
from tests.conftest import SF_TEST


def test_daily_job_writes_one_partition(spark, tmp_path):
    day = dt.date(1995, 6, 19)  # 5 orders at sf0.001 (measured)
    out = str(tmp_path / "daily")
    n = etl.run_daily_job(spark, SF_TEST, day, out)
    back = spark.read.parquet(out)
    assert back.count() == n > 0
    # partition values are re-inferred on read (string -> date)
    assert {str(r.ds) for r in back.select("ds").distinct().collect()} == {"1995-06-19"}


def test_daily_job_date_without_orders_returns_zero(spark, tmp_path):
    """The row count is observed on the write; a date with no orders
    writes nothing and reports 0."""
    out = str(tmp_path / "daily_empty")
    assert etl.run_daily_job(spark, SF_TEST, dt.date(2030, 1, 1), out) == 0


def test_daily_job_idempotent_overwrite(spark, tmp_path):
    day = dt.date(1995, 6, 19)  # 5 orders at sf0.001 (measured)
    out = str(tmp_path / "daily2")
    n1 = etl.run_daily_job(spark, SF_TEST, day, out)
    n2 = etl.run_daily_job(spark, SF_TEST, day, out)  # rerun same logical date
    assert n1 == n2 == spark.read.parquet(out).count()


def test_daily_job_leaves_session_conf_alone(spark, tmp_path):
    """Dynamic partition overwrite is the backfill write's own option: the
    session's confs read the same after a run, and a second date still
    keeps the first date's partition."""
    out = str(tmp_path / "daily3")
    before = dict(spark.sql("SET").collect())
    etl.run_daily_job(spark, SF_TEST, dt.date(1995, 6, 19), out)
    etl.run_daily_job(spark, SF_TEST, dt.date(1995, 6, 20), out)
    assert dict(spark.sql("SET").collect()) == before
    days = {str(r.ds) for r in spark.read.parquet(out).select("ds").distinct().collect()}
    assert days == {"1995-06-19", "1995-06-20"}


def test_upsert_parquet_merges(spark, tmp_path):
    path = str(tmp_path / "base")
    spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"]).write.parquet(path)
    updates = spark.createDataFrame([(2, "B"), (3, "c")], ["k", "v"])
    merged = {(r.k, r.v) for r in etl.upsert_parquet(spark, path, updates, "k").collect()}
    assert merged == {(1, "a"), (2, "B"), (3, "c")}


def test_salted_agg_matches_plain(spark, tables):
    plain = {
        (r.l_returnflag, r.n, round(r.s, 2))
        for r in tables.lineitem.groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("l_quantity").alias("s"))
        .collect()
    }
    salted = {
        (r.l_returnflag, r.n, round(r.s, 2))
        for r in skew.salted_agg(
            tables.lineitem,
            ["l_returnflag"],
            aggs=[F.count(F.lit(1)).alias("pn"), F.sum("l_quantity").alias("ps")],
            reaggs=[F.sum("pn").alias("n"), F.sum("ps").alias("s")],
        ).collect()
    }
    assert salted == plain


def test_salted_join_matches_plain(spark, tables):
    small = tables.nation.select(F.col("n_nationkey").alias("c_nationkey"), "n_name")
    plain = tables.customer.join(small, "c_nationkey").count()
    salted = skew.salted_join(tables.customer, small, "c_nationkey").count()
    assert salted == plain


def test_dynamic_partition_pruning_on_partitioned_copy(spark, tables, tmp_path):
    """SURVEY §4: our sinks partition by date-ish columns so DPP applies;
    assert the pruning machinery engages on a partitioned copy."""
    path = str(tmp_path / "orders_part")
    tables.orders.withColumn("yr", F.year("o_orderdate")).write.partitionBy(
        "yr"
    ).parquet(path)
    part = spark.read.parquet(path)
    # static pruning: a literal filter becomes a PartitionFilter (reads
    # one directory, zero data files from other years)
    static = part.filter(F.col("yr") == 1996)
    splan = static._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        static._jdf.queryExecution(), "formatted"
    )
    assert "PartitionFilters: [isnotnull(yr" in splan
    # dynamic pruning: a filtered dim joined on the partition column
    # plants a dynamicpruning subquery in the scan's partition filters
    dim = spark.createDataFrame(
        [(1996, "pick"), (1997, "skip")], ["yr", "tag"]
    ).filter(F.col("tag") == "pick")
    j = part.join(dim, "yr")
    jplan = j._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        j._jdf.queryExecution(), "formatted"
    )
    assert "dynamicpruning" in jplan.lower(), jplan[:2000]


def test_backfill_run_range_idempotent(spark, tmp_path):
    """3-day backfill, re-run: parquet partitions are overwritten in
    place (identical contents), the run log keeps append-only history,
    and read_run_log surfaces exactly one latest row per date."""
    import datetime as dt

    from base_etl_spark import etl
    from tests.conftest import SF_TEST

    out = str(tmp_path / "daily")
    log = str(tmp_path / "runlog")
    days = [dt.date(1995, 6, 18), dt.date(1995, 6, 19), dt.date(1995, 6, 20)]
    r1 = etl.run_range(spark, SF_TEST, days, out, run_log_path=log)
    assert all(r["status"] == "success" for r in r1)
    first = sorted(tuple(r) for r in spark.read.parquet(out).collect())
    # replay the whole range: partition overwrite => identical data
    r2 = etl.run_range(spark, SF_TEST, days, out, run_log_path=log)
    again = sorted(tuple(r) for r in spark.read.parquet(out).collect())
    assert again == first
    # run log: append-only (6 rows), latest-per-ds view has 3
    assert spark.read.parquet(log).count() == 6
    latest = etl.read_run_log(spark, log)
    assert latest.count() == 3
    assert {r.ds for r in latest.collect()} == {d.isoformat() for d in days}
    assert all(r["rows"] == s["rows"] for r, s in zip(r1, r2))


def test_scd2_apply_versions(spark):
    """scd2_apply closes updated keys and leaves others current."""
    from base_etl_spark.etl import scd2_apply

    dim = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], "k long, name string, v double"
    )
    upd = spark.createDataFrame([(2, "b", 25.0)], "k long, name string, v double")
    out = scd2_apply(dim, upd, "k", "2024-01-01", ["name", "v"]).collect()
    by_key = {}
    for r in out:
        by_key.setdefault(r.k, []).append(r)
    assert len(by_key[1]) == 1 and by_key[1][0].is_current
    vers = sorted(by_key[2], key=lambda r: r.valid_from)
    assert len(vers) == 2
    assert not vers[0].is_current and vers[0].v == 20.0
    assert vers[0].valid_to == vers[1].valid_from  # contiguous validity
    assert vers[1].is_current and vers[1].v == 25.0


def test_dedup_clusters_consistent_with_pairs(spark):
    """Every near-dup pair lands in one cluster; canonical is the min
    member; labels are fixpoint-stable (cluster = connected component)."""
    from base_etl_spark import queries

    qs = queries()
    from tests.conftest import SF_TEST

    pairs = [(r.doc_a, r.doc_b) for r in qs["dedup_near_jaccard"](spark, SF_TEST).collect()]
    lab = {r.doc_id: r.canonical_id for r in qs["dedup_clusters"](spark, SF_TEST).collect()}
    assert pairs and lab
    for a, b in pairs:
        assert lab[a] == lab[b], (a, b)
    # canonical id is the minimum of its cluster and itself a member
    from collections import defaultdict

    members = defaultdict(set)
    for n, c in lab.items():
        members[c].add(n)
    for c, ms in members.items():
        assert c == min(ms) and c in lab


def test_aqe_splits_skewed_join_partition(spark):
    """AQE's runtime skew-join split — the engine-level answer that
    complements the manual salting operators in skew.py: a join where
    ~75% of rows share one key must re-plan at runtime with the skewed
    partition split across tasks (SortMergeJoin(skew=true)).

    Two operational lessons are pinned here because getting the marker
    to appear at fixture scale required both: (1) skew detection is
    BYTE-based on the COMPRESSED shuffle — an all-constant or monotone
    synthetic column compresses so well the skewed partition stays under
    threshold and AQE sees nothing (measured: the same shape with a
    compressible payload column never splits), so the payload here is
    rand-incompressible; (2) broadcast must be off — a broadcast join
    has no shuffled partitions to split."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "4KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "4KB",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        left = spark.range(0, 400_000).select(
            F.when(F.col("id") % 4 != 3, 0).otherwise(F.col("id") % 50).alias("k"),
            (F.rand(7) * 1000).alias("v"),  # incompressible: skew visible in bytes
        )
        right = spark.range(0, 50).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("w")
        )
        j = left.join(right, "k").select("k")
        assert len(j.collect()) == 400_000  # correctness unaffected by the split
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan
    finally:
        for k, v in saved.items():
            if v is not None:
                spark.conf.set(k, v)


def test_lsh_bucket_cap_skips_giant_bucket(spark):
    """r7 VERDICT task 3: a degenerate LSH bucket (quadratic in-row pair
    expansion) must be skipped above the cap — with the skip COUNTED
    (bucket_overflow frame) — while normal buckets are untouched."""
    from base_etl_spark.operators.llm_dedup import bucket_overflow, bucket_pairs

    rows = [(0, 1, i) for i in range(50)] + [(1, 2, 60), (1, 2, 61)]
    banded = spark.createDataFrame(rows, ["band", "bh", "id"])
    capped = {tuple(r) for r in bucket_pairs(banded, "id", "a", "b", cap=10).collect()}
    assert capped == {(60, 61)}  # giant bucket skipped, small bucket intact
    over = bucket_overflow(banded, "id", cap=10).collect()
    assert [(r.band, r.bh, r.n_ids) for r in over] == [(0, 1, 50)]
    # cap=None restores the uncapped semantics (property-test reference)
    assert bucket_pairs(banded, "id", "a", "b", cap=None).count() == 50 * 49 // 2 + 1


def test_minhash_giant_dup_class_pre_collapse(spark):
    """r7 VERDICT task 4: a planted giant exact-dup class must (a) not
    blow up the LSH stage — it collapses to ONE representative before
    signatures, so even a cap-sized class yields one banded doc — and
    (b) re-expand to exactly the oracle's pair set: all intra-class
    pairs at jaccard 1.0 plus cross-class pairs at the rep jaccard."""
    from base_etl_spark import queries

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " \
           "lam mu nu xi omicron pi rho sigma tau upsilon"
    near = base.rsplit(" ", 1)[0] + " omega"  # only 1 of 18 shingles differs: J = 17/19
    rows = (
        [(i, base) for i in range(1, 61)]        # giant class, 60 members
        + [(100, near)]                           # near-dup of the class
        + [(200, "hi there"), (201, "hi there")]  # short identical: no shingles
        + [(300, "completely different words about an unrelated subject entirely")]
    )
    docs = spark.createDataFrame(rows, ["doc_id", "text"])

    class _T:
        documents = docs

    qs = queries()
    got = {tuple(r) for r in qs["dedup_near_minhash"].tables_fn(_T()).collect()}
    exact = {tuple(r) for r in qs["dedup_near_jaccard"].tables_fn(_T()).collect()}
    assert got == exact
    intra = {(a, b, j) for (a, b, j) in got if b <= 60}
    assert len(intra) == 60 * 59 // 2 and all(j == 1.0 for _, _, j in intra)
    cross = got - intra
    assert len(cross) == 60 and {a for a, _, _ in cross} == set(range(1, 61))
    assert all(b == 100 and abs(j - round(17 / 19, 6)) < 1e-9 for _, b, j in cross)
