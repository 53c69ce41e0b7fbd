"""TPC-H-shape composites beyond Q1/Q3/Q5/Q6/Q7/Q10 (SURVEY §2.3/§2.4).

The fixture star schema (FIXTURES.md) has no partsupp table and no
commitdate/receiptdate/shipmode columns, so each classic query keeps its
*plan shape* — the thing that matters for engine coverage — with the
predicate adapted to the columns that exist. The adaptation is noted per
query. All doubles round to 2dp (ratios 4–6dp) on both sides; integer
sums in the oracles are CAST to BIGINT (DuckDB HUGEINT → float64 under
.df(), the round-1/2 hash-drift class).

Scale posture: every query here is dimension-broadcast + single fact
shuffle, or a two-level hash aggregate; EXISTS/NOT EXISTS compile to
left-semi/left-anti shuffle joins on the fact key, except Q21's pair on
the same fact, which folds into one per-order aggregate; the correlated
aggregates are decorrelated into explicit partial aggregates joined back
(what Catalyst's RewriteCorrelatedScalarSubquery emits for the SQL form).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from base_etl_spark.io import Tables
from base_etl_spark.registry import query


@query(
    "join_q2_min_supplier",
    oracle="""
    WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
         m AS (SELECT ps.l_partkey AS pk, min(s_acctbal) AS min_bal
               FROM ps JOIN supplier ON s_suppkey = ps.l_suppkey
               GROUP BY ps.l_partkey)
    SELECT p_partkey, p_name, s_suppkey, s_name, round(s_acctbal, 2) AS acctbal
    FROM part
    JOIN ps ON p_partkey = ps.l_partkey
    JOIN supplier ON s_suppkey = ps.l_suppkey
    JOIN m ON m.pk = p_partkey AND s_acctbal = m.min_bal
    WHERE p_size <= 10 AND p_type = 'ECONOMY'
    """,
)
def join_q2_min_supplier(t: Tables) -> DataFrame:
    """TPC-H Q2 shape (min-cost supplier per part): argmin over a
    correlated group, joined back by equality on the group minimum.

    Adaptation: no partsupp/ps_supplycost — the part↔supplier relation is
    the DISTINCT (l_partkey, l_suppkey) pairs from lineitem and the cost
    proxy is s_acctbal. The min is computed exactly (double min is
    order-insensitive), so the equality join-back is engine-stable.

    At 100 TB: the DISTINCT pair projection shuffles two int64 columns
    only; the per-part min is a partial/final hash agg on the same key so
    AQE coalesces the exchanges; part is filtered before its join
    (broadcast at this selectivity).
    """
    ps = t.lineitem.select("l_partkey", "l_suppkey").distinct()
    sup = t.supplier.select("s_suppkey", "s_name", "s_acctbal")
    pairs = ps.join(sup, ps.l_suppkey == sup.s_suppkey)
    m = pairs.groupBy(F.col("l_partkey").alias("pk")).agg(F.min("s_acctbal").alias("min_bal"))
    parts = t.part.filter((F.col("p_size") <= 10) & (F.col("p_type") == "ECONOMY")).select(
        "p_partkey", "p_name"
    )
    return (
        pairs.join(m, (pairs.l_partkey == m.pk) & (pairs.s_acctbal == m.min_bal))
        .join(F.broadcast(parts), pairs.l_partkey == parts.p_partkey)
        .select(
            "p_partkey", "p_name", "s_suppkey", "s_name", F.round("s_acctbal", 2).alias("acctbal")
        )
    )


@query(
    "join_q4_priority_exists",
    oracle="""
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1996-07-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
    GROUP BY o_orderpriority
    """,
)
def join_q4_priority_exists(t: Tables) -> DataFrame:
    """TPC-H Q4 shape: EXISTS-correlated semi-join + group count.

    Adaptation: the commitdate<receiptdate predicate becomes
    l_returnflag='R' (no receipt columns). The EXISTS is expressed as a
    left-semi join — at scale this shuffles only the filtered orderkeys
    of each side and never multiplies rows (semi, not inner+distinct).
    The lineitem side is merge-hinted: it scales with the fact, so the
    64 MB dim-broadcast threshold must not turn it into a broadcast
    build at mid scale (measured 3.1x slower at 30x sf0.1).
    """
    orders = t.orders.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    returned = (
        t.lineitem.filter(F.col("l_returnflag") == "R")
        .select("l_orderkey")
        .hint("merge")
    )
    return (
        orders.join(returned, orders.o_orderkey == returned.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@query(
    "join_q8_market_share",
    oracle="""
    SELECT year(o.o_orderdate) AS o_year,
           round(sum(CASE WHEN n2.n_name = 'NATION_7'
                          THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0 END)
                 / sum(l.l_extendedprice * (1 - l.l_discount)), 6) AS mkt_share
    FROM lineitem l
    JOIN orders o    ON l.l_orderkey = o.o_orderkey
    JOIN customer c  ON o.o_custkey = c.c_custkey
    JOIN nation n1   ON c.c_nationkey = n1.n_nationkey
    JOIN region r    ON n1.n_regionkey = r.r_regionkey
    JOIN supplier s  ON l.l_suppkey = s.s_suppkey
    JOIN nation n2   ON s.s_nationkey = n2.n_nationkey
    WHERE r.r_name = 'ASIA'
    GROUP BY year(o.o_orderdate)
    """,
)
def join_q8_market_share(t: Tables) -> DataFrame:
    """TPC-H Q8 shape (national market share): 7-way star join with the
    nation dimension joined TWICE under different roles (customer side
    filters the market, supplier side attributes the revenue), then a
    conditional-sum ratio per year.

    Adaptation: no p_type filter (keeps the result set per-year dense).

    At 100 TB: all dimension sides are broadcast (regions→nations→
    customers prunes the fact rows at the join, suppliers+nation2 carry
    the CASE attribute); lineitem is the only shuffled input and only for
    its join to orders — the ratio itself is one hash agg of ~7 groups.
    """
    n1 = t.nation.alias("n1")
    n2 = t.nation.alias("n2")
    cust_side = (
        t.customer.join(
            F.broadcast(n1), F.col("c_nationkey") == F.col("n1.n_nationkey")
        )
        .join(F.broadcast(t.region), F.col("n1.n_regionkey") == F.col("r_regionkey"))
        .filter(F.col("r_name") == "ASIA")
        .select("c_custkey")
    )
    supp_side = t.supplier.join(
        F.broadcast(n2), F.col("s_nationkey") == F.col("n2.n_nationkey")
    ).select("s_suppkey", F.col("n2.n_name").alias("supp_nation"))
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        t.lineitem.join(t.orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust_side), F.col("o_custkey") == F.col("c_custkey"), "left_semi")
        .join(F.broadcast(supp_side), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                F.sum(F.when(F.col("supp_nation") == "NATION_7", rev).otherwise(0.0))
                / F.sum(rev),
                6,
            ).alias("mkt_share")
        )
    )


@query(
    "join_q9_profit",
    oracle="""
    SELECT n_name AS nation, year(o_orderdate) AS o_year,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS profit
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN part     ON l_partkey = p_partkey
    WHERE p_name LIKE '%red%'
    GROUP BY n_name, year(o_orderdate)
    """,
)
def join_q9_profit(t: Tables) -> DataFrame:
    """TPC-H Q9 shape (product-type profit by nation and year): fact +
    4 dimensions, substring part filter, 2-key rollup.

    Adaptation: profit omits ps_supplycost (no partsupp) — the revenue
    expression keeps the same join tree.

    At 100 TB: the filtered part side prunes the fact first (broadcast),
    supplier+nation broadcast; one shuffle for the orders join (merge-
    hinted — orders scales with the fact, and the 64 MB dim threshold
    otherwise broadcasts its 2-col projection at mid scale: measured
    2.8x slower at 30x sf0.1), one hash agg of nation×year ≈ 175 groups.
    """
    parts = t.part.filter(F.col("p_name").contains("red")).select("p_partkey")
    supp = t.supplier.join(
        F.broadcast(t.nation), F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey", "n_name")
    return (
        t.lineitem.join(F.broadcast(parts), F.col("l_partkey") == F.col("p_partkey"), "left_semi")
        .join(
            t.orders.select("o_orderkey", "o_orderdate").hint("merge"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("profit")
        )
    )


@query(
    "agg_q12_priority_class",
    oracle="""
    SELECT l_linestatus,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_count
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l_linestatus
    """,
)
def agg_q12_priority_class(t: Tables) -> DataFrame:
    """TPC-H Q12 shape: join + dual conditional counts per group.

    Adaptation: l_shipmode doesn't exist — the group key is l_linestatus
    and the date window is on l_shipdate. The oracle CASTs its integer
    sums to BIGINT (DuckDB HUGEINT→float64 drift class). The orders side
    is merge-hinted: it scales with the fact, and the 64 MB
    dim-broadcast threshold otherwise broadcasts its 2-col projection at
    mid scale (measured 4.9x slower at 100x sf0.1).
    """
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        t.lineitem.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .join(
            t.orders.select("o_orderkey", "o_orderpriority").hint("merge"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("long").alias("high_count"),
            F.sum(F.when(high, 0).otherwise(1)).cast("long").alias("low_count"),
        )
    )


@query(
    "agg_q14_promo_ratio",
    oracle="""
    SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
                                  THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
                 / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_revenue_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-03-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
    """,
)
def agg_q14_promo_ratio(t: Tables) -> DataFrame:
    """TPC-H Q14 (promotion effect): broadcast dimension join + global
    conditional-sum ratio — a single-row answer whose plan is scan →
    broadcast hash join → one-group partial/final agg."""
    promo = F.col("p_type") == "PROMO"
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        t.lineitem.filter(
            (F.col("l_shipdate") >= F.lit("1997-03-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
        )
        .join(F.broadcast(t.part.select("p_partkey", "p_type")), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.round(
                100.0 * F.sum(F.when(promo, rev).otherwise(0.0)) / F.sum(rev), 4
            ).alias("promo_revenue_pct")
        )
    )


@query(
    "join_q15_top_supplier",
    oracle="""
    WITH rev AS (
        SELECT l_suppkey, sum(l_extendedprice * (1 - l_discount)) AS total_rev
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
        GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, round(total_rev, 2) AS total_rev
    FROM supplier JOIN rev ON s_suppkey = l_suppkey
    WHERE round(total_rev, 2) = (SELECT max(round(total_rev, 2)) FROM rev)
    """,
)
def join_q15_top_supplier(t: Tables) -> DataFrame:
    """TPC-H Q15 (top supplier): aggregate reused twice — once as the
    join input, once reduced to its max for the filter. The repo's
    round-then-compare rule applies INSIDE the engine too: the two
    branches re-execute the same double sum, and Spark does not promise
    identical partial-merge order across recomputations, so the equality
    is taken on round(total_rev, 2) rather than the raw double. Suppliers
    tying at cent precision all surface (same rule both engines).

    At 100 TB: rev is one hash agg over the date-pruned fact; the scalar
    max is a one-row broadcast; supplier joins broadcast. Nothing
    shuffles twice.
    """
    rev = (
        t.lineitem.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
        )
        .groupBy("l_suppkey")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("total_rev")
        )
    )
    top = rev.agg(F.max("total_rev").alias("max_rev"))
    return (
        rev.join(F.broadcast(top), rev.total_rev == top.max_rev)
        .join(F.broadcast(t.supplier.select("s_suppkey", "s_name")), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_rev")
    )


@query(
    "agg_q16_part_variety",
    oracle="""
    SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_brand <> 'Brand#3' AND p_type <> 'PROMO'
      AND p_size IN (1, 5, 9, 13, 17, 21, 25, 29)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
    """,
)
def agg_q16_part_variety(t: Tables) -> DataFrame:
    """TPC-H Q16 shape (supplier variety per part class): negated
    dimension predicates, a NOT-IN exclusion subquery (anti join), and a
    3-key COUNT DISTINCT.

    Adaptation: the part↔supplier relation comes from lineitem (no
    partsupp); the excluded-supplier predicate is s_acctbal < 0 (no
    comment column). The NOT IN is safe as a left-anti join because
    s_suppkey is a non-null PK (FIXTURES.md).
    """
    parts = t.part.filter(
        (F.col("p_brand") != "Brand#3")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 5, 9, 13, 17, 21, 25, 29)
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    bad_supp = t.supplier.filter(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        t.lineitem.select("l_partkey", "l_suppkey")
        .join(F.broadcast(bad_supp), F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
        .join(F.broadcast(parts), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@query(
    "join_q17_small_qty",
    oracle="""
    SELECT round(sum(l.l_extendedprice) / 7.0, 2) AS avg_yearly
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_brand = 'Brand#5'
      AND l.l_quantity < (SELECT 0.5 * avg(l2.l_quantity)
                          FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)
    """,
)
def join_q17_small_qty(t: Tables) -> DataFrame:
    """TPC-H Q17 (small-quantity-order revenue): correlated per-part
    average, decorrelated explicitly into a partial aggregate joined back
    — the exact rewrite Catalyst performs on the SQL form.

    Correctness note: p_brand is functionally dependent on l_partkey, so
    computing the per-part average AFTER the brand semi-filter equals the
    full correlated average over those parts, at a fraction of the scan.
    """
    brand_parts = t.part.filter(F.col("p_brand") == "Brand#5").select("p_partkey")
    li = t.lineitem.join(
        F.broadcast(brand_parts), F.col("l_partkey") == F.col("p_partkey"), "left_semi"
    ).select("l_partkey", "l_quantity", "l_extendedprice")
    avg_qty = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        (0.5 * F.avg("l_quantity")).alias("half_avg")
    )
    return (
        li.join(avg_qty, (li.l_partkey == avg_qty.pk) & (li.l_quantity < avg_qty.half_avg))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"))
    )


@query(
    "join_q18_large_orders",
    oracle="""
    SELECT c_name, c_custkey, o_orderkey, o_orderdate,
           round(o_totalprice, 2) AS total_price,
           round(sum_qty, 2) AS sum_qty
    FROM (SELECT l_orderkey, sum(l_quantity) AS sum_qty
          FROM lineitem GROUP BY l_orderkey
          HAVING sum(l_quantity) > 250.0) big
    JOIN orders   ON o_orderkey = big.l_orderkey
    JOIN customer ON c_custkey = o_custkey
    """,
)
def join_q18_large_orders(t: Tables) -> DataFrame:
    """TPC-H Q18 (large-volume customers): HAVING over a fact aggregate,
    then enrichment joins. The aggregate's qualifying set SCALES WITH
    ORDERS (a fixed fraction of orderkeys clears the threshold), so the
    orders join is merge-hinted — broadcasting the aggregate is only
    cheap while it fits, and at 30x sf0.1 the shuffle plan already
    measures 2.6x faster; customer stays an explicit broadcast dim.
    The real shuffles are the orderkey hash agg + the merge join."""
    big = (
        t.lineitem.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("_sq"))
        .filter(F.col("_sq") > 250.0)
        .hint("merge")
    )
    return (
        big.join(t.orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(
            F.broadcast(t.customer.select("c_custkey", "c_name")),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            F.round("o_totalprice", 2).alias("total_price"),
            F.round("_sq", 2).alias("sum_qty"),
        )
    )


@query(
    "filter_q19_disjunctive",
    oracle="""
    SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 20 AND 30)
    """,
)
def filter_q19_disjunctive(t: Tables) -> DataFrame:
    """TPC-H Q19 (disjunctive predicates): OR-of-ANDs spanning both join
    sides. Catalyst extracts the cross-side common ranges — l_quantity
    BETWEEN 1 AND 30 pushes to the lineitem scan, the brand/size
    disjunction to the part scan — before evaluating the residual OR at
    the join, so the fact read is pruned even though no single conjunct
    applies globally."""
    p, l = F.col, F.col
    cond = (
        ((p("p_brand") == "Brand#12") & p("p_size").between(1, 5) & l("l_quantity").between(1, 11))
        | ((p("p_brand") == "Brand#23") & p("p_size").between(1, 10) & l("l_quantity").between(10, 20))
        | ((p("p_brand") == "Brand#34") & p("p_size").between(1, 15) & l("l_quantity").between(20, 30))
    )
    return (
        t.lineitem.join(
            F.broadcast(t.part.select("p_partkey", "p_brand", "p_size")),
            F.col("p_partkey") == F.col("l_partkey"),
        )
        .filter(cond)
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
    )


@query(
    "join_q20_excess_share",
    oracle="""
    WITH per AS (SELECT l_partkey, l_suppkey, sum(l_quantity) AS q
                 FROM lineitem GROUP BY l_partkey, l_suppkey),
         tot AS (SELECT l_partkey AS pk, sum(l_quantity) AS tq
                 FROM lineitem GROUP BY l_partkey)
    SELECT DISTINCT s_suppkey, s_name
    FROM per
    JOIN tot ON per.l_partkey = tot.pk
    JOIN part ON p_partkey = per.l_partkey
    JOIN supplier ON s_suppkey = per.l_suppkey
    WHERE p_name LIKE 'red%' AND per.q > 0.15 * tot.tq
    """,
)
def join_q20_excess_share(t: Tables) -> DataFrame:
    """TPC-H Q20 shape (suppliers holding excess share): nested
    aggregates at two grains of the same fact — per (part, supplier)
    quantity vs 0.15× the per-part total — then a DISTINCT supplier
    projection.

    At 100 TB: both aggregates share the l_partkey shuffle key, so the
    second (coarser) grain is a re-aggregation of the first without a new
    exchange; part and supplier broadcast.
    """
    per = t.lineitem.groupBy("l_partkey", "l_suppkey").agg(F.sum("l_quantity").alias("q"))
    tot = per.groupBy(F.col("l_partkey").alias("pk")).agg(F.sum("q").alias("tq"))
    red_parts = t.part.filter(F.col("p_name").startswith("red")).select("p_partkey")
    return (
        per.join(tot, per.l_partkey == tot.pk)
        .filter(F.col("q") > 0.15 * F.col("tq"))
        .join(F.broadcast(red_parts), F.col("l_partkey") == F.col("p_partkey"), "left_semi")
        .join(
            F.broadcast(t.supplier.select("s_suppkey", "s_name")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .select("s_suppkey", "s_name")
        .distinct()
    )


@query(
    "join_q21_waiting",
    oracle="""
    SELECT s_name, count(*) AS numwait
    FROM supplier s
    JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
    JOIN orders o ON o.o_orderkey = l1.l_orderkey
    WHERE o.o_orderstatus = 'F' AND l1.l_returnflag = 'R'
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_returnflag = 'R')
    GROUP BY s_name
    """,
)
def join_q21_waiting(t: Tables) -> DataFrame:
    """TPC-H Q21 shape (suppliers who kept orders waiting): the classic
    EXISTS + NOT EXISTS double correlation on the same fact. Adaptation:
    'late' is l_returnflag='R' (no receipt/commit dates).

    Both correlations reduce to one per-order aggregate over a single
    lineitem scan, combined map-side before its one shuffle. For a late
    line with supplier s, EXISTS (same order, other supplier) holds iff
    the order's suppliers are not all s: min(l_suppkey) < max(l_suppkey).
    NOT EXISTS (same order, other supplier, late) holds iff the order's
    late suppliers are exactly {s}: their min equals their max. A
    qualifying order therefore has one late supplier, late_lo, and
    contributes its n_late late lines. NULLs drop out as they do under
    the oracle's <> predicates: min, max and count skip a NULL
    l_suppkey, a NULL l_returnflag is not late, and a NULL l_orderkey
    matches no order. The orders side stays merge-pinned: the 64 MB
    dimension broadcast threshold would otherwise build a fact-sized
    broadcast hash table at mid scale (measured 5.8x slower than the
    shuffle plan at 30x sf0.1). Supplier broadcasts.
    """
    supp = F.col("l_suppkey")
    late_supp = F.when(F.col("l_returnflag") == "R", supp)
    census = (
        t.lineitem.groupBy("l_orderkey")
        .agg(
            F.min(supp).alias("s_lo"),
            F.max(supp).alias("s_hi"),
            F.min(late_supp).alias("late_lo"),
            F.max(late_supp).alias("late_hi"),
            F.count(late_supp).alias("n_late"),
        )
        .filter((F.col("s_lo") < F.col("s_hi")) & (F.col("late_lo") == F.col("late_hi")))
    )
    f_orders = (
        t.orders.filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey")
        .hint("merge")
    )
    return (
        census.join(f_orders, F.col("l_orderkey") == F.col("o_orderkey"), "left_semi")
        .join(
            F.broadcast(t.supplier.select("s_suppkey", "s_name")),
            F.col("late_lo") == F.col("s_suppkey"),
        )
        .groupBy("s_name")
        .agg(F.sum("n_late").alias("numwait"))
    )


@query(
    "join_q22_idle_customers",
    oracle="""
    SELECT n_name AS nation, count(*) AS numcust,
           round(sum(c_acctbal), 2) AS totacctbal
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderdate >= TIMESTAMP '2001-01-01 00:00:00')
    GROUP BY n_name
    """,
)
def join_q22_idle_customers(t: Tables) -> DataFrame:
    """TPC-H Q22 shape (idle wealthy customers): uncorrelated scalar
    subquery (global positive-balance average) + NOT EXISTS anti join +
    group.

    Adaptation: every fixture customer has orders, so 'no orders at all'
    is empty — the anti predicate is 'no orders since 2001-01-01' (615
    customers at sf0.01), which keeps the anti-join shape non-trivial.

    At 100 TB: the scalar average is a one-row broadcast; the anti join
    shuffles only (custkey) pairs; nation broadcasts.
    """
    avg_bal = t.customer.filter(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    recent = t.orders.filter(
        F.col("o_orderdate") >= F.lit("2001-01-01").cast("timestamp")
    ).select("o_custkey")
    return (
        t.customer.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .join(F.broadcast(t.nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
    )


@query(
    "agg_q6_forecast",
    oracle="""
    SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      AND l_discount BETWEEN 0.03 AND 0.05
      AND l_quantity < 24.0
    """,
)
def agg_q6_forecast(t: Tables) -> DataFrame:
    """TPC-H Q6 (forecasting revenue change): the canonical
    scan-dominated scalar aggregate — three range predicates, no join,
    one group. Every predicate pushes to the parquet reader, so at
    100 TB this query is bounded purely by pruned-scan throughput; it is
    the query that rewards column pruning + min/max row-group skipping
    the most."""
    return (
        t.lineitem.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.03, 0.05)
            & (F.col("l_quantity") < 24.0)
        )
        .agg(F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"))
    )


@query(
    "join_q11_important_parts",
    oracle="""
    WITH pv AS (
        SELECT l_partkey,
               sum(l_extendedprice * l_quantity) AS part_value
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation   ON s_nationkey = n_nationkey
        WHERE n_name = 'NATION_7'
        GROUP BY l_partkey
    )
    SELECT l_partkey, round(part_value, 2) AS part_value
    FROM pv
    WHERE part_value > (SELECT 2.0 * avg(part_value) FROM pv)
    """,
)
def join_q11_important_parts(t: Tables) -> DataFrame:
    """TPC-H Q11 shape (important stock): per-part value within one
    nation's suppliers, kept only where it exceeds a multiple of the
    national AVERAGE part value — the group-vs-global scalar pattern.
    (Q11's literal 0.0001/SF fraction is scale-dependent by design; the
    2x-average form binds identically at every SF, same plan.)

    Adaptation (documented): the fixture set carries no partsupp table,
    so part value is traded value sum(extendedprice × quantity) from
    lineitem — identical plan skeleton (dim-filtered fact agg reused
    twice, once grouped, once collapsed to a scalar).

    The threshold compares RAW doubles but the two sides are DIFFERENT
    magnitudes (one part vs 2× the national average), so only a part
    sitting within float-ulp of exactly twice the average could flip —
    unlike q15's same-sum-vs-same-sum equality this is a strict
    inequality on well-separated values; output still rounds at the
    edge only.

    At 100 TB: nation→supplier broadcasts into the fact scan, ONE
    l_partkey hash agg, the total is a 1-row broadcast — the grouped
    agg is never recomputed for the scalar (same cached lineage both
    branches in DuckDB's CTE; Spark recomputes but both branches are
    the same deterministic plan)."""
    nat = F.broadcast(
        t.supplier.join(
            F.broadcast(t.nation.filter(F.col("n_name") == "NATION_7")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        ).select("s_suppkey")
    )
    pv = (
        t.lineitem.join(nat, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(
            F.sum(F.col("l_extendedprice") * F.col("l_quantity")).alias("part_value")
        )
    )
    total = pv.agg((2.0 * F.avg("part_value")).alias("threshold"))
    return (
        pv.join(F.broadcast(total), F.col("part_value") > F.col("threshold"))
        .select("l_partkey", F.round("part_value", 2).alias("part_value"))
    )


@query(
    "agg_q13_cust_distribution",
    oracle="""
    WITH per_cust AS (
        SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
        FROM customer
        LEFT JOIN orders ON c_custkey = o_custkey
                        AND o_orderpriority <> '1-URGENT'
        GROUP BY c_custkey
    )
    SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
    FROM per_cust
    GROUP BY c_count
    """,
)
def agg_q13_cust_distribution(t: Tables) -> DataFrame:
    """TPC-H Q13 (customer distribution): histogram of customers by how
    many qualifying orders they placed — the LEFT join + count(col) +
    re-aggregation shape whose whole point is that ZERO-order customers
    must survive into the c_count=0 bucket (an inner join silently
    erases the most interesting bar of the histogram). count(o_orderkey)
    — not count(*) — is what maps an unmatched customer to 0.

    Adaptation (documented): the fixture orders table has no o_comment,
    so Q13's NOT LIKE '%special%requests%' exclusion becomes the
    equivalent-cardinality predicate o_orderpriority <> '1-URGENT',
    pushed into the JOIN CONDITION (not a WHERE — a post-join filter
    would turn the outer join inner).

    At 100 TB: one o_custkey shuffle for the join + per-customer count
    (co-partitioned), then the histogram agg runs on the tiny c_count
    domain (tens of values). The orders side is merge-hinted — it scales
    with the fact, and the 64 MB dim threshold otherwise broadcasts its
    pruned projection at mid scale (measured 2.5x slower at 30x
    sf0.1)."""
    per_cust = (
        t.customer.join(
            t.orders.filter(F.col("o_orderpriority") != "1-URGENT").hint("merge"),
            F.col("c_custkey") == F.col("o_custkey"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").cast("long").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).cast("long").alias("custdist")
    )
