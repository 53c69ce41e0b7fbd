"""Join family (SURVEY §2.3).

Strategy notes (100 TB posture):
- dims (region/nation/supplier/customer/part) get explicit broadcast()
  hints where they appear against the fact table — no shuffle of the big
  side, plan-asserted in tests.
- fact-fact joins (orders x lineitem) are left to Catalyst: sort-merge
  with AQE skew splitting. Both sides shuffle on the join key once; a
  production deployment would bucket both tables by orderkey to eliminate
  it entirely (see sinks.write_bucketed).
- the as-of join is the standard union+last(ignorenulls) window
  composition — Spark has no native as-of; this form is a single shuffle
  by (user_id) + one ordered window pass, which scales linearly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from base_etl_spark.io import Tables
from base_etl_spark.registry import query


@query(
    "join_inner_bcast",
    oracle="""
    SELECT p_brand,
           count(*)                     AS n_items,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY p_brand
    """,
)
def join_inner_bcast(t: Tables) -> DataFrame:
    """Fact->dim equi join with an explicit broadcast hint: the 20k-row
    part table ships to every executor; lineitem never shuffles."""
    return (
        t.lineitem.join(F.broadcast(t.part), t.lineitem.l_partkey == t.part.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
        )
    )


@query(
    "join_shuffle",
    oracle="""
    SELECT o_orderpriority,
           count(*)                    AS n_lines,
           round(sum(l_extendedprice), 2) AS sum_price
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY o_orderpriority
    """,
)
def join_shuffle(t: Tables) -> DataFrame:
    """Large-large equi join, pinned to sort-merge; skew handled by
    adaptive skew-join split. The pin exists because this key's whole
    contract is the fact-fact SHUFFLE plan — and without it the 64 MB
    dim-broadcast threshold quietly broadcast the pruned orders
    projection at mid scale (measured 2.3x slower than the shuffle plan
    at 30x sf0.1 in an interleaved same-session A/B)."""
    return (
        t.orders.hint("merge")
        .join(t.lineitem, t.orders.o_orderkey == t.lineitem.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        )
    )


@query(
    "join_left_outer",
    oracle="""
    SELECT c_custkey,
           count(o_orderkey)                       AS n_orders,
           round(coalesce(sum(o_totalprice), 0), 2) AS total_spent
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey
    """,
)
def join_left_outer(t: Tables) -> DataFrame:
    """Left outer keeps order-less customers; count(col) skips NULLs."""
    return (
        t.customer.join(t.orders, t.customer.c_custkey == t.orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 2).alias("total_spent"),
        )
    )


@query(
    "join_full_outer",
    oracle="""
    WITH f AS (SELECT o_custkey, round(sum(o_totalprice), 2) AS f_total
               FROM orders WHERE o_orderstatus = 'F' GROUP BY o_custkey),
         o AS (SELECT o_custkey, round(sum(o_totalprice), 2) AS o_total
               FROM orders WHERE o_orderstatus = 'O' GROUP BY o_custkey)
    SELECT coalesce(f.o_custkey, o.o_custkey) AS custkey, f_total, o_total
    FROM f FULL JOIN o ON f.o_custkey = o.o_custkey
    """,
)
def join_full_outer(t: Tables) -> DataFrame:
    """Full outer of two disjoint-filtered aggregates; NULL sides survive.
    The two branches derive from the same scan (self-join): keys are
    renamed per-branch to keep the join condition unambiguous."""
    f = (
        t.orders.filter(F.col("o_orderstatus") == "F")
        .groupBy(F.col("o_custkey").alias("f_custkey"))
        .agg(F.round(F.sum("o_totalprice"), 2).alias("f_total"))
    )
    o = (
        t.orders.filter(F.col("o_orderstatus") == "O")
        .groupBy(F.col("o_custkey").alias("oo_custkey"))
        .agg(F.round(F.sum("o_totalprice"), 2).alias("o_total"))
    )
    return f.join(o, f.f_custkey == o.oo_custkey, "full_outer").select(
        F.coalesce("f_custkey", "oo_custkey").alias("custkey"), "f_total", "o_total"
    )


@query(
    "join_semi",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
    """,
)
def join_semi(t: Tables) -> DataFrame:
    """Left-semi: customers with >=1 urgent order; never duplicates the
    left side, and the right side is reduced before the join."""
    urgent = t.orders.filter(F.col("o_orderpriority") == "1-URGENT")
    return t.customer.join(
        urgent, t.customer.c_custkey == urgent.o_custkey, "left_semi"
    ).select("c_custkey", "c_name")


@query(
    "join_anti",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)
def join_anti(t: Tables) -> DataFrame:
    """Left-anti: customers with no orders at all."""
    return t.customer.join(
        t.orders, t.customer.c_custkey == t.orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


@query(
    "join_cross",
    oracle="""
    SELECT r_name, n_name, (n_regionkey = r_regionkey) AS is_home
    FROM region CROSS JOIN nation
    """,
)
def join_cross(t: Tables) -> DataFrame:
    """Explicit cartesian (5 x 25). Only ever sane when one side is tiny —
    Spark plans BroadcastNestedLoopJoin here."""
    return t.region.crossJoin(t.nation).select(
        "r_name", "n_name", (F.col("n_regionkey") == F.col("r_regionkey")).alias("is_home")
    )


@query(
    "join_theta_range",
    oracle="""
    SELECT l_returnflag,
           count(*)                      AS n_lines,
           round(sum(l_extendedprice), 2) AS sum_price
    FROM lineitem JOIN orders
      ON l_orderkey = o_orderkey
     AND l_shipdate >= o_orderdate
     AND l_shipdate <= o_orderdate + INTERVAL 30 DAY
    GROUP BY l_returnflag
    """,
)
def join_theta_range(t: Tables) -> DataFrame:
    """Equi key + range predicate: Catalyst plans the equi part as the
    join key and evaluates the range as a post-join filter — still one
    shuffle, no cartesian blowup. The orders side is merge-hinted: both
    sides scale with the fact, and the 64 MB dim-broadcast threshold
    otherwise builds a fact-sized broadcast at mid scale (measured 2.7x
    slower at 100x sf0.1, tools/scale_stress.py A/B)."""
    li, o = t.lineitem, t.orders.hint("merge")
    cond = (
        (li.l_orderkey == o.o_orderkey)
        & (li.l_shipdate >= o.o_orderdate)
        & (li.l_shipdate <= F.expr("o_orderdate + INTERVAL 30 DAYS"))
    )
    return (
        li.join(o, cond)
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        )
    )


@query(
    "join_asof",
    oracle="""
    WITH ev AS (
        SELECT user_id, ts, event_id,
               CASE WHEN event_type = 'click'    THEN event_id END AS click_id,
               CASE WHEN event_type = 'purchase' THEN event_id END AS probe_id,
               CASE WHEN event_type = 'click' THEN 0 ELSE 1 END    AS kind
        FROM events WHERE event_type IN ('click', 'purchase')
    ),
    w AS (
        SELECT probe_id, user_id, ts,
               last_value(click_id IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY ts, kind, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS matched_click
        FROM ev
    )
    SELECT probe_id, user_id, ts AS probe_ts, matched_click
    FROM w WHERE probe_id IS NOT NULL
    """,
)
def join_asof(t: Tables) -> DataFrame:
    """As-of join: for each purchase, the latest click at or before it
    (per user). Spark has no native ASOF JOIN; the idiomatic composition
    is union-then-carry-forward: one shuffle by user_id, one ordered
    window pass — O(n log n) per partition, no range-join blowup, and the
    same plan works under Structured Streaming with applyInPandasWithState.

    Tie policy (pinned on both sides): clicks sort before purchases at
    equal ts (kind 0<1), so a same-instant click matches; among clicks at
    the same ts the highest event_id wins.
    """
    ev = t.events.filter(F.col("event_type").isin("click", "purchase")).select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("event_type") == "click", F.col("event_id")).alias("click_id"),
        F.when(F.col("event_type") == "purchase", F.col("event_id")).alias("probe_id"),
        F.when(F.col("event_type") == "click", F.lit(0)).otherwise(F.lit(1)).alias("kind"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "kind", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        ev.withColumn("matched_click", F.last("click_id", ignorenulls=True).over(w))
        .filter(F.col("probe_id").isNotNull())
        .select("probe_id", "user_id", F.col("ts").alias("probe_ts"), "matched_click")
    )


@query(
    "join_star_q5",
    oracle="""
    SELECT n_name,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n_name
    """,
)
def join_star_q5(t: Tables) -> DataFrame:
    """TPC-H Q5 shape: 6-way star join. All four dimension sides carry
    broadcast hints, so lineitem (the 100 TB side) is joined with zero
    additional shuffles beyond the orders co-shuffle; region/nation prune
    suppliers before they reach the fact."""
    dims_nation = F.broadcast(
        t.nation.join(F.broadcast(t.region), F.col("n_regionkey") == F.col("r_regionkey"))
        .filter(F.col("r_name") == "ASIA")
        .select("n_nationkey", "n_name")
    )
    supp = F.broadcast(
        t.supplier.join(dims_nation, F.col("s_nationkey") == F.col("n_nationkey")).select(
            "s_suppkey", "s_nationkey", "n_name"
        )
    )
    orders = t.orders.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    cust = F.broadcast(t.customer.select("c_custkey", "c_nationkey"))
    return (
        t.lineitem.join(orders, t.lineitem.l_orderkey == orders.o_orderkey)
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(cust, (F.col("o_custkey") == F.col("c_custkey")) & (F.col("c_nationkey") == F.col("s_nationkey")))
        .groupBy("n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
    )


_US_1H = 3600 * 1_000_000


@query(
    "join_range_bucketized",
    oracle="""
    SELECT p.event_id AS probe_id,
           count(c.event_id)                       AS n_clicks,
           round(coalesce(sum(c.value), 0.0), 2)   AS click_value
    FROM events p
    LEFT JOIN events c
      ON c.user_id = p.user_id
     AND c.event_type = 'click'
     AND c.ts >= p.ts - INTERVAL 1 HOUR
     AND c.ts <= p.ts
    WHERE p.event_type = 'purchase'
    GROUP BY p.event_id
    """,
)
def join_range_bucketized(t: Tables) -> DataFrame:
    """Range join via time bucketing: clicks within 1 hour before each
    purchase, per user.

    A naive range join on (user, ts-range) degenerates to per-user
    cartesian work; bucketing the time axis to the range width turns it
    into an EQUI join on (user, hour-bucket) — each probe checks exactly
    two buckets, so the shuffle is hash-partitioned and skew-safe, and
    cost is O(matches), not O(pairs). The same rewrite is the standard
    100 TB plan for any bounded-range temporal join (the as-of trick's
    sibling; DuckDB's IEJoin oracle checks the semantics exactly)."""
    ev = t.events
    bucket = (F.unix_micros(F.col("ts")) / F.lit(_US_1H)).cast("long")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("probe_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        F.explode(F.array(bucket - 1, bucket)).alias("bucket"),
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
        F.col("value").alias("c_value"),
        F.col("event_id").alias("c_id"),
        bucket.alias("c_bucket"),
    )
    matched = (
        p.join(c, (F.col("p_user") == F.col("c_user")) & (F.col("bucket") == F.col("c_bucket")))
        .filter(
            (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
            & (F.col("c_ts") <= F.col("p_ts"))
        )
        .groupBy("probe_id")
        .agg(F.count("c_id").alias("n_clicks"), F.sum("c_value").alias("_sum"))
    )
    probes = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("probe_id")
    )
    return probes.join(matched, "probe_id", "left").select(
        "probe_id",
        F.coalesce("n_clicks", F.lit(0)).alias("n_clicks"),
        F.round(F.coalesce("_sum", F.lit(0.0)), 2).alias("click_value"),
    )


@query(
    "join_skew_salted",
    oracle="""
    SELECT s_nationkey,
           count(*)                       AS n_lines,
           round(sum(l_quantity), 2)      AS total_qty
    FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
    GROUP BY s_nationkey
    """,
)
def join_skew_salted(t: Tables) -> DataFrame:
    """Salted fact->dim join (skew.salted_join) proven equal to the plain
    join: the oracle is the UNSALTED SQL, so the driver hash certifies the
    salt never leaks into the answer — the same contract agg_salted pins
    for salted aggregation.

    The mechanism: the fact side gets a random salt in [0, 16); the dim
    side is exploded 16x with every salt value and broadcast; the join key
    becomes (suppkey, salt), so a hot supplier's rows spread over 16 tasks
    instead of one. This is the fallback for hot keys AQE's skew split
    cannot fix (e.g. one key >> one partition AFTER splitting, or
    broadcast-hash joins where AQE skew handling does not apply). Cost:
    dim replication x16 (still broadcast-sized) — the big side still
    never shuffles."""
    from base_etl_spark.skew import salted_join

    fact = t.lineitem.select(
        F.col("l_suppkey").alias("s_suppkey"), "l_quantity"
    )
    dim = t.supplier.select("s_suppkey", "s_nationkey")
    return (
        salted_join(fact, dim, "s_suppkey")
        .groupBy("s_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(F.sum("l_quantity"), 2).alias("total_qty"),
        )
    )


_ASOF_TOL_US = 3_600_000_000  # 1 hour


@query(
    "join_asof_tolerance",
    oracle=f"""
    WITH ev AS (
        SELECT user_id, ts, event_id,
               CASE WHEN event_type = 'click'    THEN event_id END AS click_id,
               CASE WHEN event_type = 'click'    THEN ts       END AS click_ts,
               CASE WHEN event_type = 'purchase' THEN event_id END AS probe_id,
               CASE WHEN event_type = 'click' THEN 0 ELSE 1 END    AS kind
        FROM events WHERE event_type IN ('click', 'purchase')
    ),
    w AS (
        SELECT probe_id, user_id, ts,
               last_value(click_id IGNORE NULLS) OVER win AS m_click,
               last_value(click_ts IGNORE NULLS) OVER win AS m_ts
        FROM ev
        WINDOW win AS (PARTITION BY user_id ORDER BY ts, kind, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT probe_id, user_id, ts AS probe_ts,
           CASE WHEN epoch_us(ts) - epoch_us(m_ts) <= {_ASOF_TOL_US}
                THEN m_click END AS matched_click,
           CASE WHEN epoch_us(ts) - epoch_us(m_ts) <= {_ASOF_TOL_US}
                THEN epoch_us(ts) - epoch_us(m_ts) END AS gap_us
    FROM w WHERE probe_id IS NOT NULL
    """,
)
def join_asof_tolerance(t: Tables) -> DataFrame:
    """As-of join with a staleness bound: the latest click at or before
    each purchase counts only if it is at most 1 hour old, else NULL —
    the variant every sensor/feature-store lookup needs (a stale feature
    is worse than no feature). Same single-shuffle carry-forward plan as
    join_asof, carrying the matched event's timestamp alongside its id;
    the tolerance is a post-window projection, so the bound costs
    nothing. Gap arithmetic in exact integer microseconds (second-level
    date_diff truncation differs between engines)."""
    ev = t.events.filter(F.col("event_type").isin("click", "purchase")).select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("event_type") == "click", F.col("event_id")).alias("click_id"),
        F.when(F.col("event_type") == "click", F.col("ts")).alias("click_ts"),
        F.when(F.col("event_type") == "purchase", F.col("event_id")).alias("probe_id"),
        F.when(F.col("event_type") == "click", F.lit(0)).otherwise(F.lit(1)).alias("kind"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "kind", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    gap = F.unix_micros("ts") - F.unix_micros(F.col("m_ts"))
    within = gap <= _ASOF_TOL_US
    return (
        ev.withColumn("m_click", F.last("click_id", ignorenulls=True).over(w))
        .withColumn("m_ts", F.last("click_ts", ignorenulls=True).over(w))
        .filter(F.col("probe_id").isNotNull())
        .select(
            "probe_id",
            "user_id",
            F.col("ts").alias("probe_ts"),
            F.when(within, F.col("m_click")).alias("matched_click"),
            F.when(within, gap).alias("gap_us"),
        )
    )


@query(
    "join_q10_returns",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal, n_name,
           sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100.0 + 0.5) AS BIGINT)) / 100.0 AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def join_q10_returns(t: Tables) -> DataFrame:
    """TPC-H Q10 shape: top-20 customers by revenue lost to returned
    items in one quarter. The fact side carries both filters
    (order-date quarter, returnflag) into the scans BEFORE the
    l_orderkey co-shuffle; customer+nation is a broadcast dim, so the
    only shuffle of fact-sized data is the orders<->lineitem join; the
    final rank is TakeOrderedAndProject (top-20 never materializes a
    global sort). Tie-break on c_custkey makes the limit boundary
    engine-deterministic. Revenue aggregates exact integer cents
    (per-row floor(x*100+0.5) on bit-identical doubles, exact bigint
    sum, one division) — plain round(sum(..)) split a .xx5 boundary
    here because the engines' addition order differs in the last
    ulps."""
    orders = t.orders.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    li = t.lineitem.filter(F.col("l_returnflag") == "R").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    cust = F.broadcast(
        t.customer.join(
            F.broadcast(t.nation.select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        ).select("c_custkey", "c_name", "c_acctbal", "n_name")
    )
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            (
                F.sum(
                    F.floor(
                        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100.0
                        + F.lit(0.5)
                    )
                )
                / F.lit(100.0)
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


@query(
    "join_q7_volume",
    oracle="""
    SELECT s_nat AS supp_nation, c_nat AS cust_nation, l_year,
           sum(volume_cents) / 100.0 AS revenue
    FROM (
      SELECT n1.n_name AS s_nat, n2.n_name AS c_nat,
             CAST(year(l_shipdate) AS BIGINT) AS l_year,
             CAST(floor(l_extendedprice * (1 - l_discount) * 100.0 + 0.5) AS BIGINT) AS volume_cents
      FROM supplier
      JOIN lineitem ON s_suppkey = l_suppkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE ((n1.n_name = 'NATION_18' AND n2.n_name = 'NATION_19')
          OR (n1.n_name = 'NATION_19' AND n2.n_name = 'NATION_18'))
        AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    ) shipping
    GROUP BY s_nat, c_nat, l_year
    """,
)
def join_q7_volume(t: Tables) -> DataFrame:
    """TPC-H Q7 shape: shipped revenue between a nation pair, by
    direction and ship year. Both nation legs resolve through broadcast
    dims (supplier+nation, customer+nation pre-filtered to the pair
    BEFORE broadcasting — the 100 TB fact rows for other nations die at
    the join, and the shipdate filter is pushed to the scan); the only
    fact-sized shuffle is orders<->lineitem on l_orderkey, merge-hinted
    so the 64 MB dim-broadcast threshold cannot turn the orders
    projection into a broadcast build at mid scale (measured 2.8x
    slower at 30x sf0.1). Year cast to long on both sides (Spark year()
    is INT, DuckDB's is BIGINT)."""
    pair = ("NATION_18", "NATION_19")
    supp = F.broadcast(
        t.supplier.join(
            F.broadcast(t.nation.filter(F.col("n_name").isin(*pair))),
            F.col("s_nationkey") == F.col("n_nationkey"),
        ).select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cust = F.broadcast(
        t.customer.join(
            F.broadcast(t.nation.filter(F.col("n_name").isin(*pair))),
            F.col("c_nationkey") == F.col("n_nationkey"),
        ).select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    li = t.lineitem.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    ).select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount", "l_shipdate")
    return (
        li.join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            t.orders.select("o_orderkey", "o_custkey").hint("merge"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").cast("long").alias("l_year"))
        .agg(
            (
                F.sum(
                    F.floor(
                        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100.0
                        + F.lit(0.5)
                    )
                )
                / F.lit(100.0)
            ).alias("revenue")
        )
    )


@query(
    "join_null_safe",
    oracle="""
    WITH o AS (SELECT o_orderkey,
                      CASE WHEN o_custkey % 97 = 0 THEN NULL
                           ELSE o_custkey END AS k
               FROM orders),
         c AS (SELECT CASE WHEN c_custkey % 97 = 0 THEN NULL
                           ELSE c_custkey END AS k,
                      c_mktsegment
               FROM customer)
    SELECT o.k IS NULL AS key_is_null,
           count(*) AS n_matches,
           count(DISTINCT o_orderkey) AS n_orders
    FROM o JOIN c ON o.k IS NOT DISTINCT FROM c.k
    GROUP BY o.k IS NULL
    """,
)
def join_null_safe(t: Tables) -> DataFrame:
    """Null-safe equi join (`<=>` / IS NOT DISTINCT FROM): NULL keys
    match each other instead of silently dropping — the semantics CDC
    merges and dedup-on-nullable-key pipelines need (a plain equi join
    makes NULL-keyed rows vanish without an error).

    Keys are deterministically nullified on both sides (every 97th id);
    the null-class rows multiply (every null left row matches every null
    right row), which the grouped counts make visible. Spark still plans
    this as a hash join — `<=>` is an equi comparator, NOT a theta join —
    so at scale it shuffles exactly like `=` (NULLs all hash to one
    partition: if the null fraction is material, route NULL keys to a
    separate union leg; noted here, negligible at 1/97)."""
    o = t.orders.select(
        "o_orderkey",
        F.when(F.col("o_custkey") % 97 == 0, F.lit(None)).otherwise(F.col("o_custkey")).alias("k"),
    )
    c = t.customer.select(
        F.when(F.col("c_custkey") % 97 == 0, F.lit(None)).otherwise(F.col("c_custkey")).alias("ck"),
        "c_mktsegment",
    )
    return (
        o.join(c, o.k.eqNullSafe(c.ck))
        .groupBy(F.col("k").isNull().alias("key_is_null"))
        .agg(
            F.count(F.lit(1)).alias("n_matches"),
            F.countDistinct("o_orderkey").alias("n_orders"),
        )
    )


@query(
    "join_lateral_topn",
    oracle="""
    SELECT c.c_custkey, t.o_orderkey, t.price
    FROM customer c,
         LATERAL (SELECT o_orderkey, round(o_totalprice, 2) AS price
                  FROM orders
                  WHERE o_custkey = c.c_custkey
                  ORDER BY o_totalprice DESC, o_orderkey
                  LIMIT 2) t
    WHERE c.c_mktsegment = 'MACHINERY'
    """,
)
def join_lateral_topn(t: Tables) -> DataFrame:
    """LATERAL correlated subquery (top-2 orders per machinery customer)
    through the SQL entry point: the per-row-subquery SQL surface, which
    Catalyst decorrelates into a window/join plan instead of executing a
    subquery per customer — same answer as the win_topk_per_group
    formulation, expressed the way SQL users migrating from engines with
    LATERAL/CROSS APPLY write it. Tie-break on the PK makes the LIMIT
    deterministic."""
    return t.spark.sql(
        """
        SELECT c.c_custkey, t.o_orderkey, t.price
        FROM customer c,
             LATERAL (SELECT o_orderkey, round(o_totalprice, 2) AS price
                      FROM orders
                      WHERE o_custkey = c.c_custkey
                      ORDER BY o_totalprice DESC, o_orderkey
                      LIMIT 2) t
        WHERE c.c_mktsegment = 'MACHINERY'
        """
    )


@query(
    "join_shuffle_hash_hint",
    oracle="""
    SELECT n_name, count(*) AS n_suppliers, round(sum(s_acctbal), 2) AS total_bal
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def join_shuffle_hash_hint(t: Tables) -> DataFrame:
    """Physical-strategy control via join hint: SHUFFLE_HASH forces a
    shuffled hash join (plan-asserted) where the planner would otherwise
    broadcast or sort-merge. The when-to-use story: hash join beats
    sort-merge when one side is much smaller than the other but too big
    to broadcast — it skips both sort phases at the cost of building a
    hash map per partition; hints are the escape hatch when statistics
    mislead the cost model (post-filter cardinality, UDF-derived keys).
    The RESULT is hint-independent — the oracle is the plain join."""
    return (
        t.supplier.hint("shuffle_hash")
        .join(t.nation.hint("shuffle_hash"), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.round(F.sum("s_acctbal"), 2).alias("total_bal"),
        )
    )


@query(
    "join_disjunctive_keys",
    oracle="""
    SELECT e.event_id, e.user_id, c.c_custkey, round(c.c_acctbal, 2) AS acctbal
    FROM events e JOIN customer c
      ON e.user_id = c.c_custkey OR e.user_id = c.c_nationkey
    """,
)
def join_disjunctive_keys(t: Tables) -> DataFrame:
    """OR-of-keys join (match on either of two columns): the naive form
    compiles to a nested-loop product — every row against every row —
    because a hash join needs ONE equi key. The scalable rewrite is a
    UNION of two equi joins with the second leg anti-filtered by the
    first predicate to preserve OR (not UNION-dedup) semantics exactly:
    each leg hash-joins on its own key, and a row matching both
    conditions appears once, as the OR produces it. The oracle runs the
    naive OR form (DuckDB's optimizer handles small scale); the Spark
    side IS the rewrite — same multiset, scale-safe plan (no nested loop,
    plan-asserted)."""
    e = t.events.select("event_id", "user_id")
    c = t.customer.select("c_custkey", "c_nationkey", F.round("c_acctbal", 2).alias("acctbal"))
    leg1 = e.join(c, e.user_id == c.c_custkey)
    leg2 = e.join(c, (e.user_id == c.c_nationkey) & (e.user_id != c.c_custkey))
    return leg1.unionByName(leg2).select("event_id", "user_id", "c_custkey", "acctbal")


@query(
    "join_interval_overlap",
    oracle="""
    WITH sess AS (
        SELECT user_id, min(ts) AS s_start,
               max(ts) + INTERVAL 5 MINUTES AS s_end
        FROM events GROUP BY user_id, date_trunc('day', ts)
    ),
    maint AS (
        SELECT d AS m_start, d + INTERVAL 4 HOURS AS m_end,
               row_number() OVER (ORDER BY d) AS window_id
        FROM (SELECT DISTINCT date_trunc('day', ts) + INTERVAL 11 HOURS AS d
              FROM events WHERE dayofweek(ts) = 0)
    )
    SELECT s.user_id, m.window_id,
           CAST(count(*) AS BIGINT) AS n_overlapping_sessions
    FROM sess s JOIN maint m
      ON s.s_start < m.m_end AND m.m_start < s.s_end
    GROUP BY s.user_id, m.window_id
    """,
)
def join_interval_overlap(t: Tables) -> DataFrame:
    """Interval-overlap join (sessions × maintenance windows: the
    'which activity was affected by which outage' query). The naive
    overlap predicate (a.start < b.end AND b.start < a.end) has no equi
    key and nested-loops at scale; shipped as the BUCKETIZED form: both
    interval sets explode to the hour buckets they cover, equi-join on
    bucket, then DISTINCT pairs + exact overlap re-check. Work is
    O(intervals × buckets-per-interval) with an equi shuffle — the
    standard time-grid decomposition (join_range_bucketized's pattern
    lifted from scalars to intervals). Bucket width tunes the explode
    factor vs bucket selectivity; 1 h matches the window durations here.
    The oracle runs the naive predicate (fine at fixture scale); Spark
    runs the bucketized plan, no nested loop (plan-asserted)."""
    day = F.date_trunc("day", F.col("ts"))
    sess = t.events.groupBy("user_id", day.alias("d")).agg(
        F.min("ts").alias("s_start"),
        (F.max("ts") + F.expr("INTERVAL 5 MINUTES")).alias("s_end"),
    )
    # Spark dayofweek: 1=Sunday; DuckDB dayofweek: 0=Sunday (oracle uses 0)
    maint = (
        t.events.filter(F.dayofweek("ts") == 1)
        .select((day + F.expr("INTERVAL 11 HOURS")).alias("m_start"))
        .distinct()
        .withColumn("m_end", F.col("m_start") + F.expr("INTERVAL 4 HOURS"))
        .withColumn(
            "window_id",
            F.row_number().over(Window.orderBy("m_start")),  # ≤ #sundays rows
        )
    )
    hour_us = 3600 * 1_000_000

    def buckets(lo, hi):
        return F.sequence(
            F.floor(F.unix_micros(lo) / hour_us).cast("long"),
            F.floor((F.unix_micros(hi) - 1) / hour_us).cast("long"),
        )

    sb = sess.select(
        "user_id", "s_start", "s_end", F.explode(buckets(F.col("s_start"), F.col("s_end"))).alias("bk")
    )
    mb = maint.select(
        "window_id", "m_start", "m_end", F.explode(buckets(F.col("m_start"), F.col("m_end"))).alias("bk")
    )
    pairs = (
        sb.join(F.broadcast(mb), "bk")
        .filter((F.col("s_start") < F.col("m_end")) & (F.col("m_start") < F.col("s_end")))
        .select("user_id", "window_id", "s_start", "s_end")
        .distinct()
    )
    return pairs.groupBy("user_id", "window_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_overlapping_sessions")
    )


@query(
    "join_asof_forward",
    oracle="""
    WITH ev AS (
        SELECT user_id, ts, event_id,
               CASE WHEN event_type = 'click'    THEN event_id END AS click_id,
               CASE WHEN event_type = 'purchase' THEN event_id END AS probe_id,
               CASE WHEN event_type = 'click' THEN 1 ELSE 0 END    AS kind
        FROM events WHERE event_type IN ('click', 'purchase')
    ),
    w AS (
        SELECT probe_id, user_id, ts,
               first_value(click_id IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY ts, kind, event_id
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
               ) AS next_click_id
        FROM ev
    )
    SELECT probe_id AS purchase_id, user_id, next_click_id
    FROM w WHERE probe_id IS NOT NULL
    """,
)
def join_asof_forward(t: Tables) -> DataFrame:
    """FORWARD as-of join: for each purchase, the EARLIEST click at or
    after it (per user) — the response-time direction (what did the user
    do next), mirror of join_asof's lookup direction (what state held
    then). Same union-then-carry plan, with the window frame flipped to
    CURRENT ROW .. UNBOUNDED FOLLOWING and first_value(IGNORE NULLS).

    Tie policy (pinned both sides): purchases sort BEFORE clicks at
    equal ts (kind 0<1 — a same-instant click counts as the response);
    among same-ts clicks the LOWEST event_id wins (first_value under
    event_id order). NULL next_click_id = no later click, kept (left
    semantics)."""
    ev = t.events.filter(F.col("event_type").isin("click", "purchase")).select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("event_type") == "click", F.col("event_id")).alias("click_id"),
        F.when(F.col("event_type") == "purchase", F.col("event_id")).alias("probe_id"),
        F.when(F.col("event_type") == "click", 1).otherwise(0).alias("kind"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "kind", "event_id")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    return (
        ev.withColumn(
            "next_click_id", F.first("click_id", ignorenulls=True).over(w)
        )
        .filter(F.col("probe_id").isNotNull())
        .select(F.col("probe_id").alias("purchase_id"), "user_id", "next_click_id")
    )


@query(
    "join_geo_radius",
    oracle="""
    WITH c AS (
        SELECT c_custkey,
               (c_custkey * 37 % 1200) / 10.0 - 60.0  AS lat,
               (c_custkey * 73 % 3600) / 10.0 - 180.0 AS lon
        FROM customer WHERE c_custkey % 10 = 0
    ),
    s AS (
        SELECT s_suppkey,
               (s_suppkey * 41 % 1200) / 10.0 - 60.0  AS lat,
               (s_suppkey * 79 % 3600) / 10.0 - 180.0 AS lon
        FROM supplier
    )
    SELECT c_custkey, s_suppkey,
           round(2 * 6371.0 * asin(sqrt(
               pow(sin(radians(s.lat - c.lat) / 2), 2)
               + cos(radians(c.lat)) * cos(radians(s.lat))
                 * pow(sin(radians(s.lon - c.lon) / 2), 2)
           )), 4) AS dist_km
    FROM c JOIN s
      ON abs(c.lat - s.lat) <= 2.0
    WHERE round(2 * 6371.0 * asin(sqrt(
               pow(sin(radians(s.lat - c.lat) / 2), 2)
               + cos(radians(c.lat)) * cos(radians(s.lat))
                 * pow(sin(radians(s.lon - c.lon) / 2), 2)
           )), 4) <= 200.0
    """,
)
def join_geo_radius(t: Tables) -> DataFrame:
    """Spatial radius join (customers within 200 km of a supplier) —
    the geo analog of join_interval_overlap's grid decomposition. The
    naive haversine predicate has no equi key and nested-loops at
    scale; shipped as the GRID-BUCKETED form: both point sets explode
    to the 2°-latitude bands they could match in (a 200 km radius spans
    < 2° of latitude ALWAYS — latitude degrees are great-circle, so the
    band bound is exact regardless of longitude), equi-join on band,
    then the exact haversine re-check. Longitude is deliberately NOT
    bucketed here: a fixed lon-band is unsound near the poles without
    cos(lat) widening — documented as the production refinement
    (geohash / S2 cells), which changes pruning, never membership.

    Coordinates are hash-derived from the keys (fixtures carry no geo
    columns) with a 0.1° lattice — deterministic and identical in both
    engines. Membership uses the 4dp-ROUNDED distance on both sides
    (round-then-compare; raw trig ulps differ across libm
    implementations). Customer side thinned 10× so the fixture result
    stays audit-sized.

    At 100 TB: work is O(points × bands-per-point) with ONE equi
    shuffle; each side explodes to ≤ 3 bands (its own + both
    neighbors)."""
    def coords(df, key, a, b):
        return df.select(
            F.col(key),
            ((F.col(key) * a % 1200) / 10.0 - 60.0).alias("lat"),
            ((F.col(key) * b % 3600) / 10.0 - 180.0).alias("lon"),
        )

    cust = coords(
        t.customer.filter(F.col("c_custkey") % 10 == 0), "c_custkey", 37, 73
    )
    supp = coords(t.supplier, "s_suppkey", 41, 79)
    # 2° bands; each point also lands in both neighbor bands so any pair
    # with |Δlat| <= 2° shares at least one band (then re-checked exact)
    band = lambda lat: F.explode(  # noqa: E731
        F.array(
            F.floor(lat / 2.0).cast("long") - 1,
            F.floor(lat / 2.0).cast("long"),
            F.floor(lat / 2.0).cast("long") + 1,
        )
    )
    cb = cust.withColumn("band", band(F.col("lat")))
    sb = supp.withColumn("band", band(F.col("lat")))
    rad = lambda x: F.radians(x)  # noqa: E731
    dlat, dlon = rad(F.col("s_lat") - F.col("lat")), rad(F.col("s_lon") - F.col("lon"))
    hav = (
        F.pow(F.sin(dlat / 2), 2)
        + F.cos(rad(F.col("lat"))) * F.cos(rad(F.col("s_lat"))) * F.pow(F.sin(dlon / 2), 2)
    )
    dist = F.round(2 * 6371.0 * F.asin(F.sqrt(hav)), 4)
    return (
        cb.join(
            sb.select(
                "band",
                "s_suppkey",
                F.col("lat").alias("s_lat"),
                F.col("lon").alias("s_lon"),
            ),
            "band",
        )
        .filter(F.abs(F.col("lat") - F.col("s_lat")) <= 2.0)
        .select("c_custkey", "s_suppkey", dist.alias("dist_km"))
        .filter(F.col("dist_km") <= 200.0)
        .distinct()  # a pair can share up to 3 bands
    )


@query(
    "join_fuzzy_blocked",
    oracle="""
    WITH dirty AS (  -- deterministically mangled twin (see docstring)
        SELECT s_suppkey AS key,
               CASE WHEN s_suppkey % 3 = 0 THEN s_name || 'x'
                    WHEN s_suppkey % 3 = 1
                    THEN substr(s_name, 1, len(s_name) - 1) || 'z'
                    ELSE s_name || substr(s_name, len(s_name), 1) END AS name,
               1 AS is_dirty
        FROM supplier
    ),
    uni AS (
        SELECT s_suppkey AS key, s_name AS name, 0 AS is_dirty FROM supplier
        UNION ALL SELECT key, name, is_dirty FROM dirty
    ),
    ranked AS (
        SELECT key, name, is_dirty,
               row_number() OVER (ORDER BY name, is_dirty, key) AS rk
        FROM uni
    )
    SELECT a.key                                   AS clean_key,
           b.key                                   AS dirty_key,
           CAST(levenshtein(a.name, b.name) AS BIGINT) AS edit_dist
    FROM ranked a JOIN ranked b
      ON a.is_dirty = 0 AND b.is_dirty = 1
     AND abs(a.rk - b.rk) <= 24
    WHERE levenshtein(a.name, b.name) <= 2
    """,
)
def join_fuzzy_blocked(t: Tables) -> DataFrame:
    """Entity-resolution fuzzy join via SORTED NEIGHBORHOOD (SNM): match
    a clean name table against a dirty twin (typos punched
    deterministically: trailing junk, last-char substitution, doubled
    final char — one class per key mod 3) WITHOUT all-pairs
    levenshtein AND without key-based blocking — which degenerates to
    one giant block on serial-numbered names like this fixture's
    `Supplier#00000NNN` (a shared 4-char prefix puts every row in one
    block; measured before this redesign). SNM instead sorts the union
    by name and compares only rows within w=24 sorted neighbors: the
    work is O(n·w) BY CONSTRUCTION, independent of how skewed the key
    distribution is.

    Recall is the declared tradeoff: a typo that teleports a name far
    across the sort order (first-character damage) escapes the window —
    production runs a second pass sorted on the reversed name, each
    pass this same plan. The oracle applies the identical window, so
    the contract is exact.

    Scale shape: the global rank is TWO-PHASE, never a global sort
    window — repartitionByRange gives range-ordered partitions, ranks
    are local row_numbers plus broadcast per-partition offsets (the
    pack_sequences prefix-sum discipline keyed by name; result
    invariant to partition boundaries), and the neighbor comparison is
    a band-bucket equi join (rank div w, own+neighbor bands — the geo
    band pattern on rank space) with the exact |Δrank| and edit-
    distance re-checks inside blocks."""
    w = 24
    last = F.expr("substring(s_name, length(s_name), 1)")
    dirty = t.supplier.select(
        F.col("s_suppkey").alias("key"),
        F.when(F.col("s_suppkey") % 3 == 0, F.concat(F.col("s_name"), F.lit("x")))
        .when(
            F.col("s_suppkey") % 3 == 1,
            F.concat(F.expr("substring(s_name, 1, length(s_name) - 1)"), F.lit("z")),
        )
        .otherwise(F.concat(F.col("s_name"), last))
        .alias("name"),
        F.lit(1).alias("is_dirty"),
    )
    clean = t.supplier.select(
        F.col("s_suppkey").alias("key"),
        F.col("s_name").alias("name"),
        F.lit(0).alias("is_dirty"),
    )
    uni = clean.unionByName(dirty)
    nb = t.spark.sparkContext.defaultParallelism
    by_range = uni.repartitionByRange(nb, "name", "is_dirty", "key").withColumn(
        "pid", F.spark_partition_id()
    )
    local_w = Window.partitionBy("pid").orderBy("name", "is_dirty", "key")
    local = by_range.withColumn("lrn", F.row_number().over(local_w))
    off_w = Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        by_range.groupBy("pid")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "pid", F.coalesce(F.sum("n").over(off_w), F.lit(0)).alias("off")
        )  # <= parallelism rows: the bounded single-partition leg
    )
    ranked = local.join(F.broadcast(offsets), "pid").select(
        "key", "name", "is_dirty", (F.col("off") + F.col("lrn")).alias("rk")
    )
    band = (F.col("rk") / w).cast("long")
    a = (
        ranked.filter(F.col("is_dirty") == 0)
        .select(
            F.col("key").alias("clean_key"),
            F.col("name").alias("a_name"),
            F.col("rk").alias("a_rk"),
            F.explode(F.array(band - 1, band, band + 1)).alias("band"),
        )
    )
    b = ranked.filter(F.col("is_dirty") == 1).select(
        F.col("key").alias("dirty_key"),
        F.col("name").alias("b_name"),
        F.col("rk").alias("b_rk"),
        band.alias("band"),
    )
    return (
        a.join(b, "band")
        .filter(F.abs(F.col("a_rk") - F.col("b_rk")) <= w)
        .select(
            "clean_key",
            "dirty_key",
            F.levenshtein("a_name", "b_name").cast("long").alias("edit_dist"),
        )
        .filter(F.col("edit_dist") <= 2)
        .distinct()
    )


@query(
    "join_bloom_prefilter",
    oracle="""
    SELECT l_returnflag,
           count(*)                         AS n_lines,
           round(sum(l_extendedprice), 2)   AS sum_price
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderpriority = '1-URGENT'
      AND o_orderdate >= TIMESTAMP '1995-01-01'
      AND o_orderdate <  TIMESTAMP '1996-01-01'
    GROUP BY l_returnflag
    """,
)
def join_bloom_prefilter(t: Tables) -> DataFrame:
    """Semi-join reduction by hashed-bucket broadcast — the manual,
    plan-portable analog of Spark's InjectRuntimeFilter: the selective
    side's join keys are projected to xxhash64(key) mod 2^20 bucket ids
    and DISTINCT'd (≤ 8 MB broadcast NO MATTER how many keys the
    selective side holds — the compression a raw key-set broadcast
    lacks), the fact side is pruned by a broadcast LEFT SEMI on its own
    bucket id BEFORE its shuffle, and the exact merge join afterwards
    removes the hash-collision false positives — so the result is
    provably identical to the plain join, which is exactly what the
    oracle runs.

    Why manual when Spark can inject this: the built-in rule only fires
    on shuffle joins AND gates the creation side on the PLAN SIZE
    ESTIMATE, which without CBO column stats is the unfiltered scan
    size, so a selective-but-big creation side (the 100 TB fact-fact
    case this key models) silently loses the filter. Measured on this
    shape at x30 with broadcast disabled and the gates forced open
    (SURVEY.md, "Runtime bloom filter, measured"): plain shuffle join
    1.386 s, bloom-injected 1.104 s, broadcast reference 0.800 s. The
    composition pins the semantics in the plan itself:
    one bounded broadcast (bucket table), one fact scan pruned at
    ~selectivity + FP rate, one merge join (fact-derived sides pinned
    per the mid-scale broadcast trap, SURVEY §2.16). Plan-asserted:
    BroadcastHashJoin LeftSemi feeding a SortMergeJoin."""
    m = 1 << 20
    sel = t.orders.filter(
        (F.col("o_orderpriority") == "1-URGENT")
        & (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp"))
    )
    buckets = sel.select(
        F.pmod(F.xxhash64("o_orderkey"), F.lit(m)).alias("bk")
    ).distinct()
    pruned = t.lineitem.join(
        F.broadcast(buckets),
        F.pmod(F.xxhash64("l_orderkey"), F.lit(m)) == F.col("bk"),
        "left_semi",
    )
    return (
        pruned.hint("merge")
        .join(sel, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        )
    )


@query(
    "join_asof_nearest",
    oracle="""
    WITH ev AS (
        SELECT user_id, ts, event_id,
               CASE WHEN event_type = 'click'    THEN event_id END AS click_id,
               CASE WHEN event_type = 'click'    THEN ts       END AS click_ts,
               CASE WHEN event_type = 'purchase' THEN event_id END AS probe_id,
               CASE WHEN event_type = 'click' THEN 0 ELSE 1 END    AS kind
        FROM events WHERE event_type IN ('click', 'purchase')
    ),
    w AS (
        SELECT probe_id, user_id, ts,
               last_value(click_id IGNORE NULLS)  OVER back AS b_click,
               last_value(click_ts IGNORE NULLS)  OVER back AS b_ts,
               first_value(click_id IGNORE NULLS) OVER fwd  AS f_click,
               first_value(click_ts IGNORE NULLS) OVER fwd  AS f_ts
        FROM ev
        WINDOW back AS (PARTITION BY user_id ORDER BY ts, kind, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               fwd  AS (PARTITION BY user_id ORDER BY ts, kind, event_id
                        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    ),
    g AS (
        SELECT probe_id AS purchase_id, user_id, ts AS probe_ts,
               b_click, f_click,
               epoch_us(ts) - epoch_us(b_ts) AS gap_back,
               epoch_us(f_ts) - epoch_us(ts) AS gap_fwd
        FROM w WHERE probe_id IS NOT NULL
    )
    SELECT purchase_id, user_id, probe_ts,
           CASE WHEN gap_back IS NULL AND gap_fwd IS NULL THEN NULL
                WHEN gap_fwd IS NULL OR (gap_back IS NOT NULL
                                         AND gap_back <= gap_fwd)
                THEN b_click ELSE f_click END AS matched_click,
           CASE WHEN gap_back IS NULL AND gap_fwd IS NULL THEN NULL
                WHEN gap_fwd IS NULL OR (gap_back IS NOT NULL
                                         AND gap_back <= gap_fwd)
                THEN 'back' ELSE 'fwd' END AS direction,
           CASE WHEN gap_back IS NULL AND gap_fwd IS NULL THEN NULL
                WHEN gap_fwd IS NULL OR (gap_back IS NOT NULL
                                         AND gap_back <= gap_fwd)
                THEN gap_back ELSE gap_fwd END AS gap_us
    FROM g
    """,
)
def join_asof_nearest(t: Tables) -> DataFrame:
    """NEAREST as-of join, completing the triad (backward join_asof,
    forward join_asof_forward, bounded join_asof_tolerance): for each
    purchase, the click closest in time per user, in EITHER direction —
    the sensor-alignment semantics (pandas merge_asof
    direction='nearest').

    Still ONE shuffle and ONE sort: both directions ride the same
    (user_id)-partitioned (ts, kind, event_id) ordering — backward as
    last(IGNORE NULLS) over the preceding frame, forward as first(...)
    over the following frame — then the winner is a projection over the
    two integer-microsecond gaps. No second window pass, no self-join.

    Tie policy (pinned both sides): clicks sort BEFORE purchases at
    equal ts, so a same-instant click is a backward match at gap 0;
    equal gaps prefer the backward (causal) side; same-ts click ties
    resolve to highest event_id backward, lowest forward. Purchases
    with no click at all keep a NULL match (left semantics)."""
    ev = t.events.filter(F.col("event_type").isin("click", "purchase")).select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("event_type") == "click", F.col("event_id")).alias("click_id"),
        F.when(F.col("event_type") == "click", F.col("ts")).alias("click_ts"),
        F.when(F.col("event_type") == "purchase", F.col("event_id")).alias("probe_id"),
        F.when(F.col("event_type") == "click", F.lit(0)).otherwise(F.lit(1)).alias("kind"),
    )
    order = [F.col("ts"), F.col("kind"), F.col("event_id")]
    back = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    fwd = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    gap_back = F.unix_micros("ts") - F.unix_micros(F.col("b_ts"))
    gap_fwd = F.unix_micros(F.col("f_ts")) - F.unix_micros("ts")
    take_back = F.col("gap_fwd").isNull() | (
        F.col("gap_back").isNotNull() & (F.col("gap_back") <= F.col("gap_fwd"))
    )
    none = F.col("gap_back").isNull() & F.col("gap_fwd").isNull()
    pick = lambda b, f: F.when(none, F.lit(None)).when(take_back, b).otherwise(f)  # noqa: E731
    return (
        ev.withColumn("b_click", F.last("click_id", ignorenulls=True).over(back))
        .withColumn("b_ts", F.last("click_ts", ignorenulls=True).over(back))
        .withColumn("f_click", F.first("click_id", ignorenulls=True).over(fwd))
        .withColumn("f_ts", F.first("click_ts", ignorenulls=True).over(fwd))
        .filter(F.col("probe_id").isNotNull())
        .withColumn("gap_back", gap_back)
        .withColumn("gap_fwd", gap_fwd)
        .select(
            F.col("probe_id").alias("purchase_id"),
            "user_id",
            F.col("ts").alias("probe_ts"),
            pick(F.col("b_click"), F.col("f_click")).alias("matched_click"),
            pick(F.lit("back"), F.lit("fwd")).alias("direction"),
            pick(F.col("gap_back"), F.col("gap_fwd")).alias("gap_us"),
        )
    )


@query(
    "join_merge_hint",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(DISTINCT o.o_orderkey) AS BIGINT) AS n_orders,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY o_orderpriority
    """,
)
def join_merge_hint(t: Tables) -> DataFrame:
    """Sort-merge join pinned by hint — the deliberate-plan-choice
    surface completing the hint family (broadcast = join_inner_bcast,
    shuffle_hash = join_shuffle_hash_hint, merge = this): when BOTH
    sides are fact-sized (orders x lineitem here), sort-merge is the
    spill-safe choice — hash tables must fit a partition in memory,
    sorted runs spill gracefully — and at 100 TB an operator pins it
    when AQE's estimates are untrustworthy (fresh tables without
    stats). Plan-asserted in tests: SortMergeJoin, no broadcast of
    either fact.

    The aggregate dedups the order side with count(DISTINCT) because
    the join fans orders out by line count — the classic fact-to-fact
    grain trap, made explicit here."""
    return (
        t.orders.hint("merge")
        .join(t.lineitem, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
            F.countDistinct("o_orderkey").cast("long").alias("n_orders"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
        )
    )
