"""Statistical / behavioral analytics operators (SURVEY §2.4/§2.9
extensions): moment statistics, bool/bit aggregates, calendar gap-fill,
Markov transitions, RFM scoring, and mergeable HLL sketch rollups.

Scale posture: every key is hash-agg or broadcast-join shaped; the only
window function here (transition lag) is partitioned by user_id —
never a bare global Window. The HLL key demonstrates the algebraic
sketch-merge pattern that makes 100 TB distinct-count rollups a
re-aggregation instead of a rescan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from base_etl_spark.io import Tables, local_frame
from base_etl_spark.registry import query


@query(
    "agg_stats_moments",
    oracle="""
    WITH m AS (
        SELECT l_returnflag,
               avg(l_quantity) AS mu, stddev_pop(l_quantity) AS sd,
               round(corr(l_quantity, l_extendedprice), 6)       AS corr_qty_price,
               round(covar_samp(l_quantity, l_extendedprice), 2) AS covar_qty_price,
               round(stddev_samp(l_quantity), 6)                 AS sd_qty,
               count(*) AS n_rows
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT m.l_returnflag, corr_qty_price, covar_qty_price, sd_qty, n_rows,
           round(avg(pow((l_quantity - mu) / sd, 3)), 6)     AS skew_qty,
           round(avg(pow((l_quantity - mu) / sd, 4)) - 3, 6) AS kurt_qty
    FROM lineitem l JOIN m ON l.l_returnflag = m.l_returnflag
    GROUP BY m.l_returnflag, corr_qty_price, covar_qty_price, sd_qty, n_rows
    """,
)
def agg_stats_moments(t: Tables) -> DataFrame:
    """Statistical moment aggregates per group: Pearson correlation,
    sample covariance/stddev, and population skewness / excess kurtosis.

    Spark's built-in skewness()/kurtosis() use different estimator
    conventions than other engines, so the 3rd/4th moments are computed
    from first principles as a TWO-PASS plan: per-group mean/stddev
    first, then an average of normalized centered powers. Normalizing
    inside the avg keeps every term O(1), avoiding the catastrophic
    cancellation a raw-moment (E[x^4]-style) one-pass formula hits on
    large-magnitude columns. The second pass re-shuffles on the same
    group key, so AQE reuses the exchange; at 100 TB this is two scans —
    the price of numerically stable exact moments.
    """
    first = t.lineitem.groupBy("l_returnflag").agg(
        F.avg("l_quantity").alias("mu"),
        F.stddev_pop("l_quantity").alias("sd"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qty_price"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 2).alias("covar_qty_price"),
        F.round(F.stddev_samp("l_quantity"), 6).alias("sd_qty"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    z = (F.col("l_quantity") - F.col("mu")) / F.col("sd")
    return (
        t.lineitem.join(F.broadcast(first), "l_returnflag")
        .groupBy("l_returnflag", "corr_qty_price", "covar_qty_price", "sd_qty", "n_rows")
        .agg(
            F.round(F.avg(F.pow(z, 3)), 6).alias("skew_qty"),
            F.round(F.avg(F.pow(z, 4)) - 3, 6).alias("kurt_qty"),
        )
    )


@query(
    "agg_bool_bit",
    oracle="""
    SELECT event_type,
           bool_and(value > 0.05) AS all_above_floor,
           bool_or(value > 480)   AS any_near_cap,
           bit_and(user_id) AS uid_bit_and,
           bit_or(user_id)  AS uid_bit_or,
           bit_xor(user_id) AS uid_bit_xor
    FROM events
    GROUP BY event_type
    """,
)
def agg_bool_bit(t: Tables) -> DataFrame:
    """Boolean and bitwise aggregate surface: bool_and/bool_or (SQL
    EVERY/ANY) and bit_and/bit_or/bit_xor. All five are single-pass
    commutative aggregates with constant per-group state — map-side
    partials make them free at any scale."""
    return t.events.groupBy("event_type").agg(
        F.bool_and(F.col("value") > 0.05).alias("all_above_floor"),
        F.bool_or(F.col("value") > 480).alias("any_near_cap"),
        F.bit_and("user_id").alias("uid_bit_and"),
        F.bit_or("user_id").alias("uid_bit_or"),
        F.bit_xor("user_id").alias("uid_bit_xor"),
    )


@query(
    "events_gapfill",
    oracle="""
    WITH b AS (SELECT date_trunc('hour', min(ts)) AS lo,
                      date_trunc('hour', max(ts)) AS hi FROM events),
         hours AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour
                   FROM b),
         types AS (SELECT DISTINCT event_type FROM events),
         agg AS (SELECT date_trunc('hour', ts) AS hour, event_type,
                        round(sum(value), 2) AS revenue, count(*) AS n_events
                 FROM events GROUP BY 1, 2)
    SELECT h.hour, t.event_type,
           coalesce(a.revenue, 0.0) AS revenue,
           CAST(coalesce(a.n_events, 0) AS BIGINT) AS n_events
    FROM hours h
    CROSS JOIN types t
    LEFT JOIN agg a ON a.hour = h.hour AND a.event_type = t.event_type
    """,
)
def events_gapfill(t: Tables) -> DataFrame:
    """Calendar densification (gap fill): build the complete hour ×
    event_type grid with sequence()+explode and left-join the hourly
    aggregate, so silent hours surface as explicit zero rows — the shape
    every downstream time-series model / dashboard needs.

    At 100 TB: the grid derives from a ONE-ROW min/max aggregate, never
    from the fact table's row count — hours×types is tiny (720×5 here).
    Spark cannot build on the PRESERVED side of an outer join (LeftOuter
    plans BuildRight only; RightOuter BuildLeft only), so broadcasting
    the grid itself is impossible while also preserving it. The legal —
    and equally bounded — broadcast side is the HOURLY AGGREGATE: after
    the (hour, event_type) groupBy its cardinality is ≤ the grid's by
    construction, so it broadcasts as the build side of a LeftOuter with
    the grid preserved. The fact-sized work all happens in the
    partial/final hash agg before the join.
    """
    bounds = t.events.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    hours = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("hour")
    )
    types = t.events.select("event_type").distinct()
    grid = hours.crossJoin(types)
    agg = t.events.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour"), "event_type"
    ).agg(F.round(F.sum("value"), 2).alias("revenue"), F.count(F.lit(1)).alias("n_events"))
    return (
        grid.join(F.broadcast(agg), ["hour", "event_type"], "left")
        .select(
            "hour",
            "event_type",
            F.coalesce("revenue", F.lit(0.0)).alias("revenue"),
            F.coalesce("n_events", F.lit(0).cast("long")).alias("n_events"),
        )
    )


@query(
    "events_transition_matrix",
    oracle="""
    WITH seq AS (
        SELECT event_type AS curr,
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev
        FROM events
    ),
    cnt AS (SELECT prev, curr, count(*) AS n FROM seq
            WHERE prev IS NOT NULL GROUP BY prev, curr),
    tot AS (SELECT prev AS p, sum(n) AS tot_n FROM cnt GROUP BY prev)
    SELECT cnt.prev, cnt.curr, n AS n_transitions,
           round(n / tot_n, 6) AS p_transition
    FROM cnt JOIN tot ON cnt.prev = tot.p
    """,
)
def events_transition_matrix(t: Tables) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: lag() within the user partition, pair counts, and
    row-normalized transition probabilities.

    The window is partitioned by user_id (hash-distributed — never a
    global sort) with a total order (ts, event_id); the normalizing
    totals re-aggregate the 25-row count matrix, so the second agg is
    driver-trivial at any corpus size.
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = t.events.select(
        F.col("event_type").alias("curr"), F.lag("event_type").over(w).alias("prev")
    ).filter(F.col("prev").isNotNull())
    cnt = seq.groupBy("prev", "curr").agg(F.count(F.lit(1)).alias("n"))
    tot = cnt.groupBy(F.col("prev").alias("p")).agg(F.sum("n").alias("tot_n"))
    return (
        cnt.join(F.broadcast(tot), cnt.prev == tot.p)
        .select(
            "prev",
            "curr",
            F.col("n").alias("n_transitions"),
            F.round(F.col("n") / F.col("tot_n"), 6).alias("p_transition"),
        )
    )


@query(
    "events_rfm",
    oracle="""
    WITH g AS (SELECT max(ts) AS now_ts FROM events),
         per_user AS (
        SELECT user_id,
               date_diff('day', max(ts), (SELECT now_ts FROM g)) AS recency_days,
               count(*) AS frequency,
               round(sum(value), 2) AS monetary
        FROM events GROUP BY user_id
    )
    SELECT user_id, CAST(recency_days AS BIGINT) AS recency_days,
           frequency, monetary,
           CASE WHEN recency_days <= 1 THEN 5 WHEN recency_days <= 3 THEN 4
                WHEN recency_days <= 7 THEN 3 WHEN recency_days <= 14 THEN 2
                ELSE 1 END AS r_score,
           CASE WHEN frequency >= 100 THEN 5 WHEN frequency >= 75 THEN 4
                WHEN frequency >= 50 THEN 3 WHEN frequency >= 25 THEN 2
                ELSE 1 END AS f_score,
           CASE WHEN monetary >= 20000 THEN 5 WHEN monetary >= 15000 THEN 4
                WHEN monetary >= 10000 THEN 3 WHEN monetary >= 5000 THEN 2
                ELSE 1 END AS m_score
    FROM per_user
    """,
)
def events_rfm(t: Tables) -> DataFrame:
    """RFM (recency / frequency / monetary) customer scoring: per-user
    aggregates against the corpus reference time, bucketed into 1–5
    scores by FIXED business thresholds.

    Fixed thresholds (not ntile quantiles) are deliberate: scores stay
    stable as the corpus grows, are reproducible across engines, and
    need NO global sort — quantile scoring would put every user through
    a single-partition window (the r1 scale-killer class) or a two-phase
    rank for three separate metrics. The plan is one hash agg + a
    one-row broadcast for the reference timestamp.
    """
    now_ts = t.events.agg(F.max("ts").alias("now_ts"))
    per_user = (
        t.events.groupBy("user_id")
        .agg(
            F.max("ts").alias("last_ts"),
            F.count(F.lit(1)).alias("frequency"),
            F.round(F.sum("value"), 2).alias("monetary"),
        )
        .crossJoin(F.broadcast(now_ts))
        .withColumn("recency_days", F.datediff(F.col("now_ts"), F.col("last_ts")).cast("long"))
    )
    r = F.col("recency_days")
    fq = F.col("frequency")
    m = F.col("monetary")
    return per_user.select(
        "user_id",
        "recency_days",
        "frequency",
        "monetary",
        F.when(r <= 1, 5).when(r <= 3, 4).when(r <= 7, 3).when(r <= 14, 2).otherwise(1).alias("r_score"),
        F.when(fq >= 100, 5).when(fq >= 75, 4).when(fq >= 50, 3).when(fq >= 25, 2).otherwise(1).alias("f_score"),
        F.when(m >= 20000, 5).when(m >= 15000, 4).when(m >= 10000, 3).when(m >= 5000, 2).otherwise(1).alias("m_score"),
    )


@query("sketch_hll_rollup", oracle=None)  # R: HLL sketch bytes are engine-specific
def sketch_hll_rollup(t: Tables) -> DataFrame:
    """Mergeable-sketch rollup: daily Datasketches-HLL sketches of
    distinct users, unioned upward to a corpus total WITHOUT rescanning
    the raw events — `hll_union_agg` over the stored daily sketches.

    This is the 100 TB distinct-count architecture: materialize tiny
    fixed-size sketches at the fine grain (shuffle bytes per group ≈
    constant), then every coarser rollup is an algebraic merge of
    sketches, exactly like rollup_incremental's sum-merge but for a
    non-additive measure. Rows-only key (sketch binaries differ across
    engines); the selfcheck battery (`_chk_hll_rollup`) holds every
    estimate within 5% of the exact distinct count.
    """
    daily = t.events.groupBy(F.to_date("ts").alias("day")).agg(
        F.hll_sketch_agg("user_id").alias("sketch")
    )
    day_rows = daily.select(
        F.lit("day").alias("grain"),
        F.col("day").cast("string").alias("day"),
        F.round(F.hll_sketch_estimate("sketch"), 0).cast("long").alias("est_users"),
    )
    total_row = daily.agg(F.hll_union_agg("sketch").alias("merged")).select(
        F.lit("total").alias("grain"),
        F.lit(None).cast("string").alias("day"),
        F.round(F.hll_sketch_estimate("merged"), 0).cast("long").alias("est_users"),
    )
    return day_rows.unionByName(total_row)


@query(
    "events_anomaly",
    oracle="""
    WITH m AS (SELECT event_type AS et, avg(value) AS mu,
                      stddev_pop(value) AS sd
               FROM events GROUP BY event_type)
    SELECT event_id, event_type, round(value, 2) AS value,
           round((value - mu) / sd, 4) AS z_score
    FROM events JOIN m ON event_type = et
    WHERE abs(value - mu) / sd > 3.0
    """,
)
def events_anomaly(t: Tables) -> DataFrame:
    """Z-score outlier detection per event type: two-pass (group
    mean/stddev, then broadcast join-back and flag |z| > 3) — the
    monitoring primitive behind alerting and bad-batch quarantine.

    The group-stats side is a ~5-row broadcast, so the second pass is a
    pure codegen'd scan; at 100 TB this costs two scans and zero fact
    shuffles. The filter predicate is kept in the |value-mu|/sd form on
    both sides so the boundary arithmetic is identical cross-engine."""
    stats = t.events.groupBy(F.col("event_type").alias("et")).agg(
        F.avg("value").alias("mu"), F.stddev_pop("value").alias("sd")
    )
    z = (F.col("value") - F.col("mu")) / F.col("sd")
    return (
        t.events.join(F.broadcast(stats), F.col("event_type") == F.col("et"))
        .filter(F.abs(F.col("value") - F.col("mu")) / F.col("sd") > 3.0)
        .select(
            "event_id",
            "event_type",
            F.round("value", 2).alias("value"),
            F.round(z, 4).alias("z_score"),
        )
    )


@query(
    "events_conversion_lag",
    oracle="""
    WITH v AS (SELECT user_id, min(ts) AS first_view FROM events
               WHERE event_type = 'view' GROUP BY user_id),
         p AS (SELECT e.user_id, min(e.ts) AS first_purchase
               FROM events e JOIN v ON e.user_id = v.user_id
               WHERE e.event_type = 'purchase' AND e.ts > v.first_view
               GROUP BY e.user_id),
         lags AS (SELECT round(date_diff('microsecond', v.first_view,
                                         p.first_purchase) / 3600000000.0, 6)
                         AS lag_hours
                  FROM v JOIN p ON v.user_id = p.user_id)
    SELECT count(*) AS n_converters,
           round(avg(lag_hours), 4) AS avg_lag_h,
           round(quantile_cont(lag_hours, 0.5), 4) AS p50_lag_h,
           round(quantile_cont(lag_hours, 0.9), 4) AS p90_lag_h
    FROM lags
    """,
)
def events_conversion_lag(t: Tables) -> DataFrame:
    """View→purchase conversion latency: per user, the first purchase
    strictly after the first view; reports converter count plus
    mean/median/p90 lag in hours — the funnel-timing companion to
    events_funnel.

    Both stage aggregates are pushdown-filtered scans (each reads only
    its event type) hash-agged on user_id, joined on the same key — the
    funnel plan shape. The lag is computed in exact integer microseconds
    before the one float division, so both engines bucket identically.
    Exact interpolated percentiles over the converters (bounded by user
    count); at extreme user counts swap for approx_percentile.
    """
    views = (
        t.events.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_view"))
    )
    purchases = (
        t.events.filter(F.col("event_type") == "purchase")
        .join(views, "user_id")
        .filter(F.col("ts") > F.col("first_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_purchase"), F.first("first_view").alias("first_view"))
    )
    lag_h = F.round(
        (
            F.unix_micros("first_purchase") - F.unix_micros("first_view")
        ) / F.lit(3600000000.0),
        6,
    )
    lags = purchases.select(lag_h.alias("lag_hours"))
    return lags.agg(
        F.count(F.lit(1)).alias("n_converters"),
        F.round(F.avg("lag_hours"), 4).alias("avg_lag_h"),
        F.round(F.percentile("lag_hours", F.lit(0.5)), 4).alias("p50_lag_h"),
        F.round(F.percentile("lag_hours", F.lit(0.9)), 4).alias("p90_lag_h"),
    )


@query(
    "win_streaks",
    oracle="""
    WITH ud AS (SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
                FROM events),
         s AS (SELECT user_id, day,
                      CAST(day - CAST(row_number() OVER (PARTITION BY user_id
                                                         ORDER BY day) AS INTEGER)
                           AS DATE) AS grp
               FROM ud)
    SELECT user_id, min(day) AS streak_start, count(*) AS streak_len
    FROM s GROUP BY user_id, grp
    HAVING count(*) >= 5
    """,
)
def win_streaks(t: Tables) -> DataFrame:
    """Activity streaks (gaps-and-islands): consecutive-day runs of user
    activity, length ≥ 5 — the classic consecutive-sequence detection
    that has no direct SQL operator and falls out of the day-minus-
    row_number trick: within a user, consecutive days share a constant
    (day − rn) group key.

    The only window is partitioned by user_id over the DISTINCT
    (user, day) projection — at most days-per-user rows per partition,
    hash-distributed; the streak aggregation reuses the same user key."""
    ud = t.events.select("user_id", F.to_date("ts").alias("day")).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    s = ud.withColumn("grp", F.date_sub(F.col("day"), F.row_number().over(w)))
    return (
        s.groupBy("user_id", "grp")
        .agg(F.min("day").alias("streak_start"), F.count(F.lit(1)).alias("streak_len"))
        .filter(F.col("streak_len") >= 5)
        .select("user_id", "streak_start", "streak_len")
    )


@query(
    "agg_weighted",
    oracle="""
    SELECT l_returnflag,
           round(sum(l_discount * l_extendedprice) / sum(l_extendedprice), 6)
               AS wavg_discount,
           round(avg(l_discount), 6) AS avg_discount,
           round(sum(l_quantity * l_extendedprice) / sum(l_extendedprice), 4)
               AS wavg_quantity
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_weighted(t: Tables) -> DataFrame:
    """Revenue-weighted averages next to the plain mean — the difference
    IS the business signal (a high-discount cheap line moves avg but not
    wavg). Pure ratio-of-sums: two partial-aggregable sums per measure,
    one hash agg, no second pass."""
    w = F.col("l_extendedprice")
    return t.lineitem.groupBy("l_returnflag").agg(
        F.round(F.sum(F.col("l_discount") * w) / F.sum(w), 6).alias("wavg_discount"),
        F.round(F.avg("l_discount"), 6).alias("avg_discount"),
        F.round(F.sum(F.col("l_quantity") * w) / F.sum(w), 4).alias("wavg_quantity"),
    )


@query(
    "win_mad_outliers",
    oracle="""
    WITH med AS (SELECT event_type AS et, quantile_cont(value, 0.5) AS med
                 FROM events GROUP BY event_type),
         mad AS (SELECT et, med, quantile_cont(abs(value - med), 0.5) AS mad
                 FROM events JOIN med ON event_type = et GROUP BY et, med)
    SELECT et AS event_type, round(med, 4) AS median_value,
           round(mad, 4) AS mad_value,
           CAST(sum(CASE WHEN abs(value - med) > 3 * mad THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers
    FROM events JOIN mad ON event_type = et
    GROUP BY et, med, mad
    """,
)
def win_mad_outliers(t: Tables) -> DataFrame:
    """Robust outlier counts per group via median absolute deviation —
    the z-score companion (events_anomaly) that heavy tails can't skew:
    both the center (median) and the spread (MAD) are rank statistics.

    Three passes by necessity (median → MAD → flag), but each non-first
    pass joins a ~5-row broadcast against a pushdown scan; exact
    interpolated percentiles match DuckDB's quantile_cont
    (agg_percentiles precedent). At extreme group cardinality swap for
    approx_percentile and keep the same plan."""
    med = t.events.groupBy(F.col("event_type").alias("et")).agg(
        F.percentile("value", F.lit(0.5)).alias("med")
    )
    mad = (
        t.events.join(F.broadcast(med), F.col("event_type") == F.col("et"))
        .groupBy("et", "med")
        .agg(F.percentile(F.abs(F.col("value") - F.col("med")), F.lit(0.5)).alias("mad"))
    )
    return (
        t.events.join(F.broadcast(mad), F.col("event_type") == F.col("et"))
        .groupBy(F.col("et").alias("event_type"), "med", "mad")
        .agg(
            F.sum(
                F.when(F.abs(F.col("value") - F.col("med")) > 3 * F.col("mad"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_outliers")
        )
        .select(
            "event_type",
            F.round("med", 4).alias("median_value"),
            F.round("mad", 4).alias("mad_value"),
            "n_outliers",
        )
    )


@query(
    "events_share_of_day",
    oracle="""
    WITH hourly AS (SELECT date_trunc('hour', ts) AS hour, event_type,
                           sum(value) AS hr_rev
                    FROM events GROUP BY 1, 2),
         daily AS (SELECT date_trunc('day', hour) AS day, event_type,
                          sum(hr_rev) AS day_rev
                   FROM hourly GROUP BY 1, 2)
    SELECT h.hour, h.event_type,
           round(h.hr_rev, 2) AS hr_rev,
           round(h.hr_rev / d.day_rev, 6) AS share_of_day
    FROM hourly h
    JOIN daily d ON date_trunc('day', h.hour) = d.day
                AND h.event_type = d.event_type
    """,
)
def events_share_of_day(t: Tables) -> DataFrame:
    """Ratio-to-parent rollup: each hour's revenue as a share of its
    day's total per event type — the two-grain normalization behind
    'percent of daily traffic' dashboards.

    The day grain derives from the HOURLY aggregate (24× fewer rows —
    the rollup_multigrain re-aggregation trick), then joins back on
    (day, type). Both grains share the event_type hash key; the day side
    is tiny and broadcasts."""
    hourly = t.events.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour"), "event_type"
    ).agg(F.sum("value").alias("hr_rev"))
    daily = hourly.groupBy(
        F.date_trunc("day", F.col("hour")).alias("day"), F.col("event_type").alias("et")
    ).agg(F.sum("hr_rev").alias("day_rev"))
    return (
        hourly.join(
            F.broadcast(daily),
            (F.date_trunc("day", F.col("hour")) == F.col("day"))
            & (F.col("event_type") == F.col("et")),
        )
        .select(
            "hour",
            "event_type",
            F.round("hr_rev", 2).alias("hr_rev"),
            F.round(F.col("hr_rev") / F.col("day_rev"), 6).alias("share_of_day"),
        )
    )


@query(
    "orders_market_basket",
    oracle="""
    WITH ob AS (SELECT DISTINCT l_orderkey, p_brand
                FROM lineitem JOIN part ON l_partkey = p_partkey),
         n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM ob),
         freq AS (SELECT p_brand, count(*) AS n_b FROM ob GROUP BY p_brand),
         pairs AS (SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
                          count(*) AS n_ab
                   FROM ob a JOIN ob b ON a.l_orderkey = b.l_orderkey
                                      AND a.p_brand < b.p_brand
                   GROUP BY a.p_brand, b.p_brand)
    SELECT brand_a, brand_b, n_ab,
           round(n_ab * 1.0 / n.n_orders, 6) AS support,
           round(n_ab * 1.0 * n.n_orders / (fa.n_b * fb.n_b), 4) AS lift
    FROM pairs
    JOIN freq fa ON brand_a = fa.p_brand
    JOIN freq fb ON brand_b = fb.p_brand
    CROSS JOIN n
    """,
)
def orders_market_basket(t: Tables) -> DataFrame:
    """Market-basket co-occurrence: support and lift for every brand pair
    appearing in the same order — the association-rule mining primitive
    (Apriori's first level).

    The basket projection is DISTINCT (order, brand) — two int-ish
    columns, the only fact-sized shuffle; the pair self-join is keyed on
    l_orderkey with the a<b residual, so pairs-per-order is quadratic in
    BASKET size (~4 lines), never corpus size; brand frequencies and the
    order count are broadcast scalars. At 100 TB add a support-threshold
    pre-prune of rare brands before pairing (Apriori pruning) — with 25
    brands here every pair clears any threshold."""
    ob = (
        t.lineitem.join(
            F.broadcast(t.part.select("p_partkey", "p_brand")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .select("l_orderkey", "p_brand")
        .distinct()
    )
    n = ob.agg(F.countDistinct("l_orderkey").alias("n_orders"))
    freq = ob.groupBy("p_brand").agg(F.count(F.lit(1)).alias("n_b"))
    a = ob.alias("a")
    b = ob.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.p_brand") < F.col("b.p_brand")),
        )
        .groupBy(F.col("a.p_brand").alias("brand_a"), F.col("b.p_brand").alias("brand_b"))
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    fa = freq.select(F.col("p_brand").alias("brand_a"), F.col("n_b").alias("na"))
    fb = freq.select(F.col("p_brand").alias("brand_b"), F.col("n_b").alias("nb"))
    return (
        pairs.join(F.broadcast(fa), "brand_a")
        .join(F.broadcast(fb), "brand_b")
        .crossJoin(F.broadcast(n))
        .select(
            "brand_a",
            "brand_b",
            "n_ab",
            F.round(F.col("n_ab") * 1.0 / F.col("n_orders"), 6).alias("support"),
            F.round(
                F.col("n_ab") * 1.0 * F.col("n_orders") / (F.col("na") * F.col("nb")), 4
            ).alias("lift"),
        )
    )


@query(
    "events_session_paths",
    oracle="""
    WITH s AS (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN lag(ts) OVER w IS NULL
                      OR ts - lag(ts) OVER w > INTERVAL 30 MINUTES
                    THEN 1 ELSE 0 END AS new_s
        FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s2 AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS sess
           FROM s),
    paths AS (SELECT user_id, sess,
                     string_agg(event_type, '>' ORDER BY ts, event_id) AS path
              FROM s2 GROUP BY user_id, sess)
    SELECT path, count(*) AS n_sessions
    FROM paths GROUP BY path
    ORDER BY n_sessions DESC, path LIMIT 20
    """,
)
def events_session_paths(t: Tables) -> DataFrame:
    """Top-20 session paths: sessionize (30-min gap, gaps-and-islands),
    concatenate each session's ordered event types into a path string,
    count paths — clickstream pattern mining's entry query.

    All windows are user-partitioned; the per-session ordering happens
    IN-ROW (collect the session's (ts, event_id, type) structs, one
    array_sort, one transform — never a global sort); the final top-20 is
    TakeOrderedAndProject over the tiny distinct-path aggregate. Path
    strings are bounded by session length; a runaway session would need
    the same cap a streaming session window puts on duration."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # exact-microsecond gap to match the oracle's INTERVAL comparison —
    # floor-second casts would disagree on gaps within ~1 s of the edge
    gap = F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)
    s = t.events.withColumn(
        "new_s",
        F.when(gap.isNull() | (gap > 1_800_000_000), 1).otherwise(0),
    ).withColumn("sess", F.sum("new_s").over(w))
    paths = (
        s.groupBy("user_id", "sess")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("ts", "event_id", "event_type"))
            ).alias("evs")
        )
        .select(
            F.concat_ws(
                ">", F.transform(F.col("evs"), lambda x: x.event_type)
            ).alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy(F.col("n_sessions").desc(), F.col("path"))
        .limit(20)
    )


@query(
    "win_time_range_moving",
    oracle="""
    SELECT event_id, event_type,
           round(sum(value) OVER (PARTITION BY event_type
                                  ORDER BY epoch_us(ts)
                                  RANGE BETWEEN 3600000000 PRECEDING
                                            AND CURRENT ROW), 2)
               AS trailing_1h_revenue
    FROM events
    """,
)
def win_time_range_moving(t: Tables) -> DataFrame:
    """Event-time RANGE frame: per event, the trailing 1-hour revenue of
    its type — the time-based moving window (vs win_moving_avg's
    row-count frame), ordered by integer epoch microseconds so the frame
    arithmetic is engine-exact and tie rows are frame peers on both
    sides.

    Partitioned by event_type (hash-distributed); at 100 TB the state
    per partition is the in-frame row buffer — bounded by event rate ×
    1 hour, the same bound a streaming sliding window carries."""
    w = (
        Window.partitionBy("event_type")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3600000000, 0)
    )
    return t.events.select(
        "event_id",
        "event_type",
        F.round(F.sum("value").over(w), 2).alias("trailing_1h_revenue"),
    )


@query(
    "events_cumulative_users",
    oracle="""
    WITH firsts AS (SELECT user_id, min(CAST(date_trunc('day', ts) AS DATE)) AS d
                    FROM events GROUP BY user_id),
         new_users AS (SELECT d, count(*) AS n_new FROM firsts GROUP BY d),
         active AS (SELECT CAST(date_trunc('day', ts) AS DATE) AS d,
                           count(DISTINCT user_id) AS n_active
                    FROM events GROUP BY 1)
    SELECT a.d AS day, a.n_active,
           CAST(coalesce(n.n_new, 0) AS BIGINT) AS n_new,
           CAST(sum(coalesce(n.n_new, 0)) OVER (ORDER BY a.d) AS BIGINT)
               AS cumulative_users
    FROM active a LEFT JOIN new_users n ON a.d = n.d
    """,
)
def events_cumulative_users(t: Tables) -> DataFrame:
    """Daily active / new / cumulative distinct users — the growth-
    dashboard staple. Cumulative DISTINCT over time is not directly
    windowable; the first-seen-day rewrite (min day per user → daily new
    → running sum) makes it one extra hash agg.

    The only unpartitioned window runs over the PRE-AGGREGATED one-row-
    per-day series (~30 rows — the win_range_frame bounded-by-construction
    pattern); every fact-sized operation is a user- or day-keyed hash
    agg."""
    day = F.to_date("ts")
    firsts = t.events.groupBy("user_id").agg(F.min(day).alias("d"))
    new_users = firsts.groupBy("d").agg(F.count(F.lit(1)).alias("n_new"))
    active = t.events.groupBy(day.alias("d")).agg(
        F.countDistinct("user_id").alias("n_active")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return (
        active.join(F.broadcast(new_users), "d", "left")
        .select(
            F.col("d").alias("day"),
            "n_active",
            F.coalesce("n_new", F.lit(0)).cast("long").alias("n_new"),
        )
        .withColumn("cumulative_users", F.sum("n_new").over(w).cast("long"))
    )


@query(
    "agg_mutual_info",
    oracle="""
    WITH b AS (
        SELECT event_type AS x, dayofweek(ts) AS y FROM events
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM b),
    j AS (SELECT x, y, count(*) AS nxy FROM b GROUP BY x, y),
    mx AS (SELECT x, count(*) AS nx FROM b GROUP BY x),
    my AS (SELECT y, count(*) AS ny FROM b GROUP BY y),
    mi AS (
        SELECT sum((CAST(nxy AS DOUBLE) / n)
                   * ln(CAST(nxy AS DOUBLE) * n / (CAST(nx AS DOUBLE) * ny)))
                   AS mi_nats
        FROM j JOIN mx USING (x) JOIN my USING (y) CROSS JOIN tot
    ),
    hx AS (
        SELECT -sum((CAST(nx AS DOUBLE) / n) * ln(CAST(nx AS DOUBLE) / n))
                   AS h_type
        FROM mx CROSS JOIN tot
    ),
    hy AS (
        SELECT -sum((CAST(ny AS DOUBLE) / n) * ln(CAST(ny AS DOUBLE) / n))
                   AS h_dow
        FROM my CROSS JOIN tot
    )
    SELECT round(mi.mi_nats, 6) AS mi_nats,
           round(hx.h_type, 6)  AS h_type,
           round(hy.h_dow, 6)   AS h_dow,
           tot.n                AS n_events
    FROM mi, hx, hy, tot
    """,
)
def agg_mutual_info(t: Tables) -> DataFrame:
    """Mutual information I(event_type; day-of-week) in nats, with both
    marginal entropies — the association-strength readout between two
    categorical columns (complements agg_chi_square: chi-square answers
    "is there ANY dependence", MI answers "how many bits/nats of one
    does the other carry", comparable across tables via the entropy
    ceilings I <= min(H_x, H_y)).

    Scale shape: three hash aggs over the fact (joint + two marginals —
    each combines map-side to a cells-bounded frame), then all arithmetic
    on the bounded contingency frames: joint x marginals are
    category-bounded broadcast joins, and the final assembly is a
    cross of 1-row summaries (allowlisted 1-row nested-loop class).
    Cross-engine floats: every term is a deterministic function of
    exact integer counts; only the final sums are float, and 6dp
    rounding absorbs their summation-order drift. The dow convention
    offset is irrelevant here: any bijective relabeling of a category
    leaves MI and entropy unchanged."""
    b = t.events.select(
        F.col("event_type").alias("x"), F.dayofweek("ts").alias("y")
    )
    tot = b.agg(F.count(F.lit(1)).cast("long").alias("n"))
    j = b.groupBy("x", "y").agg(F.count(F.lit(1)).alias("nxy"))
    mx = b.groupBy("x").agg(F.count(F.lit(1)).alias("nx"))
    my = b.groupBy("y").agg(F.count(F.lit(1)).alias("ny"))
    joined = (
        j.join(F.broadcast(mx), "x")
        .join(F.broadcast(my), "y")
        .crossJoin(F.broadcast(tot))
    )
    mi = joined.agg(
        F.sum(
            (F.col("nxy").cast("double") / F.col("n"))
            * F.log(
                F.col("nxy").cast("double")
                * F.col("n")
                / (F.col("nx").cast("double") * F.col("ny"))
            )
        ).alias("mi_nats")
    )
    hx = mx.crossJoin(F.broadcast(tot)).agg(
        (-F.sum(
            (F.col("nx").cast("double") / F.col("n"))
            * F.log(F.col("nx").cast("double") / F.col("n"))
        )).alias("h_type")
    )
    hy = my.crossJoin(F.broadcast(tot)).agg(
        (-F.sum(
            (F.col("ny").cast("double") / F.col("n"))
            * F.log(F.col("ny").cast("double") / F.col("n"))
        )).alias("h_dow")
    )
    return (
        mi.crossJoin(hx)
        .crossJoin(hy)
        .crossJoin(tot)
        .select(
            F.round("mi_nats", 6).alias("mi_nats"),
            F.round("h_type", 6).alias("h_type"),
            F.round("h_dow", 6).alias("h_dow"),
            F.col("n").alias("n_events"),
        )
    )


@query(
    "events_heatmap_dow_hour",
    oracle="""
    SELECT dayofweek(ts) + 1 AS dow, hour(ts) AS hr,
           count(*) AS n_events,
           round(avg(value), 4) AS avg_value
    FROM events
    GROUP BY dayofweek(ts) + 1, hour(ts)
    """,
)
def events_heatmap_dow_hour(t: Tables) -> DataFrame:
    """Day-of-week × hour activity heatmap (≤168 cells) — the seasonality
    fingerprint behind staffing/alert-threshold dashboards. One hash agg;
    dow pinned to Spark's 1=Sunday convention (DuckDB's dayofweek is
    0=Sunday, offset in the oracle)."""
    return t.events.groupBy(
        F.dayofweek("ts").alias("dow"), F.hour("ts").alias("hr")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.avg("value"), 4).alias("avg_value"),
    )


@query("sketch_hll_overlap", oracle=None)  # R: sketch algebra, engine-specific bytes
def sketch_hll_overlap(t: Tables) -> DataFrame:
    """Day-over-day retained-user estimates by HLL inclusion-exclusion:
    |A∩B| ≈ est(A) + est(B) − est(A∪B), computed entirely from the
    stored daily sketches (hll_union never rescans raw events) — the
    sketch-algebra upgrade of a self-join COUNT(DISTINCT).

    Differencing amplifies sketch error (three ±ε estimates), so the
    self-check tolerance is wider than the rollup key's (tests: ±15% or
    ±3 users); production uses theta sketches when set intersections are
    the primary workload — HLL inclusion-exclusion is the right tool
    only for coarse retention trends, which is what this reports.
    Consecutive days pair via a self-join on day+1 over the ~30-row
    daily-sketch table — driver-trivial."""
    daily = t.events.groupBy(F.to_date("ts").alias("day")).agg(
        F.hll_sketch_agg("user_id").alias("sk"), F.countDistinct("user_id").alias("n_exact")
    )
    a = daily.select(F.col("day").alias("d0"), F.col("sk").alias("sk0"))
    b = daily.select(F.col("day").alias("d1"), F.col("sk").alias("sk1"))
    pairs = a.join(b, F.date_add(F.col("d0"), 1) == F.col("d1"))
    est = lambda c: F.round(F.hll_sketch_estimate(c), 0).cast("long")  # noqa: E731
    union_est = F.round(
        F.hll_sketch_estimate(F.hll_union("sk0", "sk1")), 0
    ).cast("long")
    return pairs.select(
        F.col("d0").cast("string").alias("day"),
        est("sk0").alias("est_day"),
        est("sk1").alias("est_next"),
        union_est.alias("est_union"),
        (est("sk0") + est("sk1") - union_est).alias("est_retained"),
    )


@query("sketch_cms_freq", oracle=None)  # R: CMS table bytes are engine-specific
def sketch_cms_freq(t: Tables) -> DataFrame:
    """Count–min-sketch frequency report: build ONE mergeable CMS over
    event_type (`count_min_sketch` agg — map-side partial sketches
    merged by cell-wise add, the same one-pass/commutative shape as the
    HLL keys) and read back a point estimate per observed type next to
    the exact count. This is the heavy-hitter primitive at 100 TB: the
    sketch is a fixed ~100 KB regardless of input size or key
    cardinality, so frequency questions on an unbounded key domain cost
    one streaming pass — the exact groupBy here exists only to expose
    the (estimate - exact) overestimate the report audits.

    The sketch binary is Spark's own CountMinSketch serialization,
    deserialized driver-side through the JVM's public readFrom/
    estimateCount API (never re-implemented Python-side, so hash
    semantics cannot drift from the builder's). Bounded driver work by
    construction: one sketch row (~100 KB at eps=1e-3) plus one
    estimate call per DISTINCT event type — the event-type dimension is
    k-bounded like the k-means centroid collect. Rows-only by design
    (sketch cell layout is engine-specific); the selfcheck battery's
    `_chk_cms` asserts the CMS one-sided error law, exact <= estimate
    <= exact + eps*N, with one row per event type.

    Determinism: fixed seed, and CMS updates are commutative integer
    cell increments, so estimates are partition- and merge-order-
    invariant (invariance-swept like every key)."""
    spark = t.spark
    typed = t.events.filter(F.col("event_type").isNotNull())
    exact = (
        typed.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_exact"))
        .collect()
    )
    schema = "event_type string, n_exact long, n_est long, n_over long"
    if not exact:
        return local_frame(spark, [], schema)
    cms_bytes = typed.agg(
        F.count_min_sketch(
            F.col("event_type"), F.lit(0.001), F.lit(0.99), F.lit(42)
        ).alias("cms")
    ).collect()[0].cms
    sketch = spark._jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(  # noqa: SLF001
        bytearray(cms_bytes)
    )
    rows = [
        (r.event_type, r.n_exact, int(sketch.estimateCount(r.event_type)))
        for r in exact
    ]
    return local_frame(
        spark, [(et, n, est, est - n) for et, n, est in rows], schema
    ).orderBy("event_type")


@query(
    "win_yoy_growth",
    oracle="""
    WITH monthly AS (
        SELECT year(o_orderdate) AS yr, month(o_orderdate) AS mon,
               sum(o_totalprice) AS rev
        FROM orders GROUP BY 1, 2
    )
    SELECT yr, mon, round(rev, 2) AS revenue,
           round(100.0 * (rev - lag(rev) OVER w) / lag(rev) OVER w, 4)
               AS yoy_pct
    FROM monthly WINDOW w AS (PARTITION BY mon ORDER BY yr)
    """,
)
def win_yoy_growth(t: Tables) -> DataFrame:
    """Year-over-year growth per calendar month: monthly revenue with
    lag(1) over the same-month-previous-year series — partitioning by
    month-of-year makes YoY a PLAIN lag instead of a fragile lag(12)
    over one global series (which breaks on gap months and needs a
    single-partition sort). First year of each month series is NULL by
    construction. Fact-sized work is one hash agg; the window runs over
    the tiny (year × month) aggregate."""
    monthly = t.orders.groupBy(
        F.year("o_orderdate").alias("yr"), F.month("o_orderdate").alias("mon")
    ).agg(F.sum("o_totalprice").alias("rev"))
    w = Window.partitionBy("mon").orderBy("yr")
    prev = F.lag("rev").over(w)
    return monthly.select(
        "yr",
        "mon",
        F.round("rev", 2).alias("revenue"),
        F.round(100.0 * (F.col("rev") - prev) / prev, 4).alias("yoy_pct"),
    )


@query(
    "win_pareto_abc",
    oracle="""
    WITH cust AS (
        SELECT c_nationkey, o_custkey, sum(o_totalprice) AS rev
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_nationkey, o_custkey
    ),
    ranked AS (
        SELECT c_nationkey, o_custkey, rev,
               sum(rev) OVER (PARTITION BY c_nationkey
                              ORDER BY rev DESC, o_custkey
                              ROWS UNBOUNDED PRECEDING) AS cum_rev,
               sum(rev) OVER (PARTITION BY c_nationkey) AS tot_rev
        FROM cust
    )
    SELECT c_nationkey,
           CASE WHEN cum_rev / tot_rev <= 0.5 THEN 'A'
                WHEN cum_rev / tot_rev <= 0.8 THEN 'B'
                ELSE 'C' END AS abc_class,
           count(*) AS n_customers,
           round(sum(rev), 2) AS class_revenue
    FROM ranked
    GROUP BY c_nationkey, abc_class
    """,
)
def win_pareto_abc(t: Tables) -> DataFrame:
    """Pareto / ABC classification per nation: customers ranked by
    revenue within their nation, classified by cumulative revenue share
    (A ≤ 50%, B ≤ 80%, C rest) — the inventory-management classic.

    The running sum is partitioned by nation (hash-distributed, ordered
    within partition by revenue with a PK tie-break for determinism);
    the per-nation total rides the same window spec without the frame.
    One orders hash agg feeds it; the final class rollup is tiny."""
    cust = (
        t.orders.join(
            F.broadcast(t.customer.select("c_custkey", "c_nationkey")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy("c_nationkey", "o_custkey")
        .agg(F.sum("o_totalprice").alias("rev"))
    )
    wp = Window.partitionBy("c_nationkey")
    w = wp.orderBy(F.col("rev").desc(), F.col("o_custkey")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    share = F.sum("rev").over(w) / F.sum("rev").over(wp)
    abc = (
        F.when(share <= 0.5, "A").when(share <= 0.8, "B").otherwise("C")
    )
    return (
        cust.withColumn("abc_class", abc)
        .groupBy("c_nationkey", "abc_class")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("rev"), 2).alias("class_revenue"),
        )
    )


@query(
    "events_bot_detection",
    oracle="""
    WITH per_min AS (
        SELECT user_id, date_trunc('minute', ts) AS m, count(*) AS n
        FROM events GROUP BY 1, 2
    ),
    burst AS (SELECT user_id, max(n) AS max_per_min FROM per_min GROUP BY user_id),
    mode_share AS (
        SELECT user_id, max(tc) * 1.0 / sum(tc) AS top_type_share
        FROM (SELECT user_id, event_type, count(*) AS tc
              FROM events GROUP BY user_id, event_type)
        GROUP BY user_id
    ),
    base AS (SELECT user_id, count(*) AS n_events FROM events GROUP BY user_id)
    SELECT b.user_id, b.n_events,
           CAST(burst.max_per_min AS BIGINT) AS max_per_min,
           round(mode_share.top_type_share, 6) AS top_type_share,
           (burst.max_per_min >= 4 OR mode_share.top_type_share > 0.5)
               AS bot_suspect
    FROM base b
    JOIN burst ON b.user_id = burst.user_id
    JOIN mode_share ON b.user_id = mode_share.user_id
    """,
)
def events_bot_detection(t: Tables) -> DataFrame:
    """Heuristic bot/abuse scoring per user: burst rate (max events in
    any minute) and behavioral monotony (share of the single most common
    event type), flagged against fixed thresholds — the traffic-
    filtering stage a training-data pipeline runs before counting
    anything else as organic signal.

    Three hash aggregates all keyed on user_id (AQE reuses the
    exchange); no windows, no sorting. Thresholds are fixture-calibrated
    (uniform synthetic traffic sits near 1/5 type share; real deploys
    fit them per surface). The max-over-minutes rewrite is the same
    grain trick as rollup_multigrain — never a per-event window."""
    per_min = t.events.groupBy(
        "user_id", F.date_trunc("minute", F.col("ts")).alias("m")
    ).agg(F.count(F.lit(1)).alias("n"))
    burst = per_min.groupBy("user_id").agg(F.max("n").cast("long").alias("max_per_min"))
    type_counts = t.events.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("tc")
    )
    mode_share = type_counts.groupBy("user_id").agg(
        (F.max("tc") * 1.0 / F.sum("tc")).alias("share")
    )
    base = t.events.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))
    return (
        base.join(burst, "user_id")
        .join(mode_share, "user_id")
        .select(
            "user_id",
            "n_events",
            "max_per_min",
            F.round("share", 6).alias("top_type_share"),
            ((F.col("max_per_min") >= 4) | (F.col("share") > 0.5)).alias("bot_suspect"),
        )
    )


@query(
    "events_time_decay_score",
    oracle="""
    WITH ref AS (SELECT max(ts) AS now_ts FROM events)
    SELECT user_id,
           round(sum(value * exp(-date_diff('microsecond', ts,
                                            (SELECT now_ts FROM ref))
                                 / 86400000000.0 / 7.0)), 4)
               AS decayed_value,
           round(sum(value), 2) AS raw_value
    FROM events
    GROUP BY user_id
    """,
)
def events_time_decay_score(t: Tables) -> DataFrame:
    """Exponential time-decay engagement score per user (7-day
    half-life-ish constant): recent activity dominates, stale activity
    fades — the recency weighting behind engagement ranking and churn
    features, computed in ONE pass because exp-decay is sum-distributive
    (no per-event window needed; the reference time is a one-row
    broadcast). Age is exact integer microseconds before the one float
    division, so both engines exponentiate identical inputs."""
    ref = t.events.agg(F.max("ts").alias("now_ts"))
    age_days = (
        (F.unix_micros("now_ts") - F.unix_micros("ts")) / F.lit(86400000000.0)
    )
    return (
        t.events.crossJoin(F.broadcast(ref))
        .groupBy("user_id")
        .agg(
            F.round(F.sum(F.col("value") * F.exp(-age_days / 7.0)), 4).alias("decayed_value"),
            F.round(F.sum("value"), 2).alias("raw_value"),
        )
    )


@query(
    "events_max_gap",
    oracle="""
    WITH gaps AS (
        SELECT event_type,
               date_diff('microsecond',
                         lag(ts) OVER (PARTITION BY event_type
                                       ORDER BY ts, event_id), ts) AS gap_us
        FROM events
    )
    SELECT event_type,
           CAST(max(gap_us) AS BIGINT) AS max_gap_us,
           round(avg(gap_us) / 1000000.0, 4) AS avg_gap_s,
           CAST(sum(CASE WHEN gap_us > 600000000 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_gaps_over_10m
    FROM gaps WHERE gap_us IS NOT NULL
    GROUP BY event_type
    """,
)
def events_max_gap(t: Tables) -> DataFrame:
    """Outage/silence detection per stream: max and mean inter-event gap
    plus the count of gaps above a 10-minute threshold — the
    "did the pipeline stall" monitor. The lag window is partitioned by
    event_type with a (ts, event_id) total order; gaps are exact integer
    microseconds (the one float division happens after aggregation)."""
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    gap = F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
    gaps = t.events.select("event_type", gap.alias("gap_us")).filter(
        F.col("gap_us").isNotNull()
    )
    return gaps.groupBy("event_type").agg(
        F.max("gap_us").cast("long").alias("max_gap_us"),
        F.round(F.avg("gap_us") / 1000000.0, 4).alias("avg_gap_s"),
        F.sum(F.when(F.col("gap_us") > 600000000, 1).otherwise(0))
        .cast("long")
        .alias("n_gaps_over_10m"),
    )


@query(
    "events_type_overlap",
    oracle="""
    WITH tu AS (SELECT DISTINCT event_type, user_id FROM events),
         sizes AS (SELECT event_type AS et, count(*) AS n FROM tu GROUP BY 1),
         inter AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
                          count(*) AS common
                   FROM tu a JOIN tu b ON a.user_id = b.user_id
                                      AND a.event_type < b.event_type
                   GROUP BY 1, 2)
    SELECT type_a, type_b, common AS n_common_users,
           round(common * 1.0 / (sa.n + sb.n - common), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON type_a = sa.et
    JOIN sizes sb ON type_b = sb.et
    """,
)
def events_type_overlap(t: Tables) -> DataFrame:
    """Audience-overlap matrix: Jaccard similarity of user sets between
    every event-type pair — the segment-overlap report behind campaign
    targeting and funnel design. Same inverted-index discipline as the
    document dedup family: the self-join is keyed on user_id, so pair
    expansion is quadratic in types-per-user (≤5), never in users."""
    tu = t.events.select("event_type", "user_id").distinct()
    sizes = tu.groupBy(F.col("event_type").alias("et")).agg(F.count(F.lit(1)).alias("n"))
    a = tu.select(F.col("event_type").alias("type_a"), F.col("user_id").alias("ua"))
    b = tu.select(F.col("event_type").alias("type_b"), F.col("user_id").alias("ub"))
    inter = (
        a.join(b, (F.col("ua") == F.col("ub")) & (F.col("type_a") < F.col("type_b")))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sa = sizes.select(F.col("et").alias("type_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("et").alias("type_b"), F.col("n").alias("nb"))
    jac = F.col("common") * 1.0 / (F.col("na") + F.col("nb") - F.col("common"))
    return (
        inter.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .select(
            "type_a",
            "type_b",
            F.col("common").alias("n_common_users"),
            F.round(jac, 6).alias("jaccard"),
        )
    )


@query(
    "win_zscore_rolling",
    oracle="""
    SELECT event_id, event_type,
           round((value - avg(value) OVER w) / stddev_samp(value) OVER w, 4)
               AS rolling_z
    FROM events
    WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
                 ROWS BETWEEN 100 PRECEDING AND 1 PRECEDING)
    QUALIFY count(*) OVER w >= 30
    """,
)
def win_zscore_rolling(t: Tables) -> DataFrame:
    """Rolling z-score: each event against the mean/stddev of its
    type's TRAILING 100 events (strictly before it — no self-inclusion
    leakage), emitted only once 30 warm-up observations exist. This is
    the adaptive-baseline anomaly detector (events_anomaly's global
    stats go stale under drift; a trailing window tracks the regime).

    Type-partitioned window with a bounded ROWS frame — per-row state is
    the 100-row ring buffer, constant at any scale; the (ts, event_id)
    order is total so frames are engine-identical."""
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-100, -1)
    )
    z = (F.col("value") - F.avg("value").over(w)) / F.stddev_samp("value").over(w)
    return (
        t.events.select(
            "event_id",
            "event_type",
            F.round(z, 4).alias("rolling_z"),
            F.count(F.lit(1)).over(w).alias("_n"),
        )
        .filter(F.col("_n") >= 30)
        .drop("_n")
    )


@query(
    "agg_gini",
    oracle="""
    WITH cust AS (
        SELECT c_nationkey, o_custkey, sum(o_totalprice) AS rev
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_nationkey, o_custkey
    ),
    ranked AS (
        SELECT c_nationkey, rev,
               row_number() OVER (PARTITION BY c_nationkey
                                  ORDER BY rev, o_custkey) AS i,
               count(*) OVER (PARTITION BY c_nationkey) AS n,
               sum(rev) OVER (PARTITION BY c_nationkey) AS tot
        FROM cust
    )
    SELECT c_nationkey,
           CAST(max(n) AS BIGINT) AS n_customers,
           round(2.0 * sum(i * rev) / (max(n) * max(tot))
                 - (max(n) + 1.0) / max(n), 6) AS gini
    FROM ranked GROUP BY c_nationkey
    """,
)
def agg_gini(t: Tables) -> DataFrame:
    """Gini coefficient of customer revenue per nation — the inequality
    index behind concentration-risk dashboards (how dependent is this
    market on its top spenders), computed with the rank formula
    G = 2·Σ(i·xᵢ)/(n·Σx) − (n+1)/n over ascending revenues.

    The rank window is nation-partitioned with a PK tie-break (total
    order → engine-identical ranks); one fact hash agg feeds it and the
    final reduction is 25 rows. Same plan family as win_pareto_abc —
    the two reports share the ranked-revenue intermediate in a real
    deployment."""
    cust = (
        t.orders.join(
            F.broadcast(t.customer.select("c_custkey", "c_nationkey")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy("c_nationkey", "o_custkey")
        .agg(F.sum("o_totalprice").alias("rev"))
    )
    wp = Window.partitionBy("c_nationkey")
    wr = wp.orderBy("rev", "o_custkey")
    ranked = cust.select(
        "c_nationkey",
        "rev",
        F.row_number().over(wr).alias("i"),
        F.count(F.lit(1)).over(wp).alias("n"),
        F.sum("rev").over(wp).alias("tot"),
    )
    return ranked.groupBy("c_nationkey").agg(
        F.max("n").cast("long").alias("n_customers"),
        F.round(
            2.0 * F.sum(F.col("i") * F.col("rev")) / (F.max("n") * F.max("tot"))
            - (F.max("n") + 1.0) / F.max("n"),
            6,
        ).alias("gini"),
    )


@query(
    "win_ema_fold",
    oracle="""
    WITH seqs AS (
        SELECT user_id,
               list(CAST(value AS DOUBLE) ORDER BY ts, event_id) AS vals
        FROM events GROUP BY user_id
    )
    SELECT user_id,
           CAST(len(vals) AS BIGINT) AS n_events,
           round(list_reduce(vals, (acc, x) -> acc * 0.8 + x * 0.2), 4)
               AS ema_value
    FROM seqs
    """,
)
def win_ema_fold(t: Tables) -> DataFrame:
    """Exponential moving average per user (α=0.2) — a RECURSIVE metric
    no window frame expresses (each value depends on the full prior
    fold), computed as an IN-ROW fold: collect the user's ordered values
    once, then a single aggregate-lambda pass. The fold runs left-to-
    right in both engines (Spark F.aggregate, DuckDB list_reduce seeded
    with the first element), so results are bit-identical before
    rounding.

    Scale bound: state per user is its event array — fine for bounded
    per-entity streams (sessions, sensors with retention); for unbounded
    per-key history use the streaming applyInPandasWithState cumsum
    pattern (stream_stateful) where state is O(1). The collect_list +
    array_sort is one user-keyed shuffle."""
    seqs = t.events.groupBy("user_id").agg(
        F.array_sort(
            F.collect_list(F.struct("ts", "event_id", F.col("value").cast("double").alias("v")))
        ).alias("evs")
    )
    vals = F.transform(F.col("evs"), lambda s: s.v)
    ema = F.aggregate(
        F.slice(vals, 2, F.size(vals) - 1),
        F.element_at(vals, 1),
        lambda acc, x: acc * 0.8 + x * 0.2,
    )
    return seqs.select(
        "user_id",
        F.size("evs").cast("long").alias("n_events"),
        F.round(ema, 4).alias("ema_value"),
    )


@query(
    "orders_running_backlog",
    oracle="""
    WITH opened AS (SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
                           count(*) AS n_opened
                    FROM orders GROUP BY 1),
         closed AS (SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
                           count(*) AS n_closed
                    FROM orders WHERE o_orderstatus = 'F' GROUP BY 1)
    SELECT o.m AS month, o.n_opened,
           CAST(coalesce(c.n_closed, 0) AS BIGINT) AS n_closed,
           CAST(sum(o.n_opened - coalesce(c.n_closed, 0))
                OVER (ORDER BY o.m) AS BIGINT) AS open_backlog
    FROM opened o LEFT JOIN closed c ON o.m = c.m
    """,
)
def orders_running_backlog(t: Tables) -> DataFrame:
    """Running order backlog: monthly opened minus finalized, accumulated
    over time — the operations burndown chart. Both flows aggregate to
    the month grain FIRST (the rollup_multigrain discipline), so the
    running sum walks an ~80-row calendar series — bounded by elapsed
    months, not data volume (the win_range_frame bounded-by-construction
    window class)."""
    month = F.to_date(F.date_trunc("month", F.col("o_orderdate")))
    opened = t.orders.groupBy(month.alias("m")).agg(F.count(F.lit(1)).alias("n_opened"))
    closed = (
        t.orders.filter(F.col("o_orderstatus") == "F")
        .groupBy(month.alias("m"))
        .agg(F.count(F.lit(1)).alias("n_closed"))
    )
    w = Window.orderBy("month").rowsBetween(Window.unboundedPreceding, 0)
    return (
        opened.join(F.broadcast(closed), "m", "left")
        .select(
            F.col("m").alias("month"),
            "n_opened",
            F.coalesce("n_closed", F.lit(0)).cast("long").alias("n_closed"),
        )
        .withColumn(
            "open_backlog",
            F.sum(F.col("n_opened") - F.col("n_closed")).over(w).cast("long"),
        )
    )


@query(
    "events_churn_rate",
    oracle="""
    WITH uw AS (SELECT DISTINCT user_id,
                       CAST(date_trunc('week', ts) AS DATE) AS w
                FROM events),
         sizes AS (SELECT w, count(*) AS n_active FROM uw GROUP BY w),
         retained AS (
             SELECT a.w AS prev_w, count(*) AS n_retained
             FROM uw a JOIN uw b ON a.user_id = b.user_id
                                AND b.w = a.w + INTERVAL 7 DAYS
             GROUP BY a.w
         )
    SELECT s.w AS week, s.n_active,
           CAST(coalesce(r.n_retained, 0) AS BIGINT) AS n_retained_next,
           round((s.n_active - coalesce(r.n_retained, 0)) * 1.0 / s.n_active, 6)
               AS churn_rate
    FROM sizes s LEFT JOIN retained r ON s.w = r.prev_w
    """,
)
def events_churn_rate(t: Tables) -> DataFrame:
    """Week-over-week churn: of each week's active users, the fraction
    absent the following week — the growth metric cohort retention
    (etl_cohort_retention) generalizes, reported as the simple rolling
    series a dashboard wants. The membership self-join is keyed on
    user_id (pair expansion bounded by weeks-per-user); week arithmetic
    is date-exact on both sides."""
    uw = t.events.select(
        "user_id", F.to_date(F.date_trunc("week", F.col("ts"))).alias("w")
    ).distinct()
    sizes = uw.groupBy("w").agg(F.count(F.lit(1)).alias("n_active"))
    a = uw.select(F.col("user_id").alias("ua"), F.col("w").alias("prev_w"))
    b = uw.select(F.col("user_id").alias("ub"), F.col("w").alias("next_w"))
    retained = (
        a.join(
            b,
            (F.col("ua") == F.col("ub"))
            & (F.col("next_w") == F.date_add(F.col("prev_w"), 7)),
        )
        .groupBy("prev_w")
        .agg(F.count(F.lit(1)).alias("n_retained"))
    )
    return (
        sizes.join(F.broadcast(retained), sizes.w == retained.prev_w, "left")
        .select(
            F.col("w").alias("week"),
            "n_active",
            F.coalesce("n_retained", F.lit(0)).cast("long").alias("n_retained_next"),
            F.round(
                (F.col("n_active") - F.coalesce("n_retained", F.lit(0)))
                * 1.0
                / F.col("n_active"),
                6,
            ).alias("churn_rate"),
        )
    )


@query(
    "events_active_users_rolling",
    oracle="""
    WITH ud AS (SELECT DISTINCT user_id,
                       CAST(date_trunc('day', ts) AS DATE) AS d
                FROM events),
         bounds AS (SELECT min(d) AS lo, max(d) AS hi FROM ud),
         dau AS (SELECT d, count(*) AS dau FROM ud GROUP BY d),
         support AS (
             SELECT user_id, unnest(generate_series(d, least(d + 6,
                        (SELECT hi FROM bounds)), INTERVAL 1 DAY)) AS cd
             FROM ud
         ),
         wau AS (SELECT CAST(cd AS DATE) AS d, count(DISTINCT user_id) AS wau
                 FROM support GROUP BY 1)
    SELECT dau.d AS day, dau.dau, wau.wau
    FROM dau JOIN wau ON dau.d = wau.d
    WHERE dau.d >= (SELECT lo FROM bounds) + INTERVAL 6 DAYS
    """,
)
def events_active_users_rolling(t: Tables) -> DataFrame:
    """DAU and trailing-7-day WAU per day — the canonical engagement
    pair. Rolling DISTINCT doesn't merge across days, so WAU uses the
    support-explosion rewrite: each (user, day) membership emits the ≤7
    future days it supports, then one distinct-count per day — shuffle
    volume is 7× the membership table (compact: two int-ish columns),
    never a per-day rescan. Days before a full 7-day history are
    excluded (partial windows misread as drops). The HLL tier
    (sketch_hll_rollup) is the wide-window/high-cardinality swap."""
    ud = t.events.select(
        "user_id", F.to_date(F.date_trunc("day", F.col("ts"))).alias("d")
    ).distinct()
    bounds = ud.agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
    dau = ud.groupBy("d").agg(F.count(F.lit(1)).alias("dau"))
    support = (
        ud.crossJoin(F.broadcast(bounds))
        .select(
            "user_id",
            F.explode(
                F.sequence(
                    F.col("d"), F.least(F.date_add(F.col("d"), 6), F.col("hi"))
                )
            ).alias("cd"),
        )
    )
    wau = support.groupBy(F.col("cd").alias("d")).agg(
        F.countDistinct("user_id").alias("wau")
    )
    return (
        dau.join(wau, "d")
        .crossJoin(F.broadcast(bounds))
        .filter(F.col("d") >= F.date_add(F.col("lo"), 6))
        .select(F.col("d").alias("day"), "dau", "wau")
    )


@query(
    "events_ab_test",
    oracle="""
    WITH assign AS (
        SELECT DISTINCT user_id,
               CASE WHEN ((user_id % 100000) * 2654435761) % 100 < 50 THEN 'A' ELSE 'B' END
                   AS variant
        FROM events
    ),
    conv AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'),
    rates AS (
        SELECT variant,
               count(*) AS n_users,
               CAST(sum(CASE WHEN conv.user_id IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_converted
        FROM assign LEFT JOIN conv ON assign.user_id = conv.user_id
        GROUP BY variant
    )
    SELECT a.n_users AS n_users_a, a.n_converted AS n_conv_a,
           b.n_users AS n_users_b, b.n_converted AS n_conv_b,
           round(a.n_converted * 1.0 / a.n_users, 6) AS rate_a,
           round(b.n_converted * 1.0 / b.n_users, 6) AS rate_b,
           round((b.n_converted * 1.0 / b.n_users)
                 / (a.n_converted * 1.0 / a.n_users) - 1.0, 6) AS lift_b_vs_a
    FROM (SELECT * FROM rates WHERE variant = 'A') a
    CROSS JOIN (SELECT * FROM rates WHERE variant = 'B') b
    """,
)
def events_ab_test(t: Tables) -> DataFrame:
    """A/B experiment readout: deterministic 50/50 variant assignment by
    multiplicative user-id hash (the sample_stratified arithmetic — NO
    rand(): assignment is reproducible across engines, runs, and late
    re-analysis), purchase-conversion rates per arm, and relative lift.
    The two one-row arms cross-join into the single comparison row a
    decision memo quotes. Significance testing is a client-side lookup
    on these sufficient statistics (n, conversions per arm) — the
    engine's job ends at exact counts.

    Arm hash (shared verbatim by events_ab_cuped / events_welch_ttest /
    events_quantile_treatment_effect and their oracles): user_id is
    masked to < 1e5 BEFORE the Knuth multiply (ADVICE r7) — the raw
    product overflows BIGINT for user_id >~ 3.5e9, where DuckDB raises
    while Spark silently wraps, so the engines would diverge exactly on
    web-scale id spaces. The mask is an identity for fixture-scale ids
    (assignment unchanged) and assumes non-negative user ids (pmod vs %
    differ on negatives)."""
    assign = (
        t.events.select("user_id")
        .distinct()
        .select(
            "user_id",
            F.when(
                F.pmod(F.pmod(F.col("user_id"), F.lit(100000)) * F.lit(2654435761), F.lit(100)) < 50, "A"
            )
            .otherwise("B")
            .alias("variant"),
        )
    )
    conv = (
        t.events.filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("cu"))
        .distinct()
    )
    rates = (
        assign.join(F.broadcast(conv), assign.user_id == conv.cu, "left")
        .groupBy("variant")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum(F.when(F.col("cu").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_converted"),
        )
    )
    a = rates.filter(F.col("variant") == "A").select(
        F.col("n_users").alias("n_users_a"), F.col("n_converted").alias("n_conv_a")
    )
    b = rates.filter(F.col("variant") == "B").select(
        F.col("n_users").alias("n_users_b"), F.col("n_converted").alias("n_conv_b")
    )
    ra = F.col("n_conv_a") * 1.0 / F.col("n_users_a")
    rb = F.col("n_conv_b") * 1.0 / F.col("n_users_b")
    return a.crossJoin(b).select(
        "n_users_a",
        "n_conv_a",
        "n_users_b",
        "n_conv_b",
        F.round(ra, 6).alias("rate_a"),
        F.round(rb, 6).alias("rate_b"),
        F.round(rb / ra - 1.0, 6).alias("lift_b_vs_a"),
    )


@query(
    "events_ks_test",
    oracle="""
    WITH s AS (
        SELECT CASE WHEN ((user_id % 100000) * 2654435761) % 100 < 50 THEN 'A' ELSE 'B' END
                   AS variant,
               value
        FROM events
        WHERE value IS NOT NULL
    ),
    n AS (
        SELECT CAST(coalesce(sum(CASE WHEN variant = 'A' THEN 1 ELSE 0 END), 0)
                    AS BIGINT) AS n_a,
               CAST(coalesce(sum(CASE WHEN variant = 'B' THEN 1 ELSE 0 END), 0)
                    AS BIGINT) AS n_b
        FROM s
    ),
    d AS (
        SELECT value,
               sum(CASE WHEN variant = 'A' THEN 1 ELSE 0 END) AS da,
               sum(CASE WHEN variant = 'B' THEN 1 ELSE 0 END) AS db
        FROM s GROUP BY value
    ),
    c AS (
        SELECT sum(da) OVER (ORDER BY value) AS ca,
               sum(db) OVER (ORDER BY value) AS cb
        FROM d
    ),
    m AS (
        SELECT max(abs(ca * (SELECT n_b FROM n) - cb * (SELECT n_a FROM n)))
                   AS dnum
        FROM c
    )
    SELECT CASE WHEN n.n_a > 0 AND n.n_b > 0
                THEN round(CAST(m.dnum AS DOUBLE) / (n.n_a * n.n_b), 6)
           END AS ks_stat,
           n.n_a, n.n_b
    FROM n, m
    """,
)
def events_ks_test(t: Tables) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov statistic between the A/B arms'
    `value` distributions (same deterministic user-hash assignment as
    events_ab_test): D = max_x |F_A(x) - F_B(x)| — the DISTRIBUTIONAL
    readout conversion-rate tests can't see (an experiment that shifts
    the shape but not the mean moves D, not the rate). The max is
    computed over integer cross-products max|ca*n_b - cb*n_a| with ONE
    float division at the end, so there is no per-row float ECDF to
    drift between engines.

    Scale shape — the textbook KS needs a GLOBAL cumulative count, which
    naively is one unpartitioned window over the whole fact table (a
    single-task reducer; banned here). Instead: collapse ties with a
    value-keyed hash agg, then a distributed two-phase prefix sum —
    range-repartition by value, per-partition running sums under a
    partition-local window (bounded by construction: one shuffle
    partition), per-partition totals (≤ shuffle fan-out rows) prefix-
    summed under a partition-count-bounded window, broadcast back as
    offsets. Exact at any scale with no unbounded window; invariant
    under the shuffle fan-out because range buckets are contiguous and
    ascending in partition id (AQE may coalesce ADJACENT buckets, which
    preserves both)."""
    variant = F.when(
        F.pmod(F.pmod(F.col("user_id"), F.lit(100000)) * F.lit(2654435761), F.lit(100)) < 50, "A"
    ).otherwise("B")
    s = t.events.filter(F.col("value").isNotNull()).select(
        variant.alias("variant"), "value"
    )
    is_a = F.when(F.col("variant") == "A", 1).otherwise(0)
    is_b = F.when(F.col("variant") == "B", 1).otherwise(0)
    tot = s.agg(
        F.coalesce(F.sum(is_a), F.lit(0)).cast("long").alias("n_a"),
        F.coalesce(F.sum(is_b), F.lit(0)).cast("long").alias("n_b"),
    )
    d = (
        s.groupBy("value")
        .agg(F.sum(is_a).alias("da"), F.sum(is_b).alias("db"))
        .repartitionByRange("value")
        .withColumn("pid", F.spark_partition_id())
    )
    wp = (
        Window.partitionBy("pid")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    d = d.withColumn("ca_local", F.sum("da").over(wp)).withColumn(
        "cb_local", F.sum("db").over(wp)
    )
    totals = d.groupBy("pid").agg(F.sum("da").alias("ta"), F.sum("db").alias("tb"))
    wo = Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.select(
        "pid",
        F.coalesce(F.sum("ta").over(wo), F.lit(0)).alias("oa"),
        F.coalesce(F.sum("tb").over(wo), F.lit(0)).alias("ob"),
    )
    cum = d.join(F.broadcast(offsets), "pid").select(
        (F.col("ca_local") + F.col("oa")).alias("ca"),
        (F.col("cb_local") + F.col("ob")).alias("cb"),
    )
    dmax = (
        cum.crossJoin(F.broadcast(tot))
        .agg(
            F.max(
                F.abs(F.col("ca") * F.col("n_b") - F.col("cb") * F.col("n_a"))
            ).alias("dnum")
        )
    )
    return tot.crossJoin(dmax).select(
        F.when(
            (F.col("n_a") > 0) & (F.col("n_b") > 0),
            F.round(
                F.col("dnum").cast("double") / (F.col("n_a") * F.col("n_b")), 6
            ),
        ).alias("ks_stat"),
        "n_a",
        "n_b",
    )


@query(
    "events_pattern_match",
    oracle="""
    WITH s AS (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN lag(ts) OVER w IS NULL
                      OR ts - lag(ts) OVER w > INTERVAL 30 MINUTES
                    THEN 1 ELSE 0 END AS new_s
        FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s2 AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS sess
           FROM s),
    paths AS (SELECT user_id, sess,
                     string_agg(event_type, '>' ORDER BY ts, event_id) AS path
              FROM s2 GROUP BY user_id, sess)
    SELECT regexp_matches(path, 'view(>|$)')
             AND regexp_matches(path, 'view.*click')
             AND regexp_matches(path, 'view.*click.*purchase') AS full_funnel,
           regexp_matches(path, '(^|>)error(>|$)') AS saw_error,
           CAST(count(*) AS BIGINT) AS n_sessions
    FROM paths
    GROUP BY full_funnel, saw_error
    """,
)
def events_pattern_match(t: Tables) -> DataFrame:
    """Sequence-pattern matching over session paths — MATCH_RECOGNIZE-
    lite: sessionized event sequences rendered as path strings, then
    ordinary regexes classify them (ordered funnel completion, error
    presence). Spark lacks MATCH_RECOGNIZE; path-string + regex covers
    the ordered-containment class of patterns at the cost of one
    in-row string build per session (events_session_paths' plan), with
    the regex running in codegen. Patterns needing quantified time
    constraints escalate to events_funnel's explicit min-ts joins."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # exact-microsecond gap to match the oracle's INTERVAL comparison
    gap = F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)
    s = t.events.withColumn(
        "new_s", F.when(gap.isNull() | (gap > 1_800_000_000), 1).otherwise(0)
    ).withColumn("sess", F.sum("new_s").over(w))
    paths = (
        s.groupBy("user_id", "sess")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("ts", "event_id", "event_type"))
            ).alias("evs")
        )
        .select(
            F.concat_ws(">", F.transform(F.col("evs"), lambda x: x.event_type)).alias(
                "path"
            )
        )
    )
    full_funnel = (
        F.col("path").rlike("view(>|$)")
        & F.col("path").rlike("view.*click")
        & F.col("path").rlike("view.*click.*purchase")
    )
    saw_error = F.col("path").rlike("(^|>)error(>|$)")
    return paths.groupBy(
        full_funnel.alias("full_funnel"), saw_error.alias("saw_error")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_sessions"))


@query(
    "events_peak_detection",
    oracle="""
    WITH hourly AS (SELECT event_type, date_trunc('hour', ts) AS hr,
                           count(*) AS n
                    FROM events GROUP BY 1, 2),
         flanked AS (
             SELECT event_type, hr, n,
                    lag(n)  OVER w AS prev_n,
                    lead(n) OVER w AS next_n
             FROM hourly WINDOW w AS (PARTITION BY event_type ORDER BY hr)
         )
    SELECT event_type, hr AS peak_hour, CAST(n AS BIGINT) AS n_events
    FROM flanked
    WHERE prev_n IS NOT NULL AND next_n IS NOT NULL
      AND n > prev_n AND n > next_n AND n >= 7
    """,
)
def events_peak_detection(t: Tables) -> DataFrame:
    """Local-maximum peak detection over the hourly series per type
    (strictly above both neighbors, above an absolute floor) — the
    traffic-spike detector feeding capacity alerts. The lag/lead window
    walks the PRE-AGGREGATED hourly series (≤720 rows per type — the
    grain-reduce-first rule), endpoints excluded (undefined neighbors
    are not peaks)."""
    hourly = t.events.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hr")
    ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("event_type").orderBy("hr")
    flanked = hourly.select(
        "event_type",
        "hr",
        "n",
        F.lag("n").over(w).alias("prev_n"),
        F.lead("n").over(w).alias("next_n"),
    )
    return (
        flanked.filter(
            F.col("prev_n").isNotNull()
            & F.col("next_n").isNotNull()
            & (F.col("n") > F.col("prev_n"))
            & (F.col("n") > F.col("next_n"))
            & (F.col("n") >= 7)
        )
        .select("event_type", F.col("hr").alias("peak_hour"), F.col("n").cast("long").alias("n_events"))
    )


@query(
    "orders_seasonality_strength",
    oracle="""
    WITH monthly AS (
        SELECT year(o_orderdate) AS yr, month(o_orderdate) AS mon,
               sum(o_totalprice) AS rev
        FROM orders GROUP BY 1, 2
    ),
    g AS (SELECT avg(rev) AS grand_mean FROM monthly),
    cm AS (SELECT mon, avg(rev) AS mon_mean, count(*) AS n_m
           FROM monthly GROUP BY mon)
    SELECT round(sum(cm.n_m * pow(cm.mon_mean - g.grand_mean, 2))
                 / max(sum_tot.ss_total), 6) AS eta_squared,
           CAST(max(sum_tot.n_months) AS BIGINT) AS n_months
    FROM cm
    CROSS JOIN g
    CROSS JOIN (SELECT sum(pow(rev - (SELECT grand_mean FROM g), 2)) AS ss_total,
                       count(*) AS n_months
                FROM monthly) sum_tot
    """,
)
def orders_seasonality_strength(t: Tables) -> DataFrame:
    """Seasonality strength as variance explained (η² = between-month-of-
    year sum of squares / total sum of squares over the monthly revenue
    series): one number answering "does month-of-year matter here" —
    η²→0 means the calendar is noise, →1 means it dominates. The ANOVA
    decomposition runs entirely over the ~80-row monthly aggregate
    (grand mean and SS_total are one-row scalars); the fact-sized work
    is the single monthly hash agg."""
    monthly = t.orders.groupBy(
        F.year("o_orderdate").alias("yr"), F.month("o_orderdate").alias("mon")
    ).agg(F.sum("o_totalprice").alias("rev"))
    g = monthly.agg(F.avg("rev").alias("grand_mean"))
    cm = monthly.groupBy("mon").agg(
        F.avg("rev").alias("mon_mean"), F.count(F.lit(1)).alias("n_m")
    )
    tot = (
        monthly.crossJoin(F.broadcast(g))
        .agg(
            F.sum(F.pow(F.col("rev") - F.col("grand_mean"), 2)).alias("ss_total"),
            F.count(F.lit(1)).alias("n_months"),
        )
    )
    return (
        cm.crossJoin(F.broadcast(g))
        .crossJoin(F.broadcast(tot))
        .agg(
            F.round(
                F.sum(F.col("n_m") * F.pow(F.col("mon_mean") - F.col("grand_mean"), 2))
                / F.max("ss_total"),
                6,
            ).alias("eta_squared"),
            F.max("n_months").cast("long").alias("n_months"),
        )
    )


@query(
    "supplier_scorecard",
    oracle="""
    WITH per AS (
        SELECT l_suppkey,
               count(*) AS n_lines,
               sum(l_extendedprice * (1 - l_discount)) AS rev,
               sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS n_returned
        FROM lineitem GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, n_name AS nation,
           CAST(n_lines AS BIGINT) AS n_lines,
           round(rev, 2) AS revenue,
           round(n_returned * 1.0 / n_lines, 6) AS return_rate
    FROM per
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    ORDER BY round(rev, 2) DESC, s_suppkey LIMIT 20
    """,
)
def supplier_scorecard(t: Tables) -> DataFrame:
    """Supplier scorecard: top-20 suppliers by revenue with volume and
    return-rate — the multi-metric vendor-management report that
    composes a fact aggregate with two broadcast dims and a
    TakeOrderedAndProject cut (round-then-rank on the ordering
    revenue)."""
    per = t.lineitem.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"),
        F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0)).alias("n_returned"),
    )
    supp = t.supplier.join(
        F.broadcast(t.nation), F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey", "s_name", F.col("n_name").alias("nation"))
    return (
        per.join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            "nation",
            F.col("n_lines").cast("long").alias("n_lines"),
            F.round("rev", 2).alias("revenue"),
            F.round(F.col("n_returned") * 1.0 / F.col("n_lines"), 6).alias("return_rate"),
        )
        .orderBy(F.col("revenue").desc(), F.col("s_suppkey"))
        .limit(20)
    )


@query(
    "orders_size_histogram",
    oracle="""
    WITH per AS (SELECT l_orderkey, count(*) AS n_lines
                 FROM lineitem GROUP BY l_orderkey)
    SELECT CAST(n_lines AS BIGINT) AS lines_per_order,
           count(*) AS n_orders
    FROM per GROUP BY n_lines
    """,
)
def orders_size_histogram(t: Tables) -> DataFrame:
    """Order-size distribution (lines per order → order count): the
    grain-of-the-fact sanity histogram every model of the data starts
    from, and the two-level re-aggregation shape (first agg keyed on
    orderkey, second on its result — no second fact scan)."""
    per = t.lineitem.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("n_lines"))
    return per.groupBy(F.col("n_lines").cast("long").alias("lines_per_order")).agg(
        F.count(F.lit(1)).alias("n_orders")
    )


@query(
    "win_rank_delta",
    oracle="""
    WITH monthly AS (
        SELECT p_brand, year(o_orderdate) AS yr, month(o_orderdate) AS mon,
               sum(l_extendedprice * (1 - l_discount)) AS rev
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN part ON l_partkey = p_partkey
        WHERE o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
          AND o_orderdate <  TIMESTAMP '2000-03-01 00:00:00'
        GROUP BY 1, 2, 3
    ),
    ranked AS (
        SELECT p_brand, mon,
               row_number() OVER (PARTITION BY yr, mon
                                  ORDER BY round(rev, 2) DESC, p_brand) AS rk
        FROM monthly
    )
    SELECT a.p_brand,
           CAST(a.rk AS BIGINT) AS rank_jan,
           CAST(b.rk AS BIGINT) AS rank_feb,
           CAST(a.rk - b.rk AS BIGINT) AS rank_gain
    FROM (SELECT * FROM ranked WHERE mon = 1) a
    JOIN (SELECT * FROM ranked WHERE mon = 2) b ON a.p_brand = b.p_brand
    """,
)
def win_rank_delta(t: Tables) -> DataFrame:
    """Leaderboard movement: brand revenue rank in February vs January
    2000 and the gain — the rank-change tracking behind trending
    reports. Ranks are month-partitioned (bounded by brand count) over
    ROUNDED revenue with a brand tie-break (round-then-rank); the two
    month slices self-join on brand."""
    monthly = (
        t.lineitem.join(t.orders.select("o_orderkey", "o_orderdate"),
                        F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(t.part.select("p_partkey", "p_brand")),
              F.col("l_partkey") == F.col("p_partkey"))
        .filter(
            (F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("2000-03-01").cast("timestamp"))
        )
        .groupBy("p_brand", F.year("o_orderdate").alias("yr"), F.month("o_orderdate").alias("mon"))
        .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"))
    )
    w = Window.partitionBy("yr", "mon").orderBy(F.round("rev", 2).desc(), F.col("p_brand"))
    ranked = monthly.withColumn("rk", F.row_number().over(w))
    a = ranked.filter(F.col("mon") == 1).select("p_brand", F.col("rk").alias("rank_jan"))
    b = ranked.filter(F.col("mon") == 2).select(
        F.col("p_brand").alias("pb"), F.col("rk").alias("rank_feb")
    )
    return (
        a.join(b, a.p_brand == b.pb)
        .select(
            "p_brand",
            F.col("rank_jan").cast("long").alias("rank_jan"),
            F.col("rank_feb").cast("long").alias("rank_feb"),
            (F.col("rank_jan") - F.col("rank_feb")).cast("long").alias("rank_gain"),
        )
    )


@query(
    "events_autocorr",
    oracle="""
    WITH d AS (
        SELECT date_trunc('day', ts) AS day, CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1
    )
    SELECT CAST((SELECT count(*) FROM d) AS BIGINT) AS n_days,
           round((SELECT corr(a.n, b.n) FROM d a
                  JOIN d b ON a.day = b.day + INTERVAL 1 DAY), 6) AS r_lag1,
           round((SELECT corr(a.n, b.n) FROM d a
                  JOIN d b ON a.day = b.day + INTERVAL 7 DAY), 6) AS r_lag7
    """,
)
def events_autocorr(t: Tables) -> DataFrame:
    """Autocorrelation of the daily event-count series at lag 1 and lag
    7 — the two numbers that say 'is traffic momentum-driven or
    weekly-seasonal' (high r_lag7 + low r_lag1 = weekday pattern). Lag
    pairs come from a DATE-SHIFT SELF-JOIN, not a row-offset window:
    calendar gaps must break a pair, and lag()-over-rows would silently
    pair Friday with Monday across a missing weekend.

    100 TB shape: the fact table collapses to the tiny daily grain FIRST
    (one partial/final hash agg — the only fact-sized work); the lag
    joins and Pearson aggregates run over that day-count table (≤ a few
    thousand rows at any horizon), and the three 1-row legs combine by
    broadcast. Pearson corr is scale-invariant, so sample-vs-population
    variance conventions cancel — safe cross-engine to 6dp."""
    daily = t.events.groupBy(F.date_trunc("day", F.col("ts")).alias("day")).agg(
        F.count(F.lit(1)).alias("n")
    )
    n_days = daily.agg(F.count(F.lit(1)).cast("long").alias("n_days"))

    def lag_corr(lag_days: int, out: str) -> DataFrame:
        cur = daily.select(F.col("day").alias("d_cur"), F.col("n").alias("n_cur"))
        prev = daily.select(
            (F.col("day") + F.expr(f"INTERVAL {lag_days} DAYS")).alias("d_cur"),
            F.col("n").alias("n_prev"),
        )
        return cur.join(prev, "d_cur").agg(
            F.round(F.corr("n_cur", "n_prev"), 6).alias(out)
        )

    return (
        n_days.crossJoin(F.broadcast(lag_corr(1, "r_lag1")))
        .crossJoin(F.broadcast(lag_corr(7, "r_lag7")))
    )


@query(
    "orders_cohort_ltv",
    oracle="""
    WITH first_order AS (
        SELECT o_custkey, date_trunc('month', min(o_orderdate)) AS cohort
        FROM orders GROUP BY o_custkey
    ),
    cohort_size AS (
        SELECT cohort, CAST(count(*) AS BIGINT) AS n_customers
        FROM first_order GROUP BY cohort
    ),
    rev AS (
        SELECT f.cohort,
               CAST(date_diff('month', f.cohort,
                              date_trunc('month', o.o_orderdate)) AS BIGINT) AS age,
               sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS month_cents
        FROM orders o JOIN first_order f ON o.o_custkey = f.o_custkey
        GROUP BY 1, 2
    )
    SELECT r.cohort, r.age, s.n_customers,
           CAST((2 * sum(r.month_cents) OVER (
               PARTITION BY r.cohort ORDER BY r.age
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) + s.n_customers) // (2 * s.n_customers) AS BIGINT) AS ltv_cents
    FROM rev r JOIN cohort_size s ON r.cohort = s.cohort
    """,
)
def orders_cohort_ltv(t: Tables) -> DataFrame:
    """Cumulative lifetime value curve per acquisition cohort: revenue
    accrued by each first-order-month cohort through month N, divided by
    cohort size — the money companion to etl_cohort_retention (reuses
    its cohort derivation verbatim so the two reports can never disagree
    on cohort membership).

    Shape mirrors the retention matrix: the fact-sized work is the two
    o_custkey-co-partitioned aggregates; the running sum's window
    partitions by cohort over the tiny (cohort, age) matrix with an
    explicit ROWS frame (ties impossible — age is unique per cohort
    after the agg). Money accumulates as EXACT INTEGER CENTS (the
    etl_cdc_apply rule) — a double cumsum drifts across engines and a
    2dp round at the edge exposes it; with long cents every engine sees
    the identical dividend, and the per-customer LTV leaves as EXACT
    half-up integer cents (floor((2*cum + n) / 2n)) — a float division
    plus 2dp round at the edge was measured to flip ties between
    Spark's BigDecimal rounding and DuckDB's scaled-multiply rounding.
    Display layers divide by 100."""
    first_order = t.orders.groupBy("o_custkey").agg(
        F.date_trunc("month", F.min("o_orderdate")).alias("cohort")
    )
    size = first_order.groupBy("cohort").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers")
    )
    rev = (
        t.orders.join(first_order, "o_custkey")
        .groupBy(
            "cohort",
            F.months_between(
                F.date_trunc("month", "o_orderdate"), F.col("cohort")
            ).cast("long").alias("age"),
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")).alias(
                "month_cents"
            )
        )
    )
    w = (
        Window.partitionBy("cohort")
        .orderBy("age")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        rev.join(F.broadcast(size), "cohort")
        .select(
            "cohort",
            "age",
            "n_customers",
            # exact long intdiv: (d - d % m) is an exact multiple of m,
            # so the one double division is exact (quotient << 2^53) —
            # floor(double-div) alone can misround near-integer quotients
            (
                (
                    (2 * F.sum("month_cents").over(w) + F.col("n_customers"))
                    - (2 * F.sum("month_cents").over(w) + F.col("n_customers"))
                    % (2 * F.col("n_customers"))
                )
                / (2 * F.col("n_customers"))
            ).cast("long").alias("ltv_cents"),
        )
    )


@query(
    "events_stickiness",
    oracle="""
    WITH dau AS (
        SELECT date_trunc('month', ts) AS month, date_trunc('day', ts) AS day,
               CAST(count(DISTINCT user_id) AS BIGINT) AS dau
        FROM events GROUP BY 1, 2
    ),
    mau AS (
        SELECT date_trunc('month', ts) AS month,
               CAST(count(DISTINCT user_id) AS BIGINT) AS mau
        FROM events GROUP BY 1
    )
    SELECT d.month,
           CAST(count(*) AS BIGINT)        AS n_days,
           round(avg(d.dau), 4)            AS avg_dau,
           m.mau,
           round(avg(d.dau) / m.mau, 6)    AS stickiness
    FROM dau d JOIN mau m ON d.month = m.month
    GROUP BY d.month, m.mau
    """,
)
def events_stickiness(t: Tables) -> DataFrame:
    """DAU/MAU stickiness per month — the engagement ratio every growth
    dashboard leads with (1.0 = every monthly user shows up daily).
    Distinct-user counts run at BOTH grains as separate exact
    count-distinct aggregates: a single pass cannot produce both (a
    user active 5 days is 5 DAU contributions but 1 MAU), and the two
    shuffles both key on (date-grain, user) so they co-partition with
    every other user-keyed stage.

    At 100 TB exact count-distinct per (day, user) is the expensive
    honest tier; the documented cheap tier is sketch_hll_rollup's HLL
    union (DAU sketches union into MAU for free). Ratio rounded at
    6dp from exact integer inputs (identical division operands both
    engines)."""
    dau = t.events.groupBy(
        F.date_trunc("month", "ts").alias("month"),
        F.date_trunc("day", "ts").alias("day"),
    ).agg(F.count_distinct("user_id").cast("long").alias("dau"))
    mau = t.events.groupBy(F.date_trunc("month", "ts").alias("month")).agg(
        F.count_distinct("user_id").cast("long").alias("mau")
    )
    return (
        dau.join(F.broadcast(mau), "month")
        .groupBy("month", "mau")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            F.round(F.avg("dau"), 4).alias("avg_dau"),
            F.round(F.avg("dau") / F.col("mau"), 6).alias("stickiness"),
        )
        .select("month", "n_days", "avg_dau", "mau", "stickiness")
    )


@query(
    "text_zipf_fit",
    oracle="""
    WITH tf AS (
        SELECT w, CAST(count(*) AS BIGINT) AS freq
        FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        WHERE w <> '' GROUP BY w
    ),
    ranked AS (
        SELECT w, freq,
               row_number() OVER (ORDER BY freq DESC, w) AS rk
        FROM tf
        ORDER BY freq DESC, w LIMIT 1000
    )
    SELECT CAST(count(*) AS BIGINT)                    AS n_terms,
           round(regr_slope(ln(freq), ln(rk)), 6)      AS zipf_slope,
           round(regr_r2(ln(freq), ln(rk)), 6)         AS fit_r2
    FROM ranked
    """,
)
def text_zipf_fit(t: Tables) -> DataFrame:
    """Zipf's-law fit over the top-1000 terms: OLS slope of log-freq vs
    log-rank (natural text ≈ −1; a slope collapsing toward 0 or −3 is a
    classic symptom of boilerplate floods or tokenizer breakage —
    corpus-health canary material). Single-pass regr_* sufficient
    statistics (the agg_regression rule), 6dp verified.

    Plan: explode → term hash agg (the fact-sized work), then
    TakeOrderedAndProject keeps exactly 1000 rows BEFORE the rank
    window (round-then-rank discipline: the window is bounded and
    tie-pinned by term, never a global sort of the vocabulary)."""
    tf = (
        t.documents.select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
    )
    top = tf.orderBy(F.desc("freq"), F.asc("w")).limit(1000)
    ranked = top.withColumn(
        "rk", F.row_number().over(Window.orderBy(F.desc("freq"), F.asc("w")))
    )
    return ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n_terms"),
        F.round(F.regr_slope(F.log("freq"), F.log("rk")), 6).alias("zipf_slope"),
        F.round(F.regr_r2(F.log("freq"), F.log("rk")), 6).alias("fit_r2"),
    )


@query(
    "events_ab_cuped",
    oracle="""
    WITH per_user AS (
        SELECT user_id,
               user_id % 2 AS arm,
               sum(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
                        THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS x,
               sum(CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00'
                        THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS y
        FROM events GROUP BY user_id
    ),
    g AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT)  AS sx,
               CAST(sum(y) AS BIGINT)  AS sy,
               CAST(sum(x * x) AS BIGINT) AS sxx,
               CAST(sum(x * y) AS BIGINT) AS sxy
        FROM per_user
    ),
    th AS (
        SELECT n, sx,
               (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
               / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) AS theta
        FROM g
    )
    SELECT arm,
           CAST(count(*) AS BIGINT) AS n_users,
           round(sum(y) / 100.0 / count(*), 4) AS mean_post,
           round((sum(y) * 1.0 / count(*)
                  - theta * (sum(x) * 1.0 / count(*)
                             - CAST(th.sx AS DOUBLE) / th.n)) / 100.0, 4)
               AS mean_post_cuped,
           round(theta, 6) AS theta
    FROM per_user CROSS JOIN th
    GROUP BY arm, theta, th.sx, th.n
    """,
)
def events_ab_cuped(t: Tables) -> DataFrame:
    """CUPED variance reduction for A/B readouts (Deng et al. 2013, the
    industry-standard trick): adjust each user's experiment-period
    metric Y by their PRE-period covariate X — Y' = Y − θ(X − X̄) with
    θ = cov(X,Y)/var(X) — removing the between-user variance X already
    explains, so the same experiment detects smaller effects. Arms are
    the user_id parity split (deterministic); the pre/post boundary is
    mid-fixture.

    Cross-engine discipline (the orders_cohort_ltv lesson extended to
    second moments): per-user X, Y are EXACT integer cents, and θ is
    derived from exact integer sufficient statistics (n, Σx, Σy, Σxx,
    Σxy — int64 sums) through the IDENTICAL arithmetic expression on
    both sides, so every engine computes bit-identical doubles before
    the single edge round. covar_samp/var_samp built-ins were
    deliberately avoided: their internal accumulation orders differ
    between engines.

    Plan: one user-keyed hash agg (the only fact-sized work), a 1-row
    sufficient-statistics broadcast, and a 2-row arm agg."""
    cents = F.round(F.col("value") * 100, 0).cast("long")
    cut = F.lit("2024-01-16").cast("timestamp")
    per_user = t.events.groupBy("user_id").agg(
        F.sum(F.when(F.col("ts") < cut, cents).otherwise(F.lit(0))).alias("x"),
        F.sum(F.when(F.col("ts") >= cut, cents).otherwise(F.lit(0))).alias("y"),
    ).withColumn("arm", F.col("user_id") % 2)
    g = per_user.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
    )
    th = g.select(
        "n",
        "sx",
        (
            (F.col("n").cast("double") * F.col("sxy") - F.col("sx").cast("double") * F.col("sy"))
            / (F.col("n").cast("double") * F.col("sxx") - F.col("sx").cast("double") * F.col("sx"))
        ).alias("theta"),
    )
    return (
        per_user.crossJoin(F.broadcast(th))
        .groupBy("arm", "theta", "sx", "n")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            (F.sum("y") / 100.0 / F.count(F.lit(1))).alias("_mp"),
            (
                (
                    F.sum("y") * F.lit(1.0) / F.count(F.lit(1))
                    - F.col("theta")
                    * (
                        F.sum("x") * F.lit(1.0) / F.count(F.lit(1))
                        - F.col("sx").cast("double") / F.col("n")
                    )
                )
                / 100.0
            ).alias("_mpc"),
        )
        .select(
            "arm",
            "n_users",
            F.round("_mp", 4).alias("mean_post"),
            F.round("_mpc", 4).alias("mean_post_cuped"),
            F.round("theta", 6).alias("theta"),
        )
    )


@query(
    "events_attribution",
    oracle="""
    WITH p AS (
        SELECT user_id, event_id AS purchase_id, ts AS p_ts
        FROM events WHERE event_type = 'purchase'
    ),
    c AS (
        SELECT user_id, event_type, ts AS c_ts
        FROM events WHERE event_type <> 'purchase'
    ),
    attributed AS (
        SELECT purchase_id, event_type AS touch_type, c_ts,
               row_number() OVER (PARTITION BY purchase_id
                                  ORDER BY c_ts DESC, event_type) AS rn
        FROM p JOIN c ON p.user_id = c.user_id
                     AND c.c_ts <= p.p_ts
                     AND c.c_ts >= p.p_ts - INTERVAL 1 HOUR
    )
    SELECT touch_type,
           CAST(count(*) AS BIGINT) AS n_purchases
    FROM attributed WHERE rn = 1
    GROUP BY touch_type
    """,
)
def events_attribution(t: Tables) -> DataFrame:
    """Last-touch attribution: each purchase credits the most recent
    non-purchase event by the same user within a 1-hour lookback — the
    marketing-analytics join that decides budget allocation. This is an
    as-of join (join_asof's machinery) with an aggregation on the
    attributed touch type; ties at the same timestamp break by
    event_type so credit assignment is total-ordered.

    At 100 TB: the purchase↔touch pairing shuffles both sides on
    user_id once (co-partitioned with every other user-keyed stage);
    the lookback bound keeps per-purchase candidate sets small, and the
    rank window partitions by purchase_id — high cardinality, never
    global. The 1-hour window is the state bound that makes the
    streaming twin (streaming_interval_join) expirable."""
    p = t.events.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), F.col("ts").alias("p_ts")
    )
    c = t.events.filter(F.col("event_type") != "purchase").select(
        F.col("user_id").alias("c_user"),
        F.col("event_type").alias("touch_type"),
        F.col("ts").alias("c_ts"),
    )
    pairs = p.join(
        c,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR")),
    )
    w = Window.partitionBy("purchase_id").orderBy(F.desc("c_ts"), F.asc("touch_type"))
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .groupBy("touch_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n_purchases"))
    )


@query(
    "orders_repeat_rate",
    oracle="""
    WITH fo AS (
        SELECT o_custkey, min(o_orderdate) AS first_dt FROM orders
        GROUP BY o_custkey
    )
    SELECT date_trunc('month', o_orderdate) AS month,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CASE WHEN o_orderdate > first_dt THEN 1 ELSE 0 END)
                AS BIGINT) AS n_repeat,
           round(sum(CASE WHEN o_orderdate > first_dt THEN 1 ELSE 0 END)
                 * 1.0 / count(*), 6) AS repeat_rate
    FROM orders JOIN fo USING (o_custkey)
    GROUP BY 1
    """,
)
def orders_repeat_rate(t: Tables) -> DataFrame:
    """Monthly repeat-purchase rate: share of each month's orders placed
    by customers past their first order date — the loyalty KPI between
    the cohort matrix (who comes back) and LTV (what they're worth).
    An order ties the first-order date it EXCEEDS, so a customer's
    first-ever order counts as new and every later one as repeat,
    including more orders in the first month.

    One o_custkey-co-partitioned first-date aggregate joined back on
    the same key (no second shuffle), then a tiny month agg. Ratio from
    exact integer counts, rounded once."""
    fo = t.orders.groupBy("o_custkey").agg(F.min("o_orderdate").alias("first_dt"))
    rep = F.when(F.col("o_orderdate") > F.col("first_dt"), 1).otherwise(0)
    return (
        t.orders.join(fo, "o_custkey")
        .groupBy(F.date_trunc("month", "o_orderdate").alias("month"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum(rep).cast("long").alias("n_repeat"),
            F.round(F.sum(rep) * F.lit(1.0) / F.count(F.lit(1)), 6).alias("repeat_rate"),
        )
    )


@query(
    "events_session_stats",
    oracle="""
    WITH s AS (
        SELECT user_id, ts, event_id,
               CASE WHEN lag(ts) OVER w IS NULL
                      OR ts - lag(ts) OVER w > INTERVAL 30 MINUTES
                    THEN 1 ELSE 0 END AS new_s
        FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s2 AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS sess
           FROM s),
    per_session AS (
        SELECT user_id, sess,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(date_diff('second', min(ts), max(ts)) AS BIGINT)
                   AS duration_s
        FROM s2 GROUP BY user_id, sess
    )
    SELECT CAST(count(*) AS BIGINT)                      AS n_sessions,
           CAST(count(DISTINCT user_id) AS BIGINT)       AS n_users,
           round(avg(n_events), 4)                       AS avg_events,
           CAST(max(n_events) AS BIGINT)                 AS max_events,
           round(avg(duration_s), 4)                     AS avg_duration_s,
           CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_bounce
    FROM per_session
    """,
)
def events_session_stats(t: Tables) -> DataFrame:
    """Session-level summary over 30-minute-gap sessionization: count,
    users, mean size/duration, and the bounce count (single-event
    sessions — THE engagement red flag) — the stats dashboard next to
    events_session_paths' path ranking, sharing the identical
    gaps-and-islands session derivation so the two reports agree on
    what a session IS.

    Same shape as every sessionization here: ONE user-keyed shuffle
    feeds both windows (the island-id window partitions by a prefix of
    the lag window's key — no second exchange), the per-session agg
    co-partitions, and the final summary is a 1-row reduce. Durations
    in exact integer seconds; only the means round.

    The 30-min gap compares EXACT microseconds (unix_micros diff >
    1_800_000_000) to match the oracle's `ts - lag(ts) > INTERVAL 30
    MINUTES` — a floor-second cast diff would split sessions differently
    from the oracle whenever a gap lands within ~1 s of the boundary,
    since every fixture timestamp carries sub-second precision."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = t.events.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
                > 1_800_000_000
            ),
            1,
        )
        .otherwise(0)
        .alias("new_s"),
    )
    s2 = s.withColumn(
        "sess",
        F.sum("new_s").over(
            Window.partitionBy("user_id").orderBy("ts", "event_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    per = s2.groupBy("user_id", "sess").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        (F.max(F.col("ts").cast("long")) - F.min(F.col("ts").cast("long")))
        .cast("long")
        .alias("duration_s"),
    )
    return per.agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions"),
        F.count_distinct("user_id").cast("long").alias("n_users"),
        F.round(F.avg("n_events"), 4).alias("avg_events"),
        F.max("n_events").cast("long").alias("max_events"),
        F.round(F.avg("duration_s"), 4).alias("avg_duration_s"),
        F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_bounce"),
    )


@query(
    "orders_fulfillment_lag",
    oracle="""
    SELECT date_trunc('month', o_orderdate) AS month,
           o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_lines,
           round(avg(date_diff('day', o_orderdate, l_shipdate)), 4)
               AS avg_lag_days,
           CAST(max(date_diff('day', o_orderdate, l_shipdate)) AS BIGINT)
               AS max_lag_days
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY 1, 2
    """,
)
def orders_fulfillment_lag(t: Tables) -> DataFrame:
    """Order-to-ship fulfillment lag by month and priority — the ops
    SLA view (is URGENT actually shipping faster, and is lag drifting
    month over month?). Day diffs are exact integers (date_diff on
    date-truncated timestamps); only the mean rounds.

    One orderkey join (the usual fact-fact shuffle, merge-pinned — the
    64 MB dim threshold otherwise broadcasts the orders projection at
    mid scale, measured 2x slower at 30x sf0.1; bucketed layout from
    join_bucketed_colocated removes the exchange where this runs daily)
    into a tiny (month, priority) hash agg."""
    lag_days = F.datediff(
        F.to_date("l_shipdate"), F.to_date("o_orderdate")
    ).cast("long")
    return (
        t.orders.hint("merge")
        .join(t.lineitem, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy(
            F.date_trunc("month", "o_orderdate").alias("month"),
            "o_orderpriority",
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            F.round(F.avg(lag_days), 4).alias("avg_lag_days"),
            F.max(lag_days).cast("long").alias("max_lag_days"),
        )
    )


@query(
    "agg_benford_test",
    oracle="""
    WITH cents AS (
        SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS c
        FROM orders WHERE o_totalprice > 0
    ),
    digits AS (
        SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1) AS BIGINT) AS digit
        FROM cents
    ),
    obs AS (SELECT digit, count(*) AS n_obs FROM digits GROUP BY digit),
    grid AS (
        SELECT d AS digit, ln(1.0 + 1.0 / d) / ln(10.0) AS exp_share
        FROM (SELECT unnest(generate_series(1, 9)) AS d)
    ),
    tot AS (SELECT sum(n_obs) AS n FROM obs)
    SELECT g.digit,
           CAST(coalesce(o.n_obs, 0) AS BIGINT)               AS n_obs,
           round(g.exp_share, 6)                              AS exp_share,
           round(coalesce(o.n_obs, 0) / (tot.n * 1.0), 6)     AS obs_share,
           round(power(coalesce(o.n_obs, 0) - tot.n * g.exp_share, 2)
                 / (tot.n * g.exp_share), 6)                  AS chi2_term
    FROM grid g LEFT JOIN obs o ON g.digit = o.digit, tot
    """,
)
def agg_benford_test(t: Tables) -> DataFrame:
    """Benford first-significant-digit test on order totals — the
    classic fabricated-data / fraud screen: organic multiplicative data
    follows P(d) = log10(1 + 1/d); fabricated or capped values don't.
    Per digit 1..9: observed count, expected share, observed share, and
    the chi-square term ((obs − n·p)² / n·p) — the 8-dof total is the
    sum over the 9 output rows.

    Determinism: the first digit comes from the INTEGER cents value via
    its decimal string (substr of CAST(bigint AS string) — identical in
    both engines), never from log10/pow of a double, whose boundary
    behavior at exact powers of ten is libm-dependent. The only floats
    are ln-ratio constants and the final terms, rounded at 6dp (the
    agg_chi_square precedent). The digit-1..9 grid is synthesized so
    digits with zero observations still emit their row (and an empty
    orders table emits the 9-row grid with n=0 → NULL-guarded terms).

    At 100 TB: one projection-only scan → 9-group hash agg with
    map-side partials; everything after runs on the 9-row frame (the
    1-row total broadcast is the allowlisted scalar pattern)."""
    cents = t.orders.filter(F.col("o_totalprice") > 0).select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("c")
    )
    obs = (
        cents.select(F.substring(F.col("c").cast("string"), 1, 1).cast("long").alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n_obs"))
    )
    grid = t.spark.range(1, 10).select(
        F.col("id").alias("digit"),
        (F.log(1.0 + 1.0 / F.col("id")) / F.log(F.lit(10.0))).alias("exp_share"),
    )
    tot = obs.agg(F.coalesce(F.sum("n_obs"), F.lit(0)).alias("n"))
    return (
        grid.join(obs, "digit", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "digit",
            F.coalesce("n_obs", F.lit(0)).cast("long").alias("n_obs"),
            F.round("exp_share", 6).alias("exp_share"),
            F.round(
                F.coalesce("n_obs", F.lit(0)) / (F.col("n") * F.lit(1.0)), 6
            ).alias("obs_share"),
            F.round(
                F.pow(F.coalesce("n_obs", F.lit(0)) - F.col("n") * F.col("exp_share"), 2)
                / (F.col("n") * F.col("exp_share")),
                6,
            ).alias("chi2_term"),
        )
    )


@query(
    "events_changepoint",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day, count(*) AS n_events
        FROM events GROUP BY 1
    ),
    tot AS (SELECT sum(n_events) AS t_all, count(*) AS n_days FROM daily),
    cus AS (
        SELECT day, n_events,
               CAST(tot.n_days * sum(n_events) OVER (ORDER BY day)
                    - row_number() OVER (ORDER BY day) * tot.t_all
                    AS BIGINT) AS cusum_scaled
        FROM daily, tot
    ),
    mark AS (
        SELECT *, row_number() OVER (ORDER BY abs(cusum_scaled) DESC, day) AS rk
        FROM cus
    )
    SELECT day, n_events, cusum_scaled, rk = 1 AS is_changepoint FROM mark
    """,
)
def events_changepoint(t: Tables) -> DataFrame:
    """CUSUM changepoint detection on the daily event-count series — the
    monitoring readout that localizes WHERE a level shift happened,
    where events_anomaly only flags outlier days. Standard CUSUM is
    S_i = Σ_{j≤i}(c_j − mean); this emits the EXACT integer scaling
    n·S_i = n·cumsum_i − i·T (n = day count, T = total events), so the
    series and its argmax are bit-identical across engines — no float
    mean, no division anywhere. The flagged day is the max |n·S_i| with
    earliest-day tie-break; a clean level shift at day k makes |S|
    peak exactly at k (pinned by a planted-shift test).

    Plan shape: one date-grouped hash agg with map-side partials is the
    only fact-scale work; the cumsum/rank windows are partition-less
    but run over the POST-AGGREGATE day series (bounded by the date
    span — tens of rows per year), and the totals ride a 1-row
    broadcast (the allowlisted scalar pattern)."""
    daily = t.events.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n_events")
    )
    tot = daily.agg(
        F.coalesce(F.sum("n_events"), F.lit(0)).alias("t_all"),
        F.count(F.lit(1)).alias("n_days"),
    )
    # bounded: post-aggregate day series, not fact rows
    wo = Window.orderBy("day")
    wc = wo.rowsBetween(Window.unboundedPreceding, 0)
    cus = daily.crossJoin(F.broadcast(tot)).select(
        "day",
        "n_events",
        (
            F.col("n_days") * F.sum("n_events").over(wc)
            - F.row_number().over(wo) * F.col("t_all")
        )
        .cast("long")
        .alias("cusum_scaled"),
    )
    # bounded: same day series (rank of |S| to mark the changepoint)
    rk = Window.orderBy(F.abs(F.col("cusum_scaled")).desc(), F.asc("day"))
    return cus.withColumn("rk", F.row_number().over(rk)).select(
        "day", "n_events", "cusum_scaled", (F.col("rk") == 1).alias("is_changepoint")
    )


@query(
    "events_cohort_survival",
    oracle="""
    WITH us AS (
        SELECT user_id, min(ts) AS f FROM events GROUP BY user_id
    ),
    fp AS (
        SELECT user_id, min(ts) AS p FROM events
        WHERE event_type = 'purchase' GROUP BY user_id
    ),
    hz AS (SELECT max(ts) AS h FROM events),
    per AS (
        SELECT CASE WHEN p IS NOT NULL
                    THEN datediff('day', CAST(f AS DATE), CAST(p AS DATE))
                    ELSE datediff('day', CAST(f AS DATE), CAST(h AS DATE))
               END AS t,
               CASE WHEN p IS NOT NULL THEN 1 ELSE 0 END AS death
        FROM us LEFT JOIN fp USING (user_id), hz
    ),
    grp AS (SELECT t, sum(death) AS d, count(*) AS m FROM per GROUP BY t),
    tot AS (SELECT sum(m) AS n_all FROM grp),
    risk AS (
        SELECT g.*, tot.n_all
               - coalesce(sum(m) OVER (ORDER BY t
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS n_risk
        FROM grp g, tot
    ),
    km AS (
        -- the final death time can absorb ALL remaining at-risk users:
        -- factor 0 means S=0 from there on, and ln(0) must never run
        SELECT *,
               CASE WHEN max(CASE WHEN d >= n_risk THEN 1 ELSE 0 END)
                         OVER (ORDER BY t) = 1
                    THEN 0.0
                    ELSE exp(sum(CASE WHEN d < n_risk
                                      THEN ln(1.0 - d * 1.0 / n_risk)
                                      ELSE 0.0 END) OVER (ORDER BY t))
               END AS s
        FROM risk
    )
    SELECT CAST(t AS BIGINT)       AS t_days,
           CAST(n_risk AS BIGINT)  AS n_risk,
           CAST(d AS BIGINT)       AS n_deaths,
           round(s, 6)             AS survival
    FROM km WHERE d > 0
    """,
)
def events_cohort_survival(t: Tables) -> DataFrame:
    """Kaplan–Meier time-to-conversion curve (public: Kaplan & Meier
    1958; the time-to-event primitive that etl_cohort_retention's
    fixed-grid matrix and events_conversion_lag's converters-only
    percentiles cannot express): the event is a user's FIRST PURCHASE,
    observed time = days from their first event to it; users with no
    purchase by the corpus horizon are CENSORED at the horizon — their
    at-risk exposure still counts, which is exactly the bias
    converters-only lag stats carry. (A wall-clock churn framing was
    measured degenerate here: the fixture's uniform activity gives
    every user a last event within 2 days of the horizon, zero deaths
    at every SF.) Per death time t: at-risk n_t (observed time ≥ t),
    deaths d_t, S(t) = Π_{u≤t}(1 − d_u/n_u).

    Engine parity: the product runs as exp(Σ ln(1 − d/n)) on BOTH sides
    — identical double operations in the same t-order — with the output
    rounded at 6dp (the agg_chi_square/ln precedent); censor-only times
    contribute ln(1)=0, so cumulating over ALL times and filtering to
    death rows afterwards is exact KM. All counts stay integers.

    Plan shape: two user-grouped hash aggs off the same scan (the
    purchase leg pushdown-filtered, user-keyed like every cohort
    stage) joined on user_id, a 1-row horizon broadcast (allowlisted
    scalar), then everything runs on the lag-grouped series — bounded
    by the day span, where the partition-less cumsum windows live."""
    us = t.events.groupBy("user_id").agg(F.min("ts").alias("f"))
    fp = (
        t.events.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("p"))
    )
    hz = t.events.agg(F.max("ts").alias("h"))
    per = (
        us.join(fp, "user_id", "left")
        .crossJoin(F.broadcast(hz))
        .select(
            F.when(
                F.col("p").isNotNull(),
                F.datediff(F.to_date("p"), F.to_date("f")),
            )
            .otherwise(F.datediff(F.to_date("h"), F.to_date("f")))
            .cast("long")
            .alias("t"),
            F.when(F.col("p").isNotNull(), F.lit(1)).otherwise(F.lit(0)).alias("death"),
        )
    )
    grp = per.groupBy("t").agg(
        F.sum("death").alias("d"), F.count(F.lit(1)).alias("m")
    )
    tot = grp.agg(F.coalesce(F.sum("m"), F.lit(0)).alias("n_all"))
    # bounded: lifetime-grouped series (≤ day span), not fact rows
    wo = Window.orderBy("t")
    wprev = wo.rowsBetween(Window.unboundedPreceding, -1)
    wcur = wo.rowsBetween(Window.unboundedPreceding, 0)
    risk = grp.crossJoin(F.broadcast(tot)).withColumn(
        "n_risk",
        F.col("n_all") - F.coalesce(F.sum("m").over(wprev), F.lit(0)),
    )
    # the final death time can absorb ALL remaining at-risk users:
    # factor 0 means S=0 from there on, and ln(0) must never run
    dead_all = F.when(F.col("d") >= F.col("n_risk"), F.lit(1)).otherwise(F.lit(0))
    ln_term = F.when(
        F.col("d") < F.col("n_risk"),
        F.log(1.0 - F.col("d") * 1.0 / F.col("n_risk")),
    ).otherwise(F.lit(0.0))
    km = risk.withColumn(
        "s",
        F.when(F.max(dead_all).over(wcur) == 1, F.lit(0.0)).otherwise(
            F.exp(F.sum(ln_term).over(wcur))
        ),
    )
    return km.filter(F.col("d") > 0).select(
        F.col("t").cast("long").alias("t_days"),
        F.col("n_risk").cast("long").alias("n_risk"),
        F.col("d").cast("long").alias("n_deaths"),
        F.round("s", 6).alias("survival"),
    )


@query(
    "events_ohlc_hourly",
    oracle="""
    WITH e AS (
        SELECT event_type, date_trunc('hour', ts) AS hour, ts, event_id, value
        FROM events
    ),
    rk AS (
        SELECT *,
               row_number() OVER (PARTITION BY event_type, hour
                                  ORDER BY ts, event_id) AS rn_a,
               row_number() OVER (PARTITION BY event_type, hour
                                  ORDER BY ts DESC, event_id DESC) AS rn_d
        FROM e
    )
    SELECT event_type, hour,
           max(CASE WHEN rn_a = 1 THEN value END) AS open,
           max(value)                             AS high,
           min(value)                             AS low,
           max(CASE WHEN rn_d = 1 THEN value END) AS close,
           count(*)                               AS n_events
    FROM rk GROUP BY event_type, hour
    """,
)
def events_ohlc_hourly(t: Tables) -> DataFrame:
    """OHLC downsampling (open/high/low/close per event type × hour) —
    the finance-standard candle aggregation, and the general pattern for
    first/last-in-window metrics. Open/close are exact ROW VALUES picked
    by the total order (ts, event_id) — never an arithmetic result — so
    no rounding is needed anywhere: both engines read the same parquet
    doubles and emit them bit-identical.

    Plan: ONE hash aggregate with map-side partials — open/close via
    min/max over struct(ts, event_id, value) (struct ordering is
    field-lexicographic, so the unique (ts, event_id) prefix decides and
    value rides along), high/low plain min/max. No window over the fact
    table; the oracle formulates the same semantics with rank windows,
    which is the proof the struct trick implements first/last correctly.
    At 100 TB this is the difference between one agg shuffle and a
    full-fact double-rank sort."""
    hour = F.date_trunc("hour", F.col("ts"))
    first_s = F.struct(F.col("ts"), F.col("event_id"), F.col("value"))
    return (
        t.events.groupBy("event_type", hour.alias("hour"))
        .agg(
            F.min(first_s).getField("value").alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max(first_s).getField("value").alias("close"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


@query(
    "win_drawdown",
    oracle="""
    WITH m AS (
        SELECT n_name, date_trunc('month', o_orderdate) AS month,
               CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
                    AS BIGINT) AS rev_c
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation   ON c_nationkey = n_nationkey
        GROUP BY 1, 2
    ),
    d AS (
        SELECT n_name, month, rev_c,
               max(rev_c) OVER (PARTITION BY n_name ORDER BY month
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND CURRENT ROW) AS run_peak_c
        FROM m
    ),
    t AS (
        SELECT n_name, month, rev_c, run_peak_c,
               run_peak_c - rev_c AS dd_c
        FROM d
        QUALIFY row_number() OVER (PARTITION BY n_name
                                   ORDER BY dd_c DESC, month ASC) = 1
    )
    SELECT t.n_name,
           CAST(cnt.n_months AS BIGINT)        AS n_months,
           cnt.peak_rev                        AS peak_rev,
           round(t.dd_c / 100.0, 2)            AS max_drawdown,
           CASE WHEN t.run_peak_c = 0 THEN 0.0
                ELSE round(t.dd_c * 1.0 / t.run_peak_c, 6)
           END                                 AS max_drawdown_pct,
           t.month                             AS trough_month
    FROM t
    JOIN (
        SELECT n_name, count(*) AS n_months,
               round(max(rev_c) / 100.0, 2) AS peak_rev
        FROM m GROUP BY n_name
    ) cnt USING (n_name)
    """,
)
def win_drawdown(t: Tables) -> DataFrame:
    """Maximum drawdown of each nation's monthly-revenue curve: running
    peak via a cumulative window, drawdown = peak − value, trough = the
    month of the deepest dip (earliest month on ties — pinned). The
    risk-report shape every KPI dashboard wants next to YoY growth.

    Scale plan: the fact pass is ONE partial-aggregated shuffle to the
    (nation, month) grid (~25 × n_months rows); every window below runs
    on that post-aggregate grid, partitioned by nation — bounded by the
    month calendar, never by fact rows. Revenue is summed in exact
    integer cents (per-row rounding like join_q10_returns) so the
    running peak and the trough CHOICE are sum-order-free; the two
    floats are final-projection roundings. Trough selection is one
    max(struct) hash agg — no second window, no self-join; the pct
    denominator is the running peak AT the trough, carried in the
    struct payload."""
    cents = F.floor(F.col("o_totalprice") * 100.0 + F.lit(0.5)).cast("long")
    m = (
        t.orders.join(
            F.broadcast(t.customer.select("c_custkey", "c_nationkey")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(t.nation.select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy("n_name", F.date_trunc("month", "o_orderdate").alias("month"))
        .agg(F.sum(cents).alias("rev_c"))
    )
    run = (
        Window.partitionBy("n_name")
        .orderBy("month")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    d = m.withColumn("run_peak_c", F.max("rev_c").over(run)).withColumn(
        "dd_c", F.col("run_peak_c") - F.col("rev_c")
    )
    # (dd_c, -epoch_day) lexicographic max = deepest dip, earliest month
    # on ties; run_peak_c/month ride along as payload (month is unique
    # per nation, so the key prefix is already total)
    pick = F.max(
        F.struct(
            F.col("dd_c"),
            (-F.unix_micros("month")).alias("neg_us"),
            F.col("run_peak_c"),
            F.col("month"),
        )
    ).alias("p")
    agg = d.groupBy("n_name").agg(
        pick,
        F.count(F.lit(1)).alias("n_months"),
        F.round(F.max("rev_c") / 100.0, 2).alias("peak_rev"),
    )
    dd_c, peak_c = F.col("p.dd_c"), F.col("p.run_peak_c")
    return agg.select(
        "n_name",
        "n_months",
        "peak_rev",
        F.round(dd_c / 100.0, 2).alias("max_drawdown"),
        F.when(peak_c == 0, F.lit(0.0))
        .otherwise(F.round(dd_c * 1.0 / peak_c, 6))
        .alias("max_drawdown_pct"),
        F.col("p.month").alias("trough_month"),
    )


@query(
    "events_welch_ttest",
    oracle="""
    WITH s AS (
        SELECT CASE WHEN ((user_id % 100000) * 2654435761) % 100 < 50 THEN 'A' ELSE 'B' END
                   AS variant,
               CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS ic
        FROM events
        WHERE value IS NOT NULL
    ),
    arms AS (
        -- Σx and Σx² in HUGEINT: exact at ANY value magnitude (the fuzz
        -- tier's 1e9-scale values overflow ic² in int64); Spark mirrors
        -- with decimal(38,0)
        SELECT variant, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(ic AS HUGEINT)) AS HUGEINT) AS s1,
               CAST(sum(CAST(ic AS HUGEINT) * ic) AS HUGEINT) AS s2
        FROM s GROUP BY variant
    ),
    w AS (
        -- variance via the all-integer form (n·Σx² − (Σx)²)/(n(n−1)):
        -- the numerator is one exact wide integer, converted to double
        -- ONCE (both engines round that same integer identically)
        SELECT
            a.n AS n_a, b.n AS n_b,
            a.s1 * 1.0 / a.n / 100.0 AS mean_a,
            b.s1 * 1.0 / b.n / 100.0 AS mean_b,
            (a.n * a.s2 - a.s1 * a.s1) * 1.0
                / (a.n * 1.0 * (a.n - 1)) / 10000.0 AS var_a,
            (b.n * b.s2 - b.s1 * b.s1) * 1.0
                / (b.n * 1.0 * (b.n - 1)) / 10000.0 AS var_b
        FROM (SELECT * FROM arms WHERE variant = 'A') a,
             (SELECT * FROM arms WHERE variant = 'B') b
        WHERE a.n >= 2 AND b.n >= 2
    )
    SELECT n_a, n_b,
           round(mean_a, 6) AS mean_a, round(mean_b, 6) AS mean_b,
           CASE WHEN var_a / n_a + var_b / n_b > 0
                THEN round((mean_a - mean_b)
                           / sqrt(var_a / n_a + var_b / n_b), 6)
           END AS t_stat,
           CASE WHEN (var_a / n_a) * (var_a / n_a) / (n_a - 1)
                   + (var_b / n_b) * (var_b / n_b) / (n_b - 1) > 0
                THEN round(
                    (var_a / n_a + var_b / n_b) * (var_a / n_a + var_b / n_b)
                    / ((var_a / n_a) * (var_a / n_a) / (n_a - 1)
                       + (var_b / n_b) * (var_b / n_b) / (n_b - 1)), 6)
           END AS welch_df
    FROM w
    """,
)
def events_welch_ttest(t: Tables) -> DataFrame:
    """Welch's unequal-variance two-sample t-test on event VALUES
    between the hash-assigned A/B arms — the mean-shift readout
    completing the experimentation family (events_ab_test: conversion
    rates; events_ks_test: full distribution; this: means under unequal
    variances, the default recommendation over Student's t). t and the
    Welch–Satterthwaite df are reported; the caller looks up p.

    Exactness discipline: values are per-row rounded to integer cents
    (the join_q10_returns rule), and the sufficient statistics
    (n, Σx, Σx²) accumulate in EXACT wide integers — decimal(38,0) on
    Spark, HUGEINT in DuckDB — so they are identical on both engines
    regardless of sum order, parallelism, or value magnitude (the fuzz
    tier's 1e9-scale values overflow Σx² in int64; found by
    fuzz_check before this key ever shipped). The variance numerator
    n·Σx² − (Σx)² is one exact integer converted to double once; all
    remaining float algebra is a deterministic 1-row expression.
    Zero-variance and single-row arms yield NULL (guarded identically
    on both sides — Spark's x/0→NULL is not portable). Scale: one
    map-side-combined hash agg to two rows, then scalar algebra; the
    2-row cross combine is the events_ab_test shape
    (BNLJ-allowlisted)."""
    ic = F.floor(F.col("value") * 100.0 + F.lit(0.5)).cast("long")
    s = t.events.filter(F.col("value").isNotNull()).select(
        F.when((F.pmod(F.col("user_id"), F.lit(100000)) * 2654435761) % 100 < 50, "A")
        .otherwise("B")
        .alias("variant"),
        ic.alias("ic"),
    )
    wide = F.col("ic").cast("decimal(19,0)")
    arms = s.groupBy("variant").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(wide).alias("s1"),
        F.sum(wide * wide).alias("s2"),
    )
    a = arms.filter(F.col("variant") == "A").select(
        F.col("n").alias("n_a"), F.col("s1").alias("s1a"), F.col("s2").alias("s2a")
    )
    b = arms.filter(F.col("variant") == "B").select(
        F.col("n").alias("n_b"), F.col("s1").alias("s1b"), F.col("s2").alias("s2b")
    )
    j = a.crossJoin(b).filter((F.col("n_a") >= 2) & (F.col("n_b") >= 2))
    mean_a = F.col("s1a").cast("double") / F.col("n_a") / 100.0
    mean_b = F.col("s1b").cast("double") / F.col("n_b") / 100.0
    var_a = (
        (F.col("n_a") * F.col("s2a") - F.col("s1a") * F.col("s1a")).cast("double")
        / (F.col("n_a") * 1.0 * (F.col("n_a") - 1))
        / 10000.0
    )
    var_b = (
        (F.col("n_b") * F.col("s2b") - F.col("s1b") * F.col("s1b")).cast("double")
        / (F.col("n_b") * 1.0 * (F.col("n_b") - 1))
        / 10000.0
    )
    se2 = var_a / F.col("n_a") + var_b / F.col("n_b")
    df_den = (var_a / F.col("n_a")) * (var_a / F.col("n_a")) / (F.col("n_a") - 1) + (
        var_b / F.col("n_b")
    ) * (var_b / F.col("n_b")) / (F.col("n_b") - 1)
    return j.select(
        "n_a",
        "n_b",
        F.round(mean_a, 6).alias("mean_a"),
        F.round(mean_b, 6).alias("mean_b"),
        F.when(se2 > 0, F.round((mean_a - mean_b) / F.sqrt(se2), 6)).alias("t_stat"),
        F.when(df_den > 0, F.round(se2 * se2 / df_den, 6)).alias("welch_df"),
    )


_HOLT_ALPHA, _HOLT_BETA, _HOLT_H = 0.3, 0.2, 3


@query(
    "win_holt_linear",
    oracle="""
    WITH RECURSIVE m AS (
        SELECT n_name, date_trunc('month', o_orderdate) AS month,
               CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
                    AS BIGINT) AS rev_c
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation   ON c_nationkey = n_nationkey
        GROUP BY 1, 2
    ),
    arr AS (
        SELECT n_name,
               -- CAST first: a bare /100.0 would build a DECIMAL list
               -- and run the whole fold in decimal arithmetic
               list(CAST(rev_c AS DOUBLE) / 100.0 ORDER BY month) AS ys
        FROM m GROUP BY n_name
        HAVING count(*) >= 2
    ),
    ini AS (
        -- l1 = a·y2 + (1−a)·(y1 + (y2−y1)); b1 = β·(l1−y1) + (1−β)·(y2−y1)
        SELECT n_name, ys, len(ys) AS n,
               0.3 * ys[2] + 0.7 * (ys[1] + (ys[2] - ys[1])) AS l1,
               0.2 * ((0.3 * ys[2] + 0.7 * (ys[1] + (ys[2] - ys[1]))) - ys[1])
                   + 0.8 * (ys[2] - ys[1]) AS b1
        FROM arr
    ),
    -- recursive unroll, NOT list_reduce: this DuckDB's (1.0.0)
    -- list_reduce mutates struct-accumulator fields IN PLACE during a
    -- step, so a later field reads another field's NEW value (probed:
    -- {'l': a.l+x.l, 'b': a.b+2*(a.l+x.l)} over 3 elements returns 124
    -- where left-fold semantics give 118). The recursive CTE has
    -- snapshot semantics by construction.
    f AS (
        SELECT n_name, ys, n, CAST(2 AS BIGINT) AS i,
               CAST(l1 AS DOUBLE) AS l, CAST(b1 AS DOUBLE) AS b
        FROM ini
        UNION ALL
        SELECT n_name, ys, n, i + 1,
               0.3 * ys[i + 1] + 0.7 * (l + b),
               0.2 * ((0.3 * ys[i + 1] + 0.7 * (l + b)) - l) + 0.8 * b
        FROM f WHERE i < n
    )
    SELECT n_name, CAST(n AS BIGINT) AS n_months,
           round(l, 6) AS level,
           round(b, 6) AS trend,
           round(l + 3 * b, 6) AS forecast_h3
    FROM f WHERE i = n
    """,
)
def win_holt_linear(t: Tables) -> DataFrame:
    """Holt's linear-trend exponential smoothing (double smoothing,
    public textbook method; α=0.3, β=0.2) over each nation's monthly
    revenue, with the 3-month-ahead forecast level + 3·trend — the
    capacity-planning readout one tier above win_ema_fold's single
    smoothing. Standard init: l₁ from the first two points, b₁ = y₂−y₁.

    The recursion is inherently sequential, so it runs as ONE in-row
    fold (F.aggregate / list_reduce) over the post-aggregate month
    series — both engines fold the SAME ordered double list in the same
    order, so the float trajectory is bit-identical; the fact pass is
    the win_drawdown shape (one partial-agg shuffle to the month grid,
    exact integer cents). Series length is calendar-bounded (~10³ per
    millennium), so the collected array is never fact-sized; nations
    with fewer than 2 months are excluded on both sides (no init
    exists). DuckDB's 2-arg list_reduce folds seed-prepend style —
    probed; the arithmetic is forced to DOUBLE on the oracle side
    (bare decimal literals would otherwise run the fold in DECIMAL)."""
    cents = F.floor(F.col("o_totalprice") * 100.0 + F.lit(0.5)).cast("long")
    m = (
        t.orders.join(
            F.broadcast(t.customer.select("c_custkey", "c_nationkey")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(t.nation.select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy("n_name", F.date_trunc("month", "o_orderdate").alias("month"))
        .agg((F.sum(cents) / 100.0).alias("y"))
    )
    arr = (
        m.groupBy("n_name")
        .agg(F.array_sort(F.collect_list(F.struct("month", "y"))).alias("pairs"))
        .filter(F.size("pairs") >= 2)
        .select("n_name", F.expr("transform(pairs, p -> p.y)").alias("ys"))
    )
    fold = F.expr(
        "aggregate("
        " slice(ys, 3, size(ys)),"
        " named_struct("
        "   'l', CAST(0.3 * element_at(ys, 2)"
        "        + 0.7 * (element_at(ys, 1)"
        "                 + (element_at(ys, 2) - element_at(ys, 1))) AS DOUBLE),"
        "   'b', CAST(0.2 * ((0.3 * element_at(ys, 2)"
        "                     + 0.7 * (element_at(ys, 1)"
        "                              + (element_at(ys, 2) - element_at(ys, 1))))"
        "                    - element_at(ys, 1))"
        "        + 0.8 * (element_at(ys, 2) - element_at(ys, 1)) AS DOUBLE)),"
        " (a, y) -> named_struct("
        "   'l', 0.3 * y + 0.7 * (a.l + a.b),"
        "   'b', 0.2 * ((0.3 * y + 0.7 * (a.l + a.b)) - a.l) + 0.8 * a.b))"
    )
    return arr.select(
        "n_name",
        F.size("ys").cast("long").alias("n_months"),
        fold.alias("st"),
    ).select(
        "n_name",
        "n_months",
        F.round(F.col("st.l"), 6).alias("level"),
        F.round(F.col("st.b"), 6).alias("trend"),
        F.round(F.col("st.l") + 3 * F.col("st.b"), 6).alias("forecast_h3"),
    )


@query(
    "events_wilson_ci",
    oracle="""
    WITH s AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN value >= 100.0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS conv
        FROM events GROUP BY event_type
    )
    SELECT event_type, n, conv,
           round(conv * 1.0 / n, 6) AS p_hat,
           round(((conv * 1.0 / n) + 1.96 * 1.96 / (2.0 * n))
                     / (1.0 + 1.96 * 1.96 / n)
                 - 1.96 * sqrt((conv * 1.0 / n) * (1.0 - conv * 1.0 / n) / n
                               + 1.96 * 1.96 / (4.0 * n * n))
                     / (1.0 + 1.96 * 1.96 / n), 6) AS ci_low,
           round(((conv * 1.0 / n) + 1.96 * 1.96 / (2.0 * n))
                     / (1.0 + 1.96 * 1.96 / n)
                 + 1.96 * sqrt((conv * 1.0 / n) * (1.0 - conv * 1.0 / n) / n
                               + 1.96 * 1.96 / (4.0 * n * n))
                     / (1.0 + 1.96 * 1.96 / n), 6) AS ci_high
    FROM s
    """,
)
def events_wilson_ci(t: Tables) -> DataFrame:
    """Wilson score 95% confidence interval on each event type's
    high-value share (value >= 100) — the proportion-CI readout that
    completes the experimentation family (rates: events_ab_test,
    distributions: events_ks_test, means: events_welch_ttest). Wilson
    beats the naive normal interval near 0/1 and at small n (public
    formula, Wilson 1927); z = 1.96 two-sided.

    Sufficient statistics are exact integers (n, conv per type — one
    hash agg with map-side partials, 5 groups); the interval is a final
    double projection written IDENTICALLY in both engines so the 6dp
    rounding agrees. n >= 1 by construction (a group only exists with
    rows), so no zero-division guard is needed; p(1-p) >= 0 keeps sqrt
    total. Scales as a single aggregation pass at any corpus size."""
    z = F.lit(1.96)
    s = t.events.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("value") >= 100.0, 1).otherwise(0))
        .cast("long")
        .alias("conv"),
    )
    n = F.col("n")
    p = F.col("conv") * 1.0 / n
    denom = F.lit(1.0) + z * z / n
    center = (p + z * z / (2.0 * n)) / denom
    half = (
        z
        * F.sqrt(p * (F.lit(1.0) - p) / n + z * z / (4.0 * n * n))
        / denom
    )
    return s.select(
        "event_type",
        "n",
        "conv",
        F.round(p, 6).alias("p_hat"),
        F.round(center - half, 6).alias("ci_low"),
        F.round(center + half, 6).alias("ci_high"),
    )


@query(
    "win_seasonal_decompose",
    oracle="""
    WITH m AS (
        SELECT n_name, date_trunc('month', o_orderdate) AS month,
               CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
                    AS BIGINT) AS rev_c
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation   ON c_nationkey = n_nationkey
        GROUP BY 1, 2
    ),
    tr AS (
        SELECT n_name, month, CAST(rev_c AS DOUBLE) / 100.0 AS y,
               avg(CAST(rev_c AS DOUBLE) / 100.0) OVER (
                   PARTITION BY n_name ORDER BY month
                   ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS trend
        FROM m
    ),
    se AS (
        SELECT n_name, month, y, trend,
               avg(y - trend) OVER (
                   PARTITION BY n_name, month(month)) AS seasonal
        FROM tr
    )
    SELECT n_name, month, round(y, 2) AS y,
           round(trend, 6) AS trend,
           round(seasonal, 6) AS seasonal,
           round(y - trend - seasonal, 6) AS resid
    FROM se
    """,
)
def win_seasonal_decompose(t: Tables) -> DataFrame:
    """Classical additive seasonal decomposition of each nation's
    monthly revenue (public textbook method): trend = centered 3-month
    moving average (edges take the partial window — documented choice,
    identical both engines), seasonal = month-of-year mean of the
    detrended series per nation, residual = y − trend − seasonal. The
    capacity-planning view one level deeper than win_yoy_growth:
    separates drift from recurring calendar shape from noise.

    Plan: the fact pass is the win_drawdown shape (broadcast dims, one
    partial-agg shuffle to the nation×month grid in exact integer
    cents); both windows then run on the calendar-bounded grid — the
    trend window per nation ordered by month, the seasonal average per
    (nation, month-of-year) — so no window ever sees fact-sized
    partitions. All arithmetic after the grid is double with 6dp
    rounding; y itself rounds at the exact-cents boundary (2dp)."""
    cents = F.floor(F.col("o_totalprice") * 100.0 + F.lit(0.5)).cast("long")
    m = (
        t.orders.join(
            F.broadcast(t.customer.select("c_custkey", "c_nationkey")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(t.nation.select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy("n_name", F.date_trunc("month", "o_orderdate").alias("month"))
        .agg((F.sum(cents).cast("double") / 100.0).alias("y"))
    )
    w_tr = (
        Window.partitionBy("n_name").orderBy("month").rowsBetween(-1, 1)
    )
    tr = m.withColumn("trend", F.avg("y").over(w_tr))
    w_se = Window.partitionBy("n_name", F.month("month"))
    se = tr.withColumn("seasonal", F.avg(F.col("y") - F.col("trend")).over(w_se))
    return se.select(
        "n_name",
        "month",
        F.round("y", 2).alias("y"),
        F.round("trend", 6).alias("trend"),
        F.round("seasonal", 6).alias("seasonal"),
        F.round(F.col("y") - F.col("trend") - F.col("seasonal"), 6).alias("resid"),
    )


_QTE_GRID = [0.1, 0.25, 0.5, 0.75, 0.9]


@query(
    "events_quantile_treatment_effect",
    oracle=f"""
    WITH s AS (
        SELECT
            quantile_cont(value, {_QTE_GRID})
                FILTER (WHERE ((user_id % 100000) * 2654435761) % 100 < 50) AS qa,
            quantile_cont(value, {_QTE_GRID})
                FILTER (WHERE NOT (((user_id % 100000) * 2654435761) % 100 < 50)
                        OR user_id IS NULL) AS qb
        FROM events
    )
    SELECT ({_QTE_GRID})[i] AS q,
           round(qa[i], 6) AS q_a,
           round(qb[i], 6) AS q_b,
           round(qb[i] - qa[i], 6) AS qte
    FROM s, unnest(generate_series(1, {len(_QTE_GRID)})) AS u(i)
    """,
)
def events_quantile_treatment_effect(t: Tables) -> DataFrame:
    """Quantile treatment effect: per-decile difference of the event
    VALUE distribution between the two hash arms (the events_ab_test
    assignment rule) — the experimentation readout that shows WHERE in
    the distribution a treatment moves mass (a mean shift from whales
    vs a broad lift look identical to events_welch_ttest but not
    here; public QTE estimand, Doksum 1974).

    Plan: ONE global aggregate computes both arms' exact interpolated
    quantile vectors via conditional percentiles (percentile over a
    CASE that nulls out the other arm — the FILTER-clause shape, no
    pivot, no cross join, always exactly one row even on empty input),
    then the q-grid explodes in-row. Exact percentiles sort the arm —
    bounded here; at extreme scale swap approx_percentile (the
    agg_approx_quantile posture). NULL user_ids fall to arm B in both
    engines (CASE-null semantics, pinned in the oracle's OR clause)."""
    in_a = F.pmod(F.pmod(F.col("user_id"), F.lit(100000)) * F.lit(2654435761), F.lit(100)) < 50
    qs = F.array(*[F.lit(q) for q in _QTE_GRID])
    s = t.events.agg(
        F.percentile(F.when(in_a, F.col("value")), qs).alias("qa"),
        F.percentile(
            F.when(~F.coalesce(in_a, F.lit(False)), F.col("value")), qs
        ).alias("qb"),
    )
    # explode the LITERAL q-grid (not the data arrays): on empty input
    # the global agg still returns one row with NULL arrays, and the
    # grid must stay visible with NULL quantiles (oracle semantics) —
    # posexplode(arrays_zip(NULL, NULL)) would emit zero rows instead
    return s.select(F.posexplode(qs).alias("pos", "q"), "qa", "qb").select(
        "q",
        F.round(F.element_at("qa", F.col("pos") + 1), 6).alias("q_a"),
        F.round(F.element_at("qb", F.col("pos") + 1), 6).alias("q_b"),
        F.round(
            F.element_at("qb", F.col("pos") + 1)
            - F.element_at("qa", F.col("pos") + 1),
            6,
        ).alias("qte"),
    )


_EWMA_TAU_US = 3_600_000_000  # 1-hour decay constant, integer microseconds


@query(
    "win_ewma_time_decay",
    oracle=f"""
    WITH RECURSIVE arr AS (
        SELECT user_id,
               list(struct_pack(t := epoch_us(ts), v := value)
                    ORDER BY ts, event_id) AS xs
        FROM events GROUP BY user_id
    ),
    f AS (
        SELECT user_id, xs, len(xs) AS n, CAST(1 AS BIGINT) AS i,
               CAST(xs[1].v AS DOUBLE) AS score, xs[1].t AS pt
        FROM arr
        UNION ALL
        SELECT user_id, xs, n, i + 1,
               xs[i + 1].v
                   + exp(-CAST(xs[i + 1].t - pt AS DOUBLE)
                         / {float(_EWMA_TAU_US)}) * score,
               xs[i + 1].t
        FROM f WHERE i < n
    )
    SELECT user_id, CAST(n AS BIGINT) AS n_events,
           round(score, 6) AS decayed_score
    FROM f WHERE i = n
    """,
)
def win_ewma_time_decay(t: Tables) -> DataFrame:
    """Irregular-gap exponential decay score per user: score_i = v_i +
    exp(-Δt_i/τ)·score_{i-1} with Δt the ACTUAL microsecond gap between
    consecutive events (τ = 1 h) — the continuous-time upgrade of
    win_ema_fold's fixed-α row-step smoothing, and the state one would
    keep per key in a streaming scorer (events_time_decay_score is the
    one-shot sum against a fixed reference; this is the recursive
    carried state). The recursion is order-sequential, so it runs as
    ONE in-row fold over the (ts, event_id)-ordered value array —
    both engines fold the SAME list with the SAME exp arguments
    (integer-µs gaps), so trajectories are bit-identical before the
    6dp rounding. Oracle unrolls via WITH RECURSIVE (the win_holt
    lesson: DuckDB 1.0.0 list_reduce mutates struct accumulators in
    place).

    Scale: one user_id shuffle to per-user arrays (bounded by events
    per user); the fold is O(n) per user with O(1) state — at unbounded
    per-user volumes the same recurrence runs incrementally under
    applyInPandasWithState (stream_stateful's machinery)."""
    arr = (
        t.events.groupBy("user_id")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.unix_micros("ts").alias("t"),
                        F.col("event_id").alias("eid"),
                        F.col("value").alias("v"),
                    )
                )
            ).alias("xs")
        )
    )
    fold = F.expr(
        f"aggregate("
        f" slice(xs, 2, size(xs) - 1),"
        f" named_struct('score', CAST(element_at(xs, 1).v AS DOUBLE),"
        f"              'pt', element_at(xs, 1).t),"
        f" (a, x) -> named_struct("
        f"   'score', x.v + exp(-CAST(x.t - a.pt AS DOUBLE)"
        f"                      / {float(_EWMA_TAU_US)}) * a.score,"
        f"   'pt', x.t),"
        f" a -> a.score)"
    )
    return arr.select(
        "user_id",
        F.size("xs").cast("long").alias("n_events"),
        F.round(fold, 6).alias("decayed_score"),
    )


@query(
    "events_interarrival",
    oracle="""
    WITH g AS (
        SELECT epoch_us(ts) - epoch_us(lag(ts) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               )) AS gap_us
        FROM events
    ),
    gg AS (SELECT gap_us FROM g WHERE gap_us IS NOT NULL)
    SELECT CAST(count(*) AS BIGINT)                       AS n_gaps,
           round(quantile_cont(gap_us, 0.5) / 1e6, 6)     AS p50_s,
           round(quantile_cont(gap_us, 0.9) / 1e6, 6)     AS p90_s,
           round(quantile_cont(gap_us, 0.99) / 1e6, 6)    AS p99_s,
           round(avg(gap_us) / 1e6, 6)                    AS mean_s
    FROM gg
    """,
)
def events_interarrival(t: Tables) -> DataFrame:
    """Inter-arrival time distribution: per-user gaps between
    consecutive events (lag over (user, time)), summarized globally as
    exact p50/p90/p99/mean seconds — the session-timeout calibration
    readout (events_session_stats' 30-min cut and stream_session's gap
    parameter should be chosen FROM this distribution, not guessed) and
    the bot-cadence baseline (events_bot_detection flags users whose
    gaps sit far below the population p50).

    Plan: one shuffle on user_id for the lag window (order pinned by
    (ts, event_id) — equal timestamps would otherwise make the lag
    nondeterministic), then a single global aggregate. Gaps computed in
    integer MICROSECONDS (unix_micros / epoch_us on both engines) and
    divided to seconds only at the 6dp output — float epoch seconds
    would accumulate engine-specific rounding. Exact percentiles sort
    the gap column; at 100 TB swap approx_percentile (the
    agg_approx_quantile posture) — the one-row output is unchanged."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    g = t.events.select(
        (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))).alias("gap_us")
    ).filter(F.col("gap_us").isNotNull())
    return g.agg(
        F.count(F.lit(1)).cast("long").alias("n_gaps"),
        F.round(F.percentile("gap_us", F.lit(0.5)) / 1e6, 6).alias("p50_s"),
        F.round(F.percentile("gap_us", F.lit(0.9)) / 1e6, 6).alias("p90_s"),
        F.round(F.percentile("gap_us", F.lit(0.99)) / 1e6, 6).alias("p99_s"),
        F.round(F.avg("gap_us") / 1e6, 6).alias("mean_s"),
    )


_KMV_K = 256  # sketch size; relative error ~ 1/sqrt(k) ~ 6%


@query("sketch_kmv_distinct", oracle=None)  # R: xxhash64-valued sketch
def sketch_kmv_distinct(t: Tables) -> DataFrame:
    """K-minimum-values distinct sketch (Bar-Yossef et al. 2002, public
    method) per event_type plus a MERGED 'ALL' row: keep the k smallest
    distinct 64-bit hashes of user_id; the k-th smallest normalized
    hash u estimates distinct count as (k−1)/u. The merge row is the
    point of the exercise — KMV unions by keeping the k smallest of the
    COMBINED sketches, so per-partition/per-day sketches roll up
    without rescanning (the same mergeability contract as HLL
    (sketch_hll_rollup) with a simpler, exact-fallback estimator:
    groups holding fewer than k distinct hashes report their EXACT
    count).

    Plan: distinct (type, hash) first (map-side combined, the only
    fact-sized stage), then a rank window per type keeps k rows —
    partitions are event-type-bounded (5 here; at higher key
    cardinality the sort is per-group and the kept set is k) — and the
    ALL row re-ranks the ≤ 5k kept hashes. Rows-only (hash-valued);
    tests pin the estimate within 15% of exact countDistinct and the
    merge row against the same estimator run flat."""
    h = (
        t.events.select("event_type", F.xxhash64("user_id").alias("h"))
        .distinct()
    )
    w = Window.partitionBy("event_type").orderBy("h")
    kept = h.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= _KMV_K)
    # KMV union = k smallest of the DEDUPLICATED combined hash sets (the
    # same user appears in several types' sketches; a multiset union
    # would overcount exactly the shared users)
    merged = (
        kept.select("h")
        .distinct()
        .withColumn("rn", F.row_number().over(Window.orderBy("h")))
        .filter(F.col("rn") <= _KMV_K)
        .select(F.lit("ALL").alias("event_type"), "h", "rn")
    )
    # estimator: u = kth smallest hash mapped from signed int64 to (0,1);
    # exact count when the group holds fewer than k hashes
    def est(df):
        return df.groupBy("event_type").agg(
            F.count(F.lit(1)).cast("long").alias("n_kept"),
            F.when(
                F.count(F.lit(1)) < _KMV_K, F.count(F.lit(1)).cast("double")
            )
            .otherwise(
                (F.lit(_KMV_K - 1))
                / ((F.max("h") / F.lit(2.0**64)) + F.lit(0.5))
            )
            .alias("est_raw"),
        )

    out = est(kept).unionByName(est(merged))
    return out.select(
        "event_type",
        "n_kept",
        F.round("est_raw", 2).alias("est_distinct"),
    ).orderBy("event_type")


@query(
    "events_mann_whitney",
    oracle="""
    WITH per_user AS (
        SELECT user_id,
               CASE WHEN ((user_id % 100000) * 2654435761) % 100 < 50
                    THEN 'A' ELSE 'B' END AS arm,
               sum(value) AS x
        FROM events WHERE event_type = 'purchase' GROUP BY user_id
    ),
    ranked AS (
        SELECT arm, x,
               rank() OVER (ORDER BY x)
                   + (count(*) OVER (PARTITION BY x) - 1) / 2.0 AS midrank
        FROM per_user
    ),
    ties AS (
        SELECT sum(t * t * t - t) AS tie_term
        FROM (SELECT count(*) AS t FROM per_user GROUP BY x)
    ),
    s AS (
        SELECT CAST(sum(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
               CAST(sum(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
               sum(CASE WHEN arm = 'A' THEN midrank END) AS r_a
        FROM ranked
    )
    SELECT n_a, n_b,
           round(r_a - n_a * (n_a + 1) / 2.0, 4) AS u_a,
           round((r_a - n_a * (n_a + 1) / 2.0 - n_a * n_b / 2.0)
                 / nullif(sqrt(n_a * n_b / 12.0
                     * ((n_a + n_b + 1)
                        - tie_term / ((n_a + n_b) * (n_a + n_b - 1.0)))), 0),
                 6) AS z
    FROM s CROSS JOIN ties
    """,
)
def events_mann_whitney(t: Tables) -> DataFrame:
    """Mann-Whitney U rank-sum test between the two experiment arms on
    per-user purchase spend — the non-parametric twin of
    events_welch_ttest for the heavy-tailed metrics (revenue per user)
    where a t-test's normality assumption is indefensible. Shares the
    masked Knuth arm hash verbatim with events_ab_test (see that
    docstring for the overflow rationale).

    Midranks use the engine-neutral identity rank() + (ties-1)/2 (RANK
    is min-rank in both engines, so the average rank of a tie group is
    closed-form from it); the z denominator carries the standard tie
    correction sum(t^3 - t). NULL z when every value is identical
    (nullif guards the zero-variance denominator) and on n_a or n_b = 0.

    Scale: windows run over the COLLAPSED per-user frame (|users| rows,
    orders of magnitude below |events|). The global rank window is a
    single total order — the declared exact tier; at billions of users
    the two-phase rank rewrite (sort_multikey's bucket-offset pattern)
    drops in without changing this statistic. Tie term is one extra
    hash-agg over distinct values."""
    per_user = (
        t.events.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.sum("value").alias("x"))
        .select(
            F.when(
                F.pmod(
                    F.pmod(F.col("user_id"), F.lit(100000)) * F.lit(2654435761),
                    F.lit(100),
                )
                < 50,
                "A",
            )
            .otherwise("B")
            .alias("arm"),
            "x",
        )
    )
    midrank = (
        F.rank().over(Window.orderBy("x"))
        + (F.count(F.lit(1)).over(Window.partitionBy("x")) - 1) / 2.0
    )
    ranked = per_user.select("arm", "x", midrank.alias("midrank"))
    ties = (
        per_user.groupBy("x")
        .agg(F.count(F.lit(1)).alias("t"))
        .agg(F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t")).alias("tie_term"))
    )
    s = ranked.agg(
        F.sum(F.when(F.col("arm") == "A", 1).otherwise(0)).cast("long").alias("n_a"),
        F.sum(F.when(F.col("arm") == "B", 1).otherwise(0)).cast("long").alias("n_b"),
        F.sum(F.when(F.col("arm") == "A", F.col("midrank"))).alias("r_a"),
    )
    n_a, n_b, r_a = F.col("n_a"), F.col("n_b"), F.col("r_a")
    u_a = r_a - n_a * (n_a + 1) / 2.0
    n = n_a + n_b
    sigma = F.sqrt(
        n_a * n_b / 12.0
        * ((n + 1) - F.col("tie_term") / (n * (n - F.lit(1.0))))
    )
    return s.crossJoin(F.broadcast(ties)).select(
        "n_a",
        "n_b",
        F.round(u_a, 4).alias("u_a"),
        F.round((u_a - n_a * n_b / 2.0) / F.nullif(sigma, F.lit(0.0)), 6).alias("z"),
    )


@query(
    "agg_theil_index",
    oracle="""
    WITH spend AS (
        SELECT o_custkey, sum(o_totalprice) AS x FROM orders GROUP BY o_custkey
    )
    SELECT CAST(count(*) AS BIGINT)                          AS n_customers,
           round(avg(x), 4)                                  AS mean_spend,
           round(sum(x * ln(x)) / sum(x) - ln(avg(x)), 6)    AS theil_t,
           round(ln(avg(x)) - avg(ln(x)), 6)                 AS theil_l
    FROM spend
    """,
)
def agg_theil_index(t: Tables) -> DataFrame:
    """Theil inequality indexes over per-customer spend — the
    decomposable concentration measures (T and L / mean-log-deviation)
    that complement agg_gini (rank-based) and agg_hhi (share-of-squares):
    T = E[(x/u)ln(x/u)] reduces to sum(x ln x)/sum(x) - ln(mean), L =
    ln(mean) - mean(ln x), so BOTH come from one pass of algebraic
    sufficient statistics (N, sum x, sum x ln x, sum ln x) — no sort, no
    window, no scalar cross-join. Spend is strictly positive (TPC-H
    totalprice), so the logs are total.

    Scale: per-customer collapse is one map-side-combined hash agg; the
    index itself is a 4-number reduce. This is the sketch-algebra shape
    that makes inequality monitoring at 100 TB a re-aggregation, and the
    ratio-of-large-sums form is stable far below the 6dp rounding
    against partial-aggregation order noise."""
    spend = t.orders.groupBy("o_custkey").agg(F.sum("o_totalprice").alias("x"))
    return spend.agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.round(F.avg("x"), 4).alias("mean_spend"),
        F.round(
            F.sum(F.col("x") * F.log("x")) / F.sum("x") - F.log(F.avg("x")), 6
        ).alias("theil_t"),
        F.round(F.log(F.avg("x")) - F.avg(F.log("x")), 6).alias("theil_l"),
    )


@query(
    "win_gaps_islands",
    oracle="""
    WITH days AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ),
    seq AS (
        SELECT user_id,
               date_diff('day', DATE '2024-01-01', d)
                   - row_number() OVER (PARTITION BY user_id ORDER BY d) AS grp
        FROM days
    ),
    isl AS (
        SELECT user_id, grp, CAST(count(*) AS BIGINT) AS island_len
        FROM seq GROUP BY user_id, grp
    )
    SELECT island_len,
           CAST(count(*) AS BIGINT)                 AS n_islands,
           CAST(count(DISTINCT user_id) AS BIGINT)  AS n_users
    FROM isl GROUP BY island_len
    """,
)
def win_gaps_islands(t: Tables) -> DataFrame:
    """Gaps-and-islands census of user activity: maximal runs of
    CONSECUTIVE active days per user, reported as a run-length
    histogram (how many 1-day, 2-day, ... streak islands exist and how
    many users own one). The classic row_number difference trick: for a
    user's sorted distinct days, day_index - row_number is constant
    exactly within a consecutive run, so islands fall out of one
    hash agg — no self-join, no recursive walk. Differs from
    win_streaks (value-sign streaks within a fixed window) by operating
    on the calendar itself. The anchor-date difference keeps the group
    key an engine-neutral integer.

    Scale: distinct-day collapse and the island agg are both keyed by
    user — map-side combine everywhere; the only window is
    partitionBy(user_id) ordered by day (bounded by a user's activity
    span, never global). Histogram output is run-length bounded
    (<= days in the calendar)."""
    days = t.events.select(
        "user_id", F.to_date("ts").alias("d")
    ).distinct()
    rn = F.row_number().over(Window.partitionBy("user_id").orderBy("d"))
    seq = days.select(
        "user_id",
        (F.datediff(F.col("d"), F.lit("2024-01-01")) - rn).alias("grp"),
    )
    isl = seq.groupBy("user_id", "grp").agg(
        F.count(F.lit(1)).cast("long").alias("island_len")
    )
    return isl.groupBy("island_len").agg(
        F.count(F.lit(1)).cast("long").alias("n_islands"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
    )


@query(
    "win_rolling_corr",
    oracle="""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               sum(o_totalprice)         AS rev,
               CAST(count(*) AS BIGINT)  AS n_orders
        FROM orders GROUP BY day
    ),
    w AS (
        SELECT day, rev, n_orders,
               count(*)          OVER f AS n,
               sum(rev)          OVER f AS sx,
               sum(n_orders)     OVER f AS sy,
               sum(rev * n_orders) OVER f AS sxy,
               sum(rev * rev)    OVER f AS sxx,
               sum(CAST(n_orders AS DOUBLE) * n_orders) OVER f AS syy
        FROM daily
        WINDOW f AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    )
    SELECT day, round(rev, 2) AS rev, n_orders,
           round((n * sxy - sx * sy)
                 / nullif(sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 0),
                 6) AS corr_7d
    FROM w
    """,
)
def win_rolling_corr(t: Tables) -> DataFrame:
    """Trailing-7-day rolling Pearson correlation between daily revenue
    and daily order count — the co-movement diagnostic that separates
    'revenue is up because volume is up' days from mix-shift days.
    Deliberately NOT the engines' corr() window aggregate: Spark yields
    NaN and DuckDB NULL on a zero-variance frame, so the correlation is
    assembled from the five windowed sums with an explicit
    nullif(denominator) — identical NULL semantics everywhere, including
    the frame-of-one leading edge.

    Scale: the window runs over the DAILY series (calendar-bounded,
    ~365 rows/year — the win_ema_fold posture), after one
    map-side-combined hash agg collapses orders to days. Sub-day grains
    re-partition by a coarser calendar key; the statistic's sums stay
    algebraic so the same five accumulators survive any re-framing."""
    daily = t.orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum("o_totalprice").alias("rev"),
        F.count(F.lit(1)).cast("long").alias("n_orders"),
    )
    f = Window.orderBy("day").rowsBetween(-6, 0)
    n = F.count(F.lit(1)).over(f)
    sx = F.sum("rev").over(f)
    sy = F.sum("n_orders").over(f)
    sxy = F.sum(F.col("rev") * F.col("n_orders")).over(f)
    sxx = F.sum(F.col("rev") * F.col("rev")).over(f)
    syy = F.sum(F.col("n_orders").cast("double") * F.col("n_orders")).over(f)
    corr = (n * sxy - sx * sy) / F.nullif(
        F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), F.lit(0.0)
    )
    return daily.select(
        "day",
        F.round("rev", 2).alias("rev"),
        "n_orders",
        F.round(corr, 6).alias("corr_7d"),
    )


@query(
    "win_mtd_cumulative",
    oracle="""
    WITH daily AS (
        SELECT date_trunc('month', o_orderdate) AS month,
               CAST(o_orderdate AS DATE)        AS day,
               sum(o_totalprice)                AS rev,
               CAST(count(*) AS BIGINT)         AS n_orders
        FROM orders GROUP BY month, day
    )
    SELECT day, n_orders,
           round(rev, 2) AS rev,
           round(sum(rev) OVER (PARTITION BY month ORDER BY day
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                 2) AS mtd_rev,
           round(rev / sum(rev) OVER (PARTITION BY month), 6) AS pct_of_month
    FROM daily
    """,
)
def win_mtd_cumulative(t: Tables) -> DataFrame:
    """Month-to-date cumulative revenue per day plus each day's share of
    its month — the pacing readout every finance dashboard refreshes
    daily ('are we ahead of last month at the same day?'). Two frames
    over ONE month partition (running cumulative + full-partition
    total), so the whole key costs a single hash-partitioned exchange
    on month after the daily collapse — adding the share column is
    free once the cumulative window exists.

    Scale: the window partition key is the CALENDAR month — bounded
    partitions (<= 31 rows each) regardless of corpus size, the
    exact opposite of a global ORDER BY window; the daily collapse is
    map-side combined. Share denominators are month sums of day sums —
    stable far below the 6dp round."""
    daily = t.orders.groupBy(
        F.date_trunc("month", "o_orderdate").alias("month"),
        F.to_date("o_orderdate").alias("day"),
    ).agg(
        F.sum("o_totalprice").alias("rev"),
        F.count(F.lit(1)).cast("long").alias("n_orders"),
    )
    running = (
        Window.partitionBy("month").orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    )
    full = Window.partitionBy("month")
    return daily.select(
        "day",
        "n_orders",
        F.round("rev", 2).alias("rev"),
        F.round(F.sum("rev").over(running), 2).alias("mtd_rev"),
        F.round(F.col("rev") / F.sum("rev").over(full), 6).alias("pct_of_month"),
    )


_LIFT_RESPONSE_SPEND = 150000.0  # fixed response threshold (scale-free:
# per-customer spend does not grow with corpus SF)


@query(
    "agg_decile_lift",
    oracle=f"""
    WITH spend AS (
        SELECT c.c_custkey, c.c_acctbal,
               coalesce(sum(o.o_totalprice), 0) AS spend
        FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
        GROUP BY c.c_custkey, c.c_acctbal
    ),
    scored AS (
        SELECT ntile(10) OVER (ORDER BY c_acctbal DESC, c_custkey) AS decile,
               CASE WHEN spend > {_LIFT_RESPONSE_SPEND} THEN 1 ELSE 0 END AS resp
        FROM spend
    ),
    d AS (
        SELECT decile,
               CAST(count(*) AS BIGINT)  AS n_cust,
               CAST(sum(resp) AS BIGINT) AS n_resp
        FROM scored GROUP BY decile
    )
    SELECT decile, n_cust, n_resp,
           round(n_resp * 1.0 / n_cust, 6) AS resp_rate,
           round((n_resp * 1.0 / n_cust)
                 / nullif(sum(n_resp) OVER () * 1.0 / sum(n_cust) OVER (), 0),
                 6) AS lift,
           round(sum(n_resp) OVER (ORDER BY decile)
                 * 1.0 / nullif(sum(n_resp) OVER (), 0), 6) AS cum_capture
    FROM d
    """,
)
def agg_decile_lift(t: Tables) -> DataFrame:
    """Decile lift/gains table — THE campaign-targeting evaluation: rank
    customers by a model score (here the deterministic stand-in
    c_acctbal), cut into 10 equal buckets, and report each decile's
    response rate (spend above threshold), lift vs the global rate, and
    cumulative capture ('mailing the top 3 deciles reaches X% of all
    responders'). The score column swaps for any model output without
    touching the plan.

    Determinism: ntile over a TOTAL order (score DESC, custkey) — both
    engines fill equal buckets remainder-first by row position, so the
    same order means the same buckets. The global ntile is the declared
    exact tier over the collapsed per-customer frame (|customers| <<
    |orders|); at billions of customers the two-phase rank rewrite
    (sort_multikey pattern) replaces it, or the deciles come from
    agg_approx_quantile score bounds. All lift/capture arithmetic runs
    on the 10-row decile frame."""
    spend = (
        t.customer.join(
            t.orders, t.customer.c_custkey == t.orders.o_custkey, "left"
        )
        .groupBy("c_custkey", "c_acctbal")
        .agg(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)).alias("spend"))
    )
    scored = spend.select(
        F.ntile(10)
        .over(Window.orderBy(F.desc("c_acctbal"), F.asc("c_custkey")))
        .alias("decile"),
        F.when(F.col("spend") > _LIFT_RESPONSE_SPEND, 1).otherwise(0).alias("resp"),
    )
    d = scored.groupBy("decile").agg(
        F.count(F.lit(1)).cast("long").alias("n_cust"),
        F.sum("resp").cast("long").alias("n_resp"),
    )
    w = Window.partitionBy()
    wcum = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    rate = F.col("n_resp") * 1.0 / F.col("n_cust")
    overall = F.sum("n_resp").over(w) * 1.0 / F.sum("n_cust").over(w)
    return d.select(
        "decile",
        "n_cust",
        "n_resp",
        F.round(rate, 6).alias("resp_rate"),
        F.round(rate / F.nullif(overall, F.lit(0.0)), 6).alias("lift"),
        F.round(
            F.sum("n_resp").over(wcum) * 1.0
            / F.nullif(F.sum("n_resp").over(w), F.lit(0)),
            6,
        ).alias("cum_capture"),
    )


_LIFT_APPROX_ACC = 10000  # percentile_approx accuracy (GK rank error <= n/acc)


@query("agg_decile_lift_approx", oracle=None)  # R: GK sketch boundaries are
# merge-order-specific (partition-dependent); conservation + bucket-balance
# + exact-twin-agreement pinned in tests
def agg_decile_lift_approx(t: Tables) -> DataFrame:
    """Decile lift/gains table with SKETCH-derived boundaries — the
    checked 100 TB percentile path that agg_decile_lift's docstring
    declares (r8 VERDICT task 7b): the exact twin ranks every customer
    through one global ntile window (a total sort — fine while the
    collapsed per-customer frame is small, wrong at billions of
    customers), while this spelling gets the nine decile boundaries
    from ONE mergeable percentile_approx aggregate (Greenwald-Khanna,
    accuracy 10000: rank error <= n/10000) and assigns deciles by an
    in-row broadcast comparison — no global sort or window anywhere,
    every stage map-side combinable. The same swap applies to
    events_interarrival's percentile columns.

    Rows-only by honest necessity: GK sketch merge is
    partition-order-dependent, so boundary ulps (hence boundary-row
    bucket membership) can differ run-to-run — the same reason
    agg_approx_quantile is R. The binding checks live in tests:
    column totals conserve exactly (sum n_cust = |customers|, sum
    n_resp = exact responder count), per-decile counts stay within the
    GK rank-error bound of n/10, and at sf0.001/sf0.01 (where n <<
    accuracy makes GK exact) the table must EQUAL agg_decile_lift's.

    Columns match the exact twin so the two reports diff directly."""
    spend = (
        t.customer.join(
            t.orders, t.customer.c_custkey == t.orders.o_custkey, "left"
        )
        .groupBy("c_custkey", "c_acctbal")
        .agg(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)).alias("spend"))
    )
    # nine ascending boundaries q10..q90 of the score; one 1-row frame
    bounds = spend.agg(
        F.percentile_approx(
            "c_acctbal",
            F.array(*[F.lit(i / 10.0) for i in range(1, 10)]),
            F.lit(_LIFT_APPROX_ACC),
        ).alias("bnds")
    )
    # decile 1 = top scores (mirrors the exact twin's DESC ntile):
    # count boundaries >= score, +1
    scored = spend.crossJoin(F.broadcast(bounds)).select(
        (
            F.size(F.filter("bnds", lambda b: b >= F.col("c_acctbal"))) + F.lit(1)
        ).alias("decile"),
        F.when(F.col("spend") > _LIFT_RESPONSE_SPEND, 1).otherwise(0).alias("resp"),
    )
    d = scored.groupBy("decile").agg(
        F.count(F.lit(1)).cast("long").alias("n_cust"),
        F.sum("resp").cast("long").alias("n_resp"),
    )
    w = Window.partitionBy()
    wcum = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    rate = F.col("n_resp") * 1.0 / F.col("n_cust")
    overall = F.sum("n_resp").over(w) * 1.0 / F.sum("n_cust").over(w)
    return d.select(
        "decile",
        "n_cust",
        "n_resp",
        F.round(rate, 6).alias("resp_rate"),
        F.round(rate / F.nullif(overall, F.lit(0.0)), 6).alias("lift"),
        F.round(
            F.sum("n_resp").over(wcum) * 1.0
            / F.nullif(F.sum("n_resp").over(w), F.lit(0)),
            6,
        ).alias("cum_capture"),
    )


# Experiment-planning constants: two-sided alpha = 0.05, power = 0.80.
# The normal quantiles are literals (z_{0.975}, z_{0.80}) — planning
# arithmetic, not a stats library dependency.
_PWR_Z_ALPHA = 1.959964
_PWR_Z_BETA = 0.841621
_PWR_MDE_REL = 0.10  # minimum detectable effect: +10% relative


@query(
    "events_power_sample_size",
    oracle=f"""
    WITH assign AS (
        SELECT DISTINCT user_id FROM events
    ),
    conv AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'),
    base AS (
        SELECT CAST(count(*) AS BIGINT) AS n_users,
               CAST(sum(CASE WHEN conv.user_id IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT)          AS n_conv
        FROM assign LEFT JOIN conv ON assign.user_id = conv.user_id
    ),
    days AS (
        SELECT CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days
        FROM events
    ),
    calc AS (
        SELECT n_users, n_conv, n_days,
               n_conv * 1.0 / n_users          AS p1,
               n_conv * 1.0 / n_users * (1 + {_PWR_MDE_REL}) AS p2
        FROM base CROSS JOIN days
    )
    SELECT n_users, n_conv, round(p1, 6) AS baseline_rate,
           round(p2, 6) AS target_rate,
           CAST(ceil(pow({_PWR_Z_ALPHA} + {_PWR_Z_BETA}, 2)
                     * (p1 * (1 - p1) + p2 * (1 - p2))
                     / pow(p2 - p1, 2)) AS BIGINT) AS n_per_arm,
           round(ceil(pow({_PWR_Z_ALPHA} + {_PWR_Z_BETA}, 2)
                      * (p1 * (1 - p1) + p2 * (1 - p2))
                      / pow(p2 - p1, 2))
                 * 2.0 / nullif(n_users * 1.0 / n_days, 0), 2) AS est_days
    FROM calc
    """,
)
def events_power_sample_size(t: Tables) -> DataFrame:
    """Experiment power planning from observed data — the pre-launch
    companion to events_ab_test: measure the live baseline conversion
    rate, then the standard two-proportion normal-approximation sample
    size n = (z_a + z_b)^2 (p1 q1 + p2 q2) / (p2 - p1)^2 for a +10%
    relative lift at alpha .05 / power .80, and convert it to runtime
    days using the observed distinct-user arrival rate. The z quantiles
    are planning LITERALS (no stats-library dependency, identical on
    both engines); every input is an exact count.

    Scale: two distinct-user collapses + one distinct-day count — all
    map-side-combined hash aggs to scalars; arithmetic on one row."""
    assign = t.events.select("user_id").distinct()
    conv = (
        t.events.filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("cu"))
        .distinct()
    )
    base = (
        assign.join(F.broadcast(conv), assign.user_id == conv.cu, "left")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.sum(F.when(F.col("cu").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_conv"),
        )
    )
    days = t.events.agg(
        F.countDistinct(F.to_date("ts")).cast("long").alias("n_days")
    )
    p1 = F.col("n_conv") * 1.0 / F.col("n_users")
    p2 = p1 * (1 + _PWR_MDE_REL)
    n_arm = F.ceil(
        F.pow(F.lit(_PWR_Z_ALPHA + _PWR_Z_BETA), 2)
        * (p1 * (1 - p1) + p2 * (1 - p2))
        / F.pow(p2 - p1, 2)
    )
    return base.crossJoin(F.broadcast(days)).select(
        "n_users",
        "n_conv",
        F.round(p1, 6).alias("baseline_rate"),
        F.round(p2, 6).alias("target_rate"),
        n_arm.cast("long").alias("n_per_arm"),
        F.round(
            n_arm * 2.0 / F.nullif(F.col("n_users") * 1.0 / F.col("n_days"), F.lit(0.0)),
            2,
        ).alias("est_days"),
    )


@query(
    "agg_revenue_waterfall",
    oracle="""
    WITH s AS (
        SELECT sum(l_extendedprice)                                    AS gross,
               sum(l_extendedprice * l_discount)                       AS disc,
               sum(l_extendedprice * (1 - l_discount) * l_tax)         AS tax,
               sum(l_extendedprice * (1 - l_discount) * (1 + l_tax))   AS net
        FROM lineitem
    )
    SELECT step, CAST(step_order AS INT) AS step_order, round(amount, 2) AS amount
    FROM s, LATERAL (
        SELECT * FROM (VALUES
            ('gross_revenue', 1, s.gross),
            ('discounts',     2, -s.disc),
            ('tax_collected', 3, s.tax),
            ('net_charged',   4, s.net)
        ) AS v(step, step_order, amount)
    ) w
    """,
)
def agg_revenue_waterfall(t: Tables) -> DataFrame:
    """Revenue decomposition waterfall (gross → −discounts → +tax →
    net charged) — the finance bridge chart as a query: every component
    comes from ONE pass of sufficient sums over the fact (the TPC-H Q1
    money arithmetic), then the 1-row totals unpivot into ordered
    waterfall steps. Verifiable invariant: gross − discounts + tax =
    net within float tolerance (the unpivot makes the reconciliation a
    3-row sum a reviewer can eyeball).

    Scale: one map-side-combined agg to a single row; the unpivot is a
    4-element in-row stack (no shuffle). The ratio-free absolute sums
    round at 2dp (cents) — stable against partial-agg order noise at
    any corpus size."""
    s = t.lineitem.agg(
        F.sum("l_extendedprice").alias("gross"),
        F.sum(F.col("l_extendedprice") * F.col("l_discount")).alias("disc"),
        F.sum(
            F.col("l_extendedprice") * (1 - F.col("l_discount")) * F.col("l_tax")
        ).alias("tax"),
        F.sum(
            F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))
        ).alias("net"),
    )
    steps = F.array(
        F.struct(F.lit("gross_revenue").alias("step"), F.lit(1).alias("step_order"),
                 F.col("gross").alias("amount")),
        F.struct(F.lit("discounts").alias("step"), F.lit(2).alias("step_order"),
                 (-F.col("disc")).alias("amount")),
        F.struct(F.lit("tax_collected").alias("step"), F.lit(3).alias("step_order"),
                 F.col("tax").alias("amount")),
        F.struct(F.lit("net_charged").alias("step"), F.lit(4).alias("step_order"),
                 F.col("net").alias("amount")),
    )
    return (
        s.select(F.explode(steps).alias("w"))
        .select(
            F.col("w.step").alias("step"),
            F.col("w.step_order").cast("int").alias("step_order"),
            F.round("w.amount", 2).alias("amount"),
        )
    )


@query(
    "events_ratio_metric_ci",
    oracle="""
    WITH per_user AS (
        SELECT user_id,
               CASE WHEN ((user_id % 100000) * 2654435761) % 100 < 50
                    THEN 'A' ELSE 'B' END AS arm,
               sum(CASE WHEN event_type = 'purchase' THEN value ELSE 0 END) AS x,
               CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS BIGINT) AS y
        FROM events GROUP BY user_id
    ),
    arms AS (
        SELECT arm,
               CAST(count(*) AS BIGINT) AS n,
               sum(x) AS sx, sum(y) AS sy,
               var_samp(x) AS vx, var_samp(CAST(y AS DOUBLE)) AS vy,
               covar_samp(x, CAST(y AS DOUBLE)) AS cxy
        FROM per_user GROUP BY arm
    ),
    r AS (
        SELECT arm, n, sx, sy,
               sx / nullif(sy, 0) AS ratio,
               (vx - 2 * (sx / nullif(sy, 0)) * cxy
                   + (sx / nullif(sy, 0)) * (sx / nullif(sy, 0)) * vy)
                   / (n * pow(sy * 1.0 / n, 2)) AS var_r
        FROM arms
    )
    SELECT arm, n, round(ratio, 6) AS ratio,
           round(sqrt(var_r), 6)                    AS se,
           round(ratio - 1.959964 * sqrt(var_r), 6) AS ci_lo,
           round(ratio + 1.959964 * sqrt(var_r), 6) AS ci_hi
    FROM r
    """,
)
def events_ratio_metric_ci(t: Tables) -> DataFrame:
    """Delta-method confidence interval for a RATIO metric (revenue per
    purchase) under user-level randomization — the experimentation-
    platform workhorse the naive per-event t-test gets wrong: events
    within a user are correlated, so the variance must come from
    per-USER sufficient statistics (x = user revenue, y = user purchase
    count): var(Σx/Σy) ≈ (s²_x − 2R s_xy + R² s²_y) / (n ȳ²) — public
    formula (Deng et al., 'Applying the Delta Method in Metric
    Analytics'). Completes the experimentation family: rates →
    ab_test, means → welch, ranks → mann_whitney, ratios → this.

    Scale: one map-side-combined per-user collapse, then one 2-group
    agg of exact moments; NULL ratio/CI on a zero-denominator arm via
    nullif. 6dp rounds sit far above the float noise of the
    ratio-of-sums form."""
    per_user = t.events.groupBy("user_id").agg(
        F.sum(
            F.when(F.col("event_type") == "purchase", F.col("value")).otherwise(0.0)
        ).alias("x"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("y"),
    ).select(
        F.when(
            F.pmod(
                F.pmod(F.col("user_id"), F.lit(100000)) * F.lit(2654435761),
                F.lit(100),
            )
            < 50,
            "A",
        )
        .otherwise("B")
        .alias("arm"),
        "x",
        F.col("y").cast("double").alias("yd"),
        "y",
    )
    arms = per_user.groupBy("arm").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.var_samp("x").alias("vx"),
        F.var_samp("yd").alias("vy"),
        F.covar_samp("x", "yd").alias("cxy"),
    )
    ratio = F.col("sx") / F.nullif(F.col("sy"), F.lit(0))
    var_r = (
        F.col("vx") - 2 * ratio * F.col("cxy") + ratio * ratio * F.col("vy")
    ) / (F.col("n") * F.pow(F.col("sy") * 1.0 / F.col("n"), 2))
    return arms.select(
        "arm",
        "n",
        F.round(ratio, 6).alias("ratio"),
        F.round(F.sqrt(var_r), 6).alias("se"),
        F.round(ratio - 1.959964 * F.sqrt(var_r), 6).alias("ci_lo"),
        F.round(ratio + 1.959964 * F.sqrt(var_r), 6).alias("ci_hi"),
    )


_DID_SPLIT = "2024-04-01"  # pre/post boundary (fixture events span 2024)


@query(
    "events_diff_in_diff",
    oracle=f"""
    WITH cell AS (
        SELECT CASE WHEN ((user_id % 100000) * 2654435761) % 100 < 50
                    THEN 'A' ELSE 'B' END AS arm,
               CASE WHEN ts < TIMESTAMP '{_DID_SPLIT}' THEN 'pre' ELSE 'post' END
                   AS period,
               user_id,
               sum(CASE WHEN event_type = 'purchase' THEN value ELSE 0 END) AS x
        FROM events GROUP BY arm, period, user_id
    ),
    m AS (
        SELECT arm, period,
               CAST(count(*) AS BIGINT) AS n_users,
               avg(x)                   AS mean_x
        FROM cell GROUP BY arm, period
    ),
    wide AS (
        SELECT
            max(CASE WHEN arm = 'A' AND period = 'pre'  THEN mean_x END) AS a_pre,
            max(CASE WHEN arm = 'A' AND period = 'post' THEN mean_x END) AS a_post,
            max(CASE WHEN arm = 'B' AND period = 'pre'  THEN mean_x END) AS b_pre,
            max(CASE WHEN arm = 'B' AND period = 'post' THEN mean_x END) AS b_post
        FROM m
    )
    SELECT round(a_pre, 6)  AS a_pre,  round(a_post, 6) AS a_post,
           round(b_pre, 6)  AS b_pre,  round(b_post, 6) AS b_post,
           round((b_post - b_pre) - (a_post - a_pre), 6) AS did_estimate
    FROM wide
    """,
)
def events_diff_in_diff(t: Tables) -> DataFrame:
    """Difference-in-differences readout: per-user purchase spend in
    the pre/post periods for both hash arms, and the DiD estimate
    (B's change minus A's change) — the causal workhorse when the
    'treatment' switches on at a DATE rather than per-user (price
    change, UI rollout): arm A's trend absorbs seasonality the naive
    post-minus-pre comparison would attribute to the treatment.
    Parallel-trends is the identifying assumption, checkable from the
    same four cell means this emits. Shares the masked Knuth arm hash
    verbatim with events_ab_test.

    Scale: one (arm, period, user) hash agg (map-side combined), one
    4-group agg, one conditional-pivot row — the agg_pivot_casewhen
    shape on a 4-row frame."""
    cell = t.events.groupBy(
        F.when(
            F.pmod(
                F.pmod(F.col("user_id"), F.lit(100000)) * F.lit(2654435761),
                F.lit(100),
            )
            < 50,
            "A",
        )
        .otherwise("B")
        .alias("arm"),
        F.when(F.col("ts") < F.lit(_DID_SPLIT).cast("timestamp"), "pre")
        .otherwise("post")
        .alias("period"),
        "user_id",
    ).agg(
        F.sum(
            F.when(F.col("event_type") == "purchase", F.col("value")).otherwise(0.0)
        ).alias("x")
    )
    m = cell.groupBy("arm", "period").agg(F.avg("x").alias("mean_x"))
    pick = lambda a, p: F.max(  # noqa: E731
        F.when((F.col("arm") == a) & (F.col("period") == p), F.col("mean_x"))
    )
    wide = m.agg(
        pick("A", "pre").alias("a_pre"),
        pick("A", "post").alias("a_post"),
        pick("B", "pre").alias("b_pre"),
        pick("B", "post").alias("b_post"),
    )
    return wide.select(
        F.round("a_pre", 6).alias("a_pre"),
        F.round("a_post", 6).alias("a_post"),
        F.round("b_pre", 6).alias("b_pre"),
        F.round("b_post", 6).alias("b_post"),
        F.round(
            (F.col("b_post") - F.col("b_pre")) - (F.col("a_post") - F.col("a_pre")), 6
        ).alias("did_estimate"),
    )


@query(
    "events_propensity_stratified_ate",
    oracle="""
    WITH act AS (
        SELECT user_id,
               CASE WHEN ((user_id % 100000) * 2654435761) % 100 < 50
                    THEN 'A' ELSE 'B' END AS arm,
               CAST(count(*) AS BIGINT) AS n_events,
               max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted
        FROM events GROUP BY user_id
    ),
    strat AS (
        SELECT arm, converted,
               CAST(greatest(least(floor((n_events - 40) / 10), 4), 0) AS BIGINT)
                   AS stratum
        FROM act
    ),
    cells AS (
        SELECT stratum,
               CAST(count(*) FILTER (WHERE arm = 'A') AS BIGINT)  AS n_a,
               CAST(count(*) FILTER (WHERE arm = 'B') AS BIGINT)  AS n_b,
               avg(CASE WHEN arm = 'A' THEN converted * 1.0 END)  AS rate_a,
               avg(CASE WHEN arm = 'B' THEN converted * 1.0 END)  AS rate_b
        FROM strat GROUP BY stratum
    )
    SELECT stratum, n_a, n_b,
           round(rate_a, 6) AS rate_a,
           round(rate_b, 6) AS rate_b,
           round(rate_b - rate_a, 6) AS stratum_effect,
           round(sum((rate_b - rate_a) * (n_a + n_b))
                     OVER () * 1.0 / sum(n_a + n_b) OVER (), 6) AS ate_stratified
    FROM cells
    """,
)
def events_propensity_stratified_ate(t: Tables) -> DataFrame:
    """Stratified average treatment effect: users bucketed by an
    activity stratum (events/10, capped — the observable confounder a
    propensity score would model),
    conversion-rate difference per
    stratum, and the stratum-size-weighted ATE — the standard
    subclassification estimator (Cochran 1968) that removes the
    confounding a raw A-vs-B comparison carries when activity predicts
    both assignment exposure and conversion. Per-stratum effects ALSO
    surface heterogeneity (does the treatment only move heavy users?),
    which the single-number events_ab_test cannot. Fixed literal
    stratum bounds — no quantile pass, comparable across runs.

    Scale: one per-user collapse (map-side combined), one 5-group
    conditional agg, windows over the 5-row stratum frame."""
    act = t.events.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("converted"),
    )
    strat = act.select(
        F.when(
            F.pmod(
                F.pmod(F.col("user_id"), F.lit(100000)) * F.lit(2654435761),
                F.lit(100),
            )
            < 50,
            "A",
        )
        .otherwise("B")
        .alias("arm"),
        "converted",
        F.greatest(
            F.least(F.floor((F.col("n_events") - 40) / 10), F.lit(4)), F.lit(0)
        )
        .cast("long")
        .alias("stratum"),
    )
    cells = strat.groupBy("stratum").agg(
        F.count(F.when(F.col("arm") == "A", 1)).cast("long").alias("n_a"),
        F.count(F.when(F.col("arm") == "B", 1)).cast("long").alias("n_b"),
        F.avg(F.when(F.col("arm") == "A", F.col("converted") * 1.0)).alias("rate_a"),
        F.avg(F.when(F.col("arm") == "B", F.col("converted") * 1.0)).alias("rate_b"),
    )
    w = Window.partitionBy()
    eff = F.col("rate_b") - F.col("rate_a")
    n_tot = F.col("n_a") + F.col("n_b")
    return cells.select(
        "stratum",
        "n_a",
        "n_b",
        F.round("rate_a", 6).alias("rate_a"),
        F.round("rate_b", 6).alias("rate_b"),
        F.round(eff, 6).alias("stratum_effect"),
        F.round(
            F.sum(eff * n_tot).over(w) * 1.0 / F.sum(n_tot).over(w), 6
        ).alias("ate_stratified"),
    )


@query(
    "orders_mix_shift_decomposition",
    oracle="""
    WITH seg AS (
        SELECT o_orderpriority AS segment,
               CASE WHEN o_orderdate < TIMESTAMP '1998-01-01' THEN 'pre' ELSE 'post' END
                   AS period,
               CAST(count(*) AS BIGINT) AS n,
               avg(o_totalprice)        AS p
        FROM orders GROUP BY segment, period
    ),
    wide AS (
        SELECT segment,
               coalesce(max(CASE WHEN period = 'pre'  THEN n END), 0)   AS n_pre,
               coalesce(max(CASE WHEN period = 'post' THEN n END), 0)   AS n_post,
               coalesce(max(CASE WHEN period = 'pre'  THEN p END), 0.0) AS p_pre,
               coalesce(max(CASE WHEN period = 'post' THEN p END), 0.0) AS p_post
        FROM seg GROUP BY segment
    )
    SELECT segment,
           CAST(n_pre AS BIGINT)  AS n_pre,
           CAST(n_post AS BIGINT) AS n_post,
           round(p_pre, 2)        AS avg_price_pre,
           round(p_post, 2)       AS avg_price_post,
           round((n_post - n_pre) * p_pre, 2)                       AS volume_effect,
           round(n_pre * (p_post - p_pre), 2)                       AS price_effect,
           round((n_post - n_pre) * (p_post - p_pre), 2)            AS mix_effect,
           round(n_post * p_post - n_pre * p_pre, 2)                AS total_delta
    FROM wide
    """,
)
def orders_mix_shift_decomposition(t: Tables) -> DataFrame:
    """Revenue-bridge decomposition per segment (Laspeyres
    volume/price/mix split — the Oaxaca-Blinder family applied to the
    revenue bridge): for each order priority, the pre->post revenue
    change splits EXACTLY into volume effect (Δn·p_pre), price effect
    (n_pre·Δp) and the interaction mix term — the finance answer to
    'did revenue move because we sold MORE or because prices moved',
    with the identity volume+price+mix == total_delta verifiable per
    row. Completes the drift family: etl_psi_drift detects THAT the
    distribution moved, this attributes WHERE the money moved.

    Scale: one (segment, period) map-side hash agg; the pivot and all
    arithmetic run on the segment-bounded frame. coalesce(0) keeps a
    segment absent from one period exact (its whole delta is volume)."""
    seg = t.orders.groupBy(
        F.col("o_orderpriority").alias("segment"),
        F.when(F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"), "pre")
        .otherwise("post")
        .alias("period"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.avg("o_totalprice").alias("p"),
    )
    pick = lambda p, c: F.max(F.when(F.col("period") == p, F.col(c)))  # noqa: E731
    wide = seg.groupBy("segment").agg(
        F.coalesce(pick("pre", "n"), F.lit(0)).alias("n_pre"),
        F.coalesce(pick("post", "n"), F.lit(0)).alias("n_post"),
        F.coalesce(pick("pre", "p"), F.lit(0.0)).alias("p_pre"),
        F.coalesce(pick("post", "p"), F.lit(0.0)).alias("p_post"),
    )
    dn = F.col("n_post") - F.col("n_pre")
    dp = F.col("p_post") - F.col("p_pre")
    return wide.select(
        "segment",
        F.col("n_pre").cast("long").alias("n_pre"),
        F.col("n_post").cast("long").alias("n_post"),
        F.round("p_pre", 2).alias("avg_price_pre"),
        F.round("p_post", 2).alias("avg_price_post"),
        F.round(dn * F.col("p_pre"), 2).alias("volume_effect"),
        F.round(F.col("n_pre") * dp, 2).alias("price_effect"),
        F.round(dn * dp, 2).alias("mix_effect"),
        F.round(
            F.col("n_post") * F.col("p_post") - F.col("n_pre") * F.col("p_pre"), 2
        ).alias("total_delta"),
    )


_MARKOV_MAX_ROUNDS = 500
_MARKOV_TOL = 1e-12


@query("events_markov_stationary", oracle=None)  # R: iterative fixed point —
# stationarity/simplex/eigenvector self-checks in tests
def events_markov_stationary(t: Tables) -> DataFrame:
    """Stationary distribution of the user-behavior Markov chain — the
    long-run fraction of activity each event type absorbs, the summary
    a capacity planner or engagement model reads off the transition
    matrix (events_transition_matrix's row-normalized P, construction
    reused verbatim): power-iterate pi' = pi.P from uniform until
    max|delta| < 1e-12.

    The DISTRIBUTED work is the transition counting (user-partitioned
    lag window + pair agg — the parent's plan); the iteration runs
    driver-side over the collected |event_types|^2 matrix, which is
    SCHEMA-bounded (~25 cells) — the sim_topk_pq bounded-driver-table
    class, not a data-sized collect. States with no outgoing
    transitions (possible on degenerate fixtures) redistribute
    uniformly (the standard dangling-state patch), keeping P row-
    stochastic so the fixed point exists. Rows-only (iterative); tests
    pin stationarity (||pi.P - pi|| ~ 0), the probability simplex, and
    agreement with numpy's dominant left eigenvector."""
    from base_etl_spark.registry import REGISTRY

    pm = REGISTRY["events_transition_matrix"].fn.tables_fn(t)
    rows = pm.select("prev", "curr", "n_transitions").collect()
    if not rows:
        return local_frame(
            t.events.sparkSession, [], "event_type string, stationary_p double, n_rounds int"
        )
    states = sorted({r.prev for r in rows} | {r.curr for r in rows})
    idx = {s: i for i, s in enumerate(states)}
    k = len(states)
    import numpy as np

    counts = np.zeros((k, k), dtype=np.float64)
    for r in rows:
        counts[idx[r.prev], idx[r.curr]] = float(r.n_transitions)
    row_sums = counts.sum(axis=1, keepdims=True)
    p = np.where(row_sums > 0, counts / np.where(row_sums == 0, 1, row_sums), 1.0 / k)
    pi = np.full(k, 1.0 / k)
    rounds = 0
    for rounds in range(1, _MARKOV_MAX_ROUNDS + 1):
        nxt = pi @ p
        if np.abs(nxt - pi).max() < _MARKOV_TOL:
            pi = nxt
            break
        pi = nxt
    else:
        raise RuntimeError(
            f"events_markov_stationary: no convergence in {_MARKOV_MAX_ROUNDS} rounds"
        )
    out = [(s, round(float(pi[idx[s]]), 9), rounds) for s in states]
    return local_frame(
        t.events.sparkSession, out, "event_type string, stationary_p double, n_rounds int"
    )


@query(
    "orders_xyz_variability",
    oracle="""
    WITH m AS (
        SELECT l_partkey,
               CAST(date_trunc('month', l_shipdate) AS DATE) AS mo,
               sum(l_quantity) AS qty
        FROM lineitem GROUP BY 1, 2
    ),
    cv AS (
        SELECT l_partkey,
               CAST(count(*) AS BIGINT) AS n_months,
               round(CASE WHEN avg(qty) > 0
                          THEN stddev_pop(qty) / avg(qty) ELSE 0 END, 6) AS cv
        FROM m GROUP BY l_partkey
    ),
    cls AS (
        SELECT CASE WHEN cv < 0.5 THEN 'X'
                    WHEN cv < 1.0 THEN 'Y'
                    ELSE 'Z' END AS xyz_class,
               cv
        FROM cv
    )
    SELECT xyz_class,
           CAST(count(*) AS BIGINT) AS n_parts,
           round(sum(CAST(round(cv * 1000000, 0) AS BIGINT))
                 * 1.0 / count(*) / 1000000, 6) AS avg_cv
    FROM cls GROUP BY xyz_class
    """,
)
def orders_xyz_variability(t: Tables) -> DataFrame:
    """XYZ demand-variability classification — win_pareto_abc's standard
    supply-chain companion (together they form the ABC-XYZ planning
    matrix): per part, the coefficient of variation of MONTHLY demand
    quantity (stddev_pop/mean over the part's observed sales months —
    population stddev, pinned: sample stddev diverges between engines
    on 1-month parts where it is NULL vs 0), classed X (steady,
    cv<0.5) / Y (variable, <1.0) / Z (erratic) on the 6dp-ROUNDED cv so
    the class boundary cannot flip cross-engine, then a 3-row census
    with the class's mean cv aggregated as exact integer micro-units
    (the sim_pq_distortion lesson: avg of rounded doubles re-introduces
    summation-order ulp).

    Scale: one (part, month) hash agg, one part-keyed moment agg, one
    3-group census — every stage map-side combinable, no windows."""
    m = t.lineitem.groupBy(
        "l_partkey", F.date_trunc("month", "l_shipdate").cast("date").alias("mo")
    ).agg(F.sum("l_quantity").alias("qty"))
    cv_raw = F.when(
        F.avg("qty") > 0, F.stddev_pop("qty") / F.avg("qty")
    ).otherwise(F.lit(0.0))
    cv = m.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_months"),
        F.round(cv_raw, 6).alias("cv"),
    )
    cls = cv.select(
        F.when(F.col("cv") < 0.5, "X")
        .when(F.col("cv") < 1.0, "Y")
        .otherwise("Z")
        .alias("xyz_class"),
        "cv",
    )
    micro = F.round(F.col("cv") * 1e6, 0).cast("long")
    return cls.groupBy("xyz_class").agg(
        F.count(F.lit(1)).cast("long").alias("n_parts"),
        F.round(F.sum(micro) * F.lit(1.0) / F.count(F.lit(1)) / F.lit(1e6), 6).alias(
            "avg_cv"
        ),
    )


@query(
    "events_qini_uplift",
    oracle="""
    WITH u AS (
        SELECT user_id,
               CAST(count(*) AS BIGINT) AS score,
               max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv,
               CASE WHEN ((user_id % 100000) * 2654435761) % 100 < 50
                    THEN 'T' ELSE 'C' END AS arm
        FROM events GROUP BY user_id
    ),
    d AS (
        SELECT arm, conv,
               ntile(10) OVER (ORDER BY score DESC, user_id) AS decile
        FROM u
    ),
    g AS (
        SELECT decile,
               CAST(sum(CASE WHEN arm = 'T' THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
               CAST(sum(CASE WHEN arm = 'C' THEN 1 ELSE 0 END) AS BIGINT) AS n_c,
               CAST(sum(CASE WHEN arm = 'T' THEN conv ELSE 0 END) AS BIGINT) AS conv_t,
               CAST(sum(CASE WHEN arm = 'C' THEN conv ELSE 0 END) AS BIGINT) AS conv_c
        FROM d GROUP BY decile
    )
    SELECT decile, n_t, n_c, conv_t, conv_c,
           round(conv_t * 1.0 / nullif(n_t, 0)
                 - conv_c * 1.0 / nullif(n_c, 0), 6)           AS uplift_rate,
           round(sum(conv_t) OVER w
                 - sum(conv_c) OVER w * 1.0
                   * sum(n_t) OVER w / nullif(sum(n_c) OVER w, 0), 6) AS qini_cum
    FROM g
    WINDOW w AS (ORDER BY decile ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def events_qini_uplift(t: Tables) -> DataFrame:
    """Qini / uplift-by-decile table — the evaluation an uplift model
    (who to TARGET, not who converts) is judged by: users rank by an
    engagement score (event count — the deterministic stand-in any
    model score swaps into), cut into global deciles (the
    agg_decile_lift ntile recipe: total order, engine-neutral buckets),
    and each decile reports treated-minus-control conversion uplift
    plus the cumulative Qini statistic qini_k = cumCT - cumCC *
    cumNT/cumNC (Radcliffe's standard curve numerator — the area under
    it is the Qini coefficient). Arm assignment reuses events_ab_test's
    masked Knuth multiplicative hash verbatim, so the experiment keys
    agree on who is treated.

    Determinism: all inputs to every ratio are exact integers
    (counts/cums); ratios round at 6dp. Scale: one per-user collapse,
    one global ntile over the collapsed frame (declared exact tier —
    two-phase rank rewrite applies verbatim at billions of users), one
    10-row window."""
    u = t.events.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("score"),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("conv"),
    ).select(
        "user_id",
        "score",
        "conv",
        F.when(
            F.pmod(
                F.pmod(F.col("user_id"), F.lit(100000)) * F.lit(2654435761), F.lit(100)
            )
            < 50,
            "T",
        )
        .otherwise("C")
        .alias("arm"),
    )
    d = u.select(
        "arm",
        "conv",
        F.ntile(10).over(Window.orderBy(F.desc("score"), F.asc("user_id"))).alias("decile"),
    )
    g = d.groupBy("decile").agg(
        F.sum(F.when(F.col("arm") == "T", 1).otherwise(0)).cast("long").alias("n_t"),
        F.sum(F.when(F.col("arm") == "C", 1).otherwise(0)).cast("long").alias("n_c"),
        F.sum(F.when(F.col("arm") == "T", F.col("conv")).otherwise(0))
        .cast("long")
        .alias("conv_t"),
        F.sum(F.when(F.col("arm") == "C", F.col("conv")).otherwise(0))
        .cast("long")
        .alias("conv_c"),
    )
    w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return g.select(
        "decile",
        "n_t",
        "n_c",
        "conv_t",
        "conv_c",
        F.round(
            F.col("conv_t") * 1.0 / F.nullif(F.col("n_t"), F.lit(0))
            - F.col("conv_c") * 1.0 / F.nullif(F.col("n_c"), F.lit(0)),
            6,
        ).alias("uplift_rate"),
        F.round(
            F.sum("conv_t").over(w)
            - F.sum("conv_c").over(w)
            * F.lit(1.0)
            * F.sum("n_t").over(w)
            / F.nullif(F.sum("n_c").over(w), F.lit(0)),
            6,
        ).alias("qini_cum"),
    )
