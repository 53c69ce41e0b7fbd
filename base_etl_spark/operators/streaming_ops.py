"""Streaming-style operators over the events table (SURVEY §2.9).

Batch-first: every shape below is expressed so the SAME expression
compiles under Structured Streaming (`F.window`, `session_window`,
`dropDuplicates` are mode-agnostic). The thin readStream/writeStream
wrappers + watermarking live in base_etl_spark/streaming/; tests verify
micro-batch == batch equivalence.

Alignment note: Spark window() and session_window() align to the Unix
epoch, as do the oracle's date_trunc / integer-microsecond constructions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from base_etl_spark.io import Tables
from base_etl_spark.registry import query

_US_15MIN = 15 * 60 * 1_000_000
_US_30MIN = 30 * 60 * 1_000_000


@query(
    "stream_tumbling",
    oracle="""
    SELECT event_type,
           date_trunc('hour', ts)  AS window_start,
           count(*)                AS n_events,
           round(sum(value), 2)    AS sum_value
    FROM events
    GROUP BY event_type, date_trunc('hour', ts)
    """,
)
def stream_tumbling(t: Tables) -> DataFrame:
    """1-hour tumbling window per event type. Epoch-aligned hourly windows
    coincide with date_trunc('hour') — that equivalence is the oracle."""
    return (
        t.events.groupBy("event_type", F.window("ts", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select("event_type", F.col("window.start").alias("window_start"), "n_events", "sum_value")
    )


@query(
    "stream_sliding",
    oracle=f"""
    WITH slid AS (
        SELECT event_type, value,
               make_timestamp((epoch_us(ts) // {_US_15MIN}) * {_US_15MIN}
                              - cast(k AS bigint) * {_US_15MIN}) AS window_start
        FROM events, unnest([0, 1, 2, 3]) AS u(k)
    )
    SELECT event_type, window_start,
           count(*)             AS n_events,
           round(sum(value), 2) AS sum_value
    FROM slid
    GROUP BY event_type, window_start
    """,
)
def stream_sliding(t: Tables) -> DataFrame:
    """1-hour window sliding every 15 min: each event lands in exactly 4
    windows. The oracle materializes the same 4 epoch-aligned starts per
    event explicitly."""
    return (
        t.events.groupBy("event_type", F.window("ts", "1 hour", "15 minutes"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select("event_type", F.col("window.start").alias("window_start"), "n_events", "sum_value")
    )


@query(
    "stream_session",
    oracle=f"""
    WITH e AS (
        SELECT user_id, ts, value, event_id,
               CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER
                        (PARTITION BY user_id ORDER BY ts, event_id) > {_US_30MIN}
                    THEN 1 ELSE 0 END AS new_sess
        FROM events
    ),
    s AS (
        SELECT user_id, ts, value,
               sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING) AS sess_id
        FROM e
    )
    SELECT user_id,
           min(ts)              AS session_start,
           count(*)             AS n_events,
           round(sum(value), 2) AS sum_value
    FROM s GROUP BY user_id, sess_id
    """,
)
def stream_session(t: Tables) -> DataFrame:
    """Session windows, 30-min gap, per user. Boundary semantics measured
    empirically (fuzz harness, r5): Spark MERGES an event landing exactly
    at last_ts + gap — the per-event interval [ts, ts+gap) is unioned
    with adjacency (new_start <= prev_end merges) — so only a strictly
    larger gap starts a new session; hence the strict > in the oracle's
    gaps-and-islands flag. (An earlier reading assumed an exclusive end /
    >= split; the fixtures carry no exact-gap pair, so the error was
    invisible until the fuzzer constructed one.)"""
    return (
        t.events.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(
            F.min("ts").alias("session_start"),
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select("user_id", "session_start", "n_events", "sum_value")
    )


@query(
    "stream_dedup",
    oracle="""
    SELECT event_id, user_id, event_type, ts
    FROM events
    QUALIFY row_number() OVER (PARTITION BY user_id, event_type
                               ORDER BY ts, event_id) = 1
    """,
)
def stream_dedup(t: Tables) -> DataFrame:
    """Keep the first event (by ts, then event_id) per (user, type).

    Batch uses an explicit row_number so 'first' is total-ordered and
    engine-checkable; dropDuplicates() in batch keeps an ARBITRARY row,
    which is unverifiable. The streaming twin (withWatermark +
    dropDuplicates) keeps first-by-arrival — see streaming/jobs.py."""
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        t.events.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("event_id", "user_id", "event_type", "ts")
    )


@query("stream_late_data", oracle=None)  # R: watermark is a runtime concept
def stream_late_data(t: Tables) -> DataFrame:
    """Watermark semantics, batch-emulated: drop events older than
    (global max ts - 1 hour), then 15-min tumbling counts.

    Rows-only BY DESIGN — the only R row with no exact SQL twin, because
    a watermark is a runtime concept (which rows are 'late' depends on
    arrival order, not data). It is NOT untested: the selfcheck battery's
    `_chk_late_data` pins the horizon property (every surviving window
    lies within watermark+window of max ts, and the report is non-empty
    whenever an event has a timestamp), and
    tests/test_streaming.py runs the real withWatermark micro-batch
    queries (EventTimeWatermark plan node asserted; tumbling/dedup/
    stateful outputs equal their batch twins) — the strongest cross-checks
    watermark semantics admit."""
    max_ts = t.events.agg(F.max("ts").alias("max_ts"))
    kept = t.events.crossJoin(F.broadcast(max_ts)).filter(
        F.col("ts") >= F.col("max_ts") - F.expr("INTERVAL 1 HOUR")
    )
    return (
        kept.groupBy(F.window("ts", "15 minutes"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("window.start").alias("window_start"), "n_events")
    )


@query(
    "stream_stateful",
    oracle="""
    WITH c AS (
        SELECT user_id, event_id, ts,
               cast(floor(value * 100.0 + 0.5) AS bigint) AS cents
        FROM events
    )
    SELECT user_id, event_id, ts,
           sum(cents) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) / 100.0 AS cum_value
    FROM c
    """,
)
def stream_stateful(t: Tables) -> DataFrame:
    """Running per-user cumulative value — the canonical stateful shape.
    Batch: one ordered window pass (exact integer cents, see windows.py
    rationale). Streaming: applyInPandasWithState in streaming/jobs.py."""
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cents = F.floor(F.col("value") * 100.0 + F.lit(0.5)).cast("bigint")
    return t.events.select(
        "user_id", "event_id", "ts", (F.sum(cents).over(w) / 100.0).alias("cum_value")
    )


@query(
    "rollup_multigrain",
    oracle="""
    WITH hourly AS (
        SELECT event_type, date_trunc('hour', ts) AS bucket_ts,
               count(*) AS n_events, sum(value) AS sum_raw
        FROM events GROUP BY 1, 2
    )
    SELECT 'hour' AS grain, event_type, bucket_ts, n_events,
           round(sum_raw, 2) AS sum_value
    FROM hourly
    UNION ALL
    SELECT 'day', event_type, date_trunc('day', bucket_ts),
           CAST(sum(n_events) AS BIGINT), round(sum(sum_raw), 2)
    FROM hourly GROUP BY 2, 3
    """,
)
def rollup_multigrain(t: Tables) -> DataFrame:
    """Hour + day rollup in one result (hypertable continuous-aggregate
    shape): the DAY grain re-aggregates the HOUR grain's partial sums
    instead of rescanning events — count and sum are reaggregatable, so
    the day leg touches 24x fewer rows than the fact table. At 100 TB the
    hourly aggregate is what you'd materialize incrementally (see
    streaming/jobs.py); every coarser grain derives from it the same way.
    Rounding happens once at output so both grains round the SAME raw
    partials (the oracle mirrors this)."""
    hourly = t.events.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("bucket_ts")
    ).agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_raw"))
    daily = hourly.groupBy(
        "event_type", F.date_trunc("day", "bucket_ts").alias("bucket_ts")
    ).agg(F.sum("n_events").alias("n_events"), F.sum("sum_raw").alias("sum_raw"))
    out_cols = [
        "grain", "event_type", "bucket_ts", "n_events",
        F.round("sum_raw", 2).alias("sum_value"),
    ]
    return (
        hourly.withColumn("grain", F.lit("hour")).select(*out_cols)
        .unionByName(daily.withColumn("grain", F.lit("day")).select(*out_cols))
    )


@query(
    "events_funnel",
    oracle="""
    WITH v AS (
        SELECT user_id, min(ts) AS t_view
        FROM events WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
        SELECT e.user_id, min(e.ts) AS t_click
        FROM events e JOIN v ON e.user_id = v.user_id
        WHERE e.event_type = 'click' AND e.ts > v.t_view
        GROUP BY e.user_id
    ),
    p AS (
        SELECT e.user_id, min(e.ts) AS t_purchase
        FROM events e JOIN c ON e.user_id = c.user_id
        WHERE e.event_type = 'purchase' AND e.ts > c.t_click
        GROUP BY e.user_id
    )
    SELECT v.user_id, v.t_view, c.t_click, p.t_purchase,
           1 + CASE WHEN c.user_id IS NULL THEN 0 ELSE 1 END
             + CASE WHEN p.user_id IS NULL THEN 0 ELSE 1 END AS funnel_stage
    FROM v
    LEFT JOIN c ON v.user_id = c.user_id
    LEFT JOIN p ON v.user_id = p.user_id
    """,
)
def events_funnel(t: Tables) -> DataFrame:
    """Ordered conversion funnel per user: first view, first click AFTER
    that view, first purchase AFTER that click; funnel_stage = how deep
    the user got (1-3).

    Sequence analytics without a session window: each stage is a scan
    with the event_type filter PUSHED TO PARQUET (a stage touches only
    its own event type's row groups) aggregated to one row per user, then
    stages chain by (user_id) equi joins with the strictly-after
    predicate. Every shuffle in the plan is keyed on user_id, so AQE can
    reuse the exchange layout; nothing ever sorts the fact table."""
    e = t.events
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id").agg(F.min("ts").alias("t_view"))
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id").agg(F.min("ts").alias("t_click"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id").agg(F.min("ts").alias("t_purchase"))
    )
    stage = (
        F.lit(1)
        + F.when(F.col("t_click").isNull(), 0).otherwise(1)
        + F.when(F.col("t_purchase").isNull(), 0).otherwise(1)
    )
    return (
        v.join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .select("user_id", "t_view", "t_click", "t_purchase", stage.alias("funnel_stage"))
    )


@query(
    "rollup_incremental",
    oracle="""
    SELECT event_type,
           date_trunc('hour', ts) AS bucket_ts,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 2)     AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def rollup_incremental(t: Tables) -> DataFrame:
    """Incremental maintenance of the hourly rollup: merge a pre-existing
    aggregate (events before the last day) with the new day's partial —
    the oracle proves merged == full recompute, i.e. the aggregate is
    correctly algebraic and the materialized table never needs a rescan.

    This is the daily batch twin of a streaming continuous aggregate: at
    100 TB you store the hourly partials (n, raw sum) partitioned by day
    and fold in each new day with one partial-agg + one merge agg over
    ONLY the touched hours — the historical fact table is never re-read
    (here both sides derive from the fixture because queries are pure
    reads, but the merge algebra is the deployed path). Counts and sums
    merge losslessly; the 2dp money round happens once, after the merge.
    The split is deliberately NOT hour-aligned so the boundary hour has
    partials on BOTH sides — the merge genuinely combines them rather
    than concatenating disjoint groups."""
    split_ts = F.to_timestamp(F.lit("2024-01-30 12:30:00"))
    hourly = lambda df: df.groupBy(  # noqa: E731 — partial aggregate
        "event_type", F.date_trunc("hour", "ts").alias("bucket_ts")
    ).agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_raw"))
    existing = hourly(t.events.filter(F.col("ts") < split_ts))
    delta = hourly(t.events.filter(F.col("ts") >= split_ts))
    merged = (
        existing.unionByName(delta)
        .groupBy("event_type", "bucket_ts")
        .agg(F.sum("n_events").alias("n_events"), F.sum("sum_raw").alias("sum_raw"))
    )
    return merged.select(
        "event_type",
        "bucket_ts",
        F.col("n_events").cast("long").alias("n_events"),
        F.round("sum_raw", 2).alias("sum_value"),
    )


@query(
    "stream_topk_windowed",
    oracle="""
    WITH hourly AS (
        SELECT date_trunc('hour', ts) AS window_start, event_type,
               count(*) AS n_events
        FROM events GROUP BY 1, 2
    )
    SELECT window_start, event_type, n_events, rn
    FROM (
        SELECT *, row_number() OVER (PARTITION BY window_start
                                     ORDER BY n_events DESC, event_type) AS rn
        FROM hourly
    ) WHERE rn <= 3
    """,
)
def stream_topk_windowed(t: Tables) -> DataFrame:
    """Top-3 event types per hour — the canonical live-dashboard rollup
    (windowed aggregate + rank composition). Two shuffles: the hourly
    hash agg (partial+final), then a rank window partitioned by the
    window start — the window input is one row per (hour, type), so the
    rank never sees raw events; ties pinned by event_type. The same agg
    runs under Structured Streaming with the rank applied per micro-batch
    output (foreachBatch) or by the serving layer."""
    hourly = t.events.groupBy(
        F.window("ts", "1 hour").getField("start").alias("window_start"),
        "event_type",
    ).agg(F.count(F.lit(1)).alias("n_events"))
    w = Window.partitionBy("window_start").orderBy(
        F.desc("n_events"), F.asc("event_type")
    )
    return hourly.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 3)


@query(
    "stream_sliding_distinct",
    oracle=f"""
    WITH slid AS (
        SELECT user_id,
               make_timestamp((epoch_us(ts) // {_US_15MIN}) * {_US_15MIN}
                              - cast(k AS bigint) * {_US_15MIN}) AS window_start
        FROM events, unnest([0, 1, 2, 3]) AS u(k)
    )
    SELECT window_start, count(DISTINCT user_id) AS n_users
    FROM slid GROUP BY window_start
    """,
)
def stream_sliding_distinct(t: Tables) -> DataFrame:
    """Sliding-window DISTINCT users (1 h window, 15 min slide): the
    uniques-per-window dashboard metric. Unlike additive counts, distinct
    does NOT merge across panes — the expansion to (window, user) pairs
    is the honest cost (4× rows here, slide-ratio× in general), which is
    exactly why production replaces it with the HLL sketch tier
    (sketch_hll_rollup) once windows get wide. Exact tier stays the
    correctness oracle."""
    return (
        t.events.groupBy(F.window("ts", "1 hour", "15 minutes"))
        .agg(F.countDistinct("user_id").alias("n_users"))
        .select(F.col("window.start").alias("window_start"), "n_users")
    )


@query(
    "stream_interval_join",
    oracle="""
    SELECT p.event_id  AS purchase_id,
           p.user_id,
           p.ts        AS purchase_ts,
           c.event_id  AS click_id,
           c.ts        AS click_ts
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id
     AND c.ts <= p.ts
     AND c.ts >= p.ts - INTERVAL 1 HOUR
    """,
)
def stream_interval_join(t: Tables) -> DataFrame:
    """Batch twin of streaming/jobs.py::streaming_interval_join — ALL
    (purchase, click) pairs per user within a 1-hour lookback, the
    stream-stream interval join whose two-sided event-time bound is
    what lets Structured Streaming expire buffered state. The streaming
    surface already carries micro-batch == batch equivalence tests
    (tests/test_streaming.py); this registry key puts the SAME join
    expression under the driver's hash-oracle gate, so the semantics
    the streaming twin inherits are externally verified. Differs from
    events_attribution (as-of, LAST touch only): this emits every
    qualifying pair — the fan-out shape feeding attribution models that
    weight multiple touches.

    Plan: both sides are pushdown-filtered event-type scans shuffled
    once on user_id; the range predicate evaluates inside the sort-merge
    join. At 100 TB the 1-hour bound is the state/fan-out bound — the
    same bound that makes the streaming variant's state finite."""
    p = t.events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
    )
    c = t.events.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
    )
    return p.join(
        c,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 1 HOUR")),
    ).select("purchase_id", "user_id", "purchase_ts", "click_id", "click_ts")


@query(
    "stream_interval_join_outer",
    oracle="""
    SELECT p.event_id  AS purchase_id,
           p.user_id,
           p.ts        AS purchase_ts,
           c.event_id  AS click_id,
           c.ts        AS click_ts
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id
     AND c.ts <= p.ts
     AND c.ts >= p.ts - INTERVAL 1 HOUR
    """,
)
def stream_interval_join_outer(t: Tables) -> DataFrame:
    """Batch twin of streaming/jobs.py::streaming_interval_join_outer —
    the LEFT OUTER variant of stream_interval_join: purchases with NO
    qualifying click are still emitted with NULL click columns, the
    attribution join where unattributed conversions matter as much as
    attributed ones. In streaming mode the watermark is what makes the
    null-extension provable (no future click can still match); in batch
    the outer join states the same contract directly, so the driver's
    hash gate certifies the semantics the streaming twin inherits.

    Plan: identical to stream_interval_join with outer null-extension —
    two pushdown-filtered scans, one user_id shuffle each, range
    predicate inside the sort-merge join."""
    p = t.events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
    )
    c = t.events.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
    )
    return p.join(
        c,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 1 HOUR")),
        "left",
    ).select("purchase_id", "user_id", "purchase_ts", "click_id", "click_ts")


_FUNNEL_GATE_HOURS = 24  # max allowed lag between consecutive stages


@query(
    "events_funnel_time_gated",
    oracle=f"""
    WITH v AS (
        SELECT user_id, min(ts) AS t_view
        FROM events WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
        SELECT e.user_id, min(e.ts) AS t_click
        FROM events e JOIN v ON e.user_id = v.user_id
        WHERE e.event_type = 'click' AND e.ts > v.t_view
          AND e.ts <= v.t_view + INTERVAL {_FUNNEL_GATE_HOURS} HOUR
        GROUP BY e.user_id
    ),
    p AS (
        SELECT e.user_id, min(e.ts) AS t_purchase
        FROM events e JOIN c ON e.user_id = c.user_id
        WHERE e.event_type = 'purchase' AND e.ts > c.t_click
          AND e.ts <= c.t_click + INTERVAL {_FUNNEL_GATE_HOURS} HOUR
        GROUP BY e.user_id
    )
    SELECT CAST(count(*) AS BIGINT)                        AS n_viewed,
           CAST(count(c.user_id) AS BIGINT)                AS n_clicked_24h,
           CAST(count(p.user_id) AS BIGINT)                AS n_purchased_24h,
           round(count(c.user_id) * 1.0 / count(*), 6)     AS view_to_click,
           round(count(p.user_id) * 1.0
                 / nullif(count(c.user_id), 0), 6)         AS click_to_purchase
    FROM v
    LEFT JOIN c ON v.user_id = c.user_id
    LEFT JOIN p ON v.user_id = p.user_id
    """,
)
def events_funnel_time_gated(t: Tables) -> DataFrame:
    """Time-gated conversion funnel: view -> click -> purchase where
    each step must land within 24 h of the previous one — the form
    product analytics actually reports ('same-day conversion'), because
    the ungated funnel (events_funnel) credits a purchase months after
    the click. Same stage-chaining plan as the parent (per-stage
    pushdown-filtered scans, user-keyed equi joins, strictly-after
    predicate) with the gate as an additional range predicate on the
    SAME join — no new join shape, no window. Reported as stage counts
    + conversion rates (the funnel chart's numbers); nullif guards the
    zero-click corpus.

    Scale: identical to events_funnel — every shuffle keyed on user_id,
    the gate predicate evaluates inside the join's codegen."""
    e = t.events
    gate = F.expr(f"INTERVAL {_FUNNEL_GATE_HOURS} HOURS")
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id").agg(F.min("ts").alias("t_view"))
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter((F.col("ts") > F.col("t_view")) & (F.col("ts") <= F.col("t_view") + gate))
        .groupBy("user_id").agg(F.min("ts").alias("t_click"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter((F.col("ts") > F.col("t_click")) & (F.col("ts") <= F.col("t_click") + gate))
        .groupBy("user_id").agg(F.min("ts").alias("t_purchase"))
    )
    joined = (
        v.join(c.select("user_id", "t_click"), "user_id", "left")
        .join(p.select("user_id", "t_purchase"), "user_id", "left")
    )
    return joined.agg(
        F.count(F.lit(1)).cast("long").alias("n_viewed"),
        F.count("t_click").cast("long").alias("n_clicked_24h"),
        F.count("t_purchase").cast("long").alias("n_purchased_24h"),
        F.round(F.count("t_click") * 1.0 / F.count(F.lit(1)), 6).alias("view_to_click"),
        F.round(
            F.count("t_purchase") * 1.0 / F.nullif(F.count("t_click"), F.lit(0)), 6
        ).alias("click_to_purchase"),
    )
