"""Table profiling — the daily-ETL data-quality staple: one pass over a
table produces per-column stats (count, nulls, distincts, min/max).

Implementation: a single wide aggregate (2 exprs per column ≈ one
scan, one reduce) rather than per-column jobs; the per-column rows are
unpivoted from the single aggregate row, so profiling a 100-column table
at 100 TB still costs exactly one scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from base_etl_spark.io import Tables, local_frame
from base_etl_spark.registry import query


def profile(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """(column, n_rows, n_nulls, n_distinct, min_str, max_str) per column.

    min/max are stringified so heterogeneous column types fit one result
    schema (profiles are for humans/monitors, not joins). Exact distincts;
    swap count_distinct for approx_count_distinct on very wide tables.
    """
    columns = columns or df.columns
    aggs = [F.count(F.lit(1)).alias("_n")]
    for c in columns:
        aggs += [
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"_nulls_{c}"),
            F.countDistinct(c).alias(f"_nd_{c}"),
            F.min(F.col(c).cast("string")).alias(f"_min_{c}"),
            F.max(F.col(c).cast("string")).alias(f"_max_{c}"),
        ]
    row = df.agg(*aggs)
    per_col = [
        row.select(
            F.lit(c).alias("column"),
            F.col("_n").alias("n_rows"),
            F.col(f"_nulls_{c}").alias("n_nulls"),
            F.col(f"_nd_{c}").alias("n_distinct"),
            F.col(f"_min_{c}").alias("min_str"),
            F.col(f"_max_{c}").alias("max_str"),
        )
        for c in columns
    ]
    out = per_col[0]
    for p in per_col[1:]:
        out = out.unionByName(p)
    return out


@query(
    "etl_profile",
    oracle="""
    SELECT 'o_orderkey' AS column, count(*) AS n_rows,
           CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_nulls,
           count(DISTINCT o_orderkey) AS n_distinct,
           min(cast(o_orderkey AS varchar)) AS min_str,
           max(cast(o_orderkey AS varchar)) AS max_str
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus', count(*),
           CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           count(DISTINCT o_orderstatus),
           min(cast(o_orderstatus AS varchar)), max(cast(o_orderstatus AS varchar))
    FROM orders
    UNION ALL
    SELECT 'o_orderpriority', count(*),
           CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           count(DISTINCT o_orderpriority),
           min(cast(o_orderpriority AS varchar)), max(cast(o_orderpriority AS varchar))
    FROM orders
    """,
)
def etl_profile(t: Tables) -> DataFrame:
    """Single-pass profile of three orders columns (string-typed min/max;
    doubles excluded from the declared slice to keep the oracle's
    cast-to-string formatting engine-neutral)."""
    return profile(t.orders, ["o_orderkey", "o_orderstatus", "o_orderpriority"])


_BIN_W, _N_BINS = 25.0, 20  # value domain [0, 500) measured; last bin clamps


@query(
    "events_histogram",
    oracle=f"""
    SELECT event_type,
           least({_N_BINS - 1}, CAST(floor(value / {_BIN_W}) AS BIGINT)) AS bin,
           count(*)                                                      AS n,
           round(sum(value), 2)                                          AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def events_histogram(t: Tables) -> DataFrame:
    """Fixed-width histogram of event values per type (20 bins of 25.0,
    top bin clamps) — the profiling companion to etl_profile: monitors
    compare successive days' histograms to catch distribution drift that
    min/max/count stats miss.

    Fixed bin edges (not percentile-based) keep the operator a single
    hash aggregate — one scan, one shuffle of (type, bin) partials, bin
    arithmetic is engine-neutral floor(). Percentile edges would need a
    pre-pass; at 100 TB the fixed-edge daily histogram is what you page
    on, the quantile profile is the weekly job (agg_percentiles)."""
    bin_ = F.least(
        F.lit(_N_BINS - 1).cast("long"), F.floor(F.col("value") / _BIN_W)
    )
    return t.events.groupBy("event_type", bin_.alias("bin")).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


@query(
    "agg_observe_metrics",
    oracle="""
    SELECT CAST(count(*) AS BIGINT)      AS n_rows,
           round(sum(o_totalprice), 2)   AS revenue,
           round(min(o_totalprice), 2)   AS min_price,
           round(max(o_totalprice), 2)   AS max_price,
           CAST(count(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS n_final
    FROM orders
    """,
)
def agg_observe_metrics(t: Tables) -> DataFrame:
    """Run-level metrics through df.observe() — the Spark-4 surface
    that piggybacks aggregate metrics onto an EXISTING action instead
    of paying a second scan: a production job observes row counts /
    totals / guard-rail metrics on the frame it is already writing, and
    a QueryExecutionListener (or Observation.get, as here) reads them
    after the action. This key certifies the surface end-to-end: the
    observed values themselves are the output, hash-checked against the
    oracle recomputing the same aggregates.

    Scale: observe() compiles to a CollectMetrics node evaluated
    inline with the pass the action already makes — zero extra scans,
    partial-aggregated like any other metric. The driver materializes
    one metrics row. (The observing action here is a count over the
    observed frame — the minimal stand-in for the write a real job
    would anchor on.)"""
    from pyspark.sql import Observation

    obs = Observation()
    observed = t.orders.observe(
        obs,
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        F.round(F.min("o_totalprice"), 2).alias("min_price"),
        F.round(F.max("o_totalprice"), 2).alias("max_price"),
        # count(when), not sum(when): over an EMPTY frame sum yields NULL
        # where the oracle's count(*) FILTER yields 0 (empty-tier find)
        F.count(F.when(F.col("o_orderstatus") == "F", 1))
        .cast("long")
        .alias("n_final"),
    )
    observed.count()  # the anchoring action; populates the observation
    m = obs.get
    spark = t.orders.sparkSession
    return local_frame(
        spark, [(m["n_rows"], m["revenue"], m["min_price"], m["max_price"], m["n_final"])],
        "n_rows bigint, revenue double, min_price double, max_price double, n_final bigint",
    )
