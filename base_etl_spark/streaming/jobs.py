"""Structured Streaming jobs over the events table.

The batch operators in operators/streaming_ops.py are written with
mode-agnostic expressions (window / session_window / dropDuplicates);
this module provides the readStream source, watermarking, the stateful
applyInPandasWithState cumsum, and a memory-sink test runner. Tests
assert micro-batch == batch equivalence (SURVEY §5.6).

At scale the source becomes Kafka/files-on-object-store with the same
schema; watermark delay bounds state size — without it the windowed agg
state grows unboundedly.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
    TimestampType,
)

from base_etl_spark.io import canonical_events, ensure_confs, events_ts_ns
from base_etl_spark.schemas import EVENTS_RAW, EVENTS_RAW_US


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream of the events table (explicit RAW schema, then
    the same canonicalization as the batch loader).

    readStream requires a declared schema, and the fixture's raw ts layout
    varies by generation (ns-as-long vs native us timestamp) — so probe
    the footer with a zero-cost batch read and declare the matching one.
    """
    ensure_confs(spark)
    import os

    return _events_source(
        spark, os.path.join(sf_dir, "events.parquet"), sf_dir,
        pathGlobFilter="events.parquet",
    )


def _events_source(spark: SparkSession, footer_path: str, src_dir: str, **options) -> DataFrame:
    """readStream over `src_dir` declaring the raw schema whose ts layout
    `footer_path`'s parquet footer carries, canonicalized like the batch
    loader."""
    footer = spark.read.parquet(footer_path).schema
    raw = (
        spark.readStream.schema(EVENTS_RAW if events_ts_ns(footer) else EVENTS_RAW_US)
        .options(**options)
        .parquet(src_dir)
    )
    return canonical_events(raw)


def streaming_tumbling(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming twin of stream_tumbling: watermarked 1h tumbling counts."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy("event_type", F.window("ts", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select("event_type", F.col("window.start").alias("window_start"), "n_events", "sum_value")
    )


def streaming_sessionize(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming twin of stream_session: watermarked 30-min-gap session
    windows per user. Session state merges adjacent windows as events
    arrive and finalizes a session once the watermark passes its end —
    the canonical stateful-streaming shape for user-activity rollups."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(
            F.min("ts").alias("session_start"),
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select("user_id", "session_start", "n_events", "sum_value")
    )


def streaming_dedup(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming dedup by (user_id, event_type): keeps first-by-arrival
    within the watermark horizon (state is GC'd past it)."""
    return events.withWatermark("ts", watermark).dropDuplicates(["user_id", "event_type"])


_CUMSUM_OUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("cum_value", DoubleType()),
    ]
)
_CUMSUM_STATE = StructType([StructField("cents", LongType())])


def _cumsum_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Running per-user sum in exact integer cents (matches the batch
    stream_stateful operator bit-for-bit)."""
    (cents,) = state.get if state.exists else (0,)
    for pdf in pdfs:
        pdf = pdf.sort_values(["ts", "event_id"])
        # np.floor, NOT int(): the batch twin uses floor(value*100 + 0.5),
        # and int() truncates toward zero so negative values would diverge
        add = np.floor(pdf["value"] * 100.0 + 0.5).astype("int64")
        run = add.cumsum() + cents
        cents = int(run.iloc[-1]) if len(run) else cents
        yield pd.DataFrame(
            {
                "user_id": pdf["user_id"],
                "event_id": pdf["event_id"],
                "ts": pdf["ts"],
                "cum_value": run / 100.0,
            }
        )
    state.update((cents,))


def streaming_cumsum(events: DataFrame) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-user
    running value. State = one bigint per user; rows stream through in
    Arrow batches."""
    return (
        events.select("user_id", "event_id", "ts", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _cumsum_fn,
            outputStructType=_CUMSUM_OUT,
            stateStructType=_CUMSUM_STATE,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def run_to_memory(
    stream_df: DataFrame, name: str, output_mode: str = "append", **_: Any
) -> DataFrame:
    """Drain a stream with availableNow into a memory sink; returns the
    materialized result (test harness — production uses parquet/kafka
    sinks with checkpointing)."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return stream_df.sparkSession.sql(f"SELECT * FROM {name}")


def streaming_enrich(events: DataFrame, dim: DataFrame) -> DataFrame:
    """Stream-static join: enrich the event stream with a batch dimension.
    The static side is re-planned per micro-batch (picking up dim
    updates); with a broadcastable dim this is shuffle-free per batch —
    the standard streaming enrichment pattern at any scale."""
    return events.join(F.broadcast(dim), events.user_id == dim.c_custkey, "left").select(
        "event_id", "user_id", "event_type", "ts", "value", "c_mktsegment"
    )


def streaming_interval_join(
    clicks: DataFrame, purchases: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """Stream-stream inner join: purchases matched to same-user clicks
    at most 1 hour older. Both sides carry watermarks and the join
    condition bounds event time in BOTH directions — that pair is what
    lets Structured Streaming expire buffered state (an unbounded-range
    stream-stream join would hold every row forever; Spark rejects it
    without the watermarks). At scale state is O(rows within the
    watermark horizon) per side, co-partitioned on user_id."""
    c = clicks.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    ).withWatermark("click_ts", watermark)
    p = purchases.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    ).withWatermark("purchase_ts", watermark)
    return p.join(
        c,
        F.expr(
            """
            p_user = c_user AND
            click_ts <= purchase_ts AND
            click_ts >= purchase_ts - INTERVAL 1 HOUR
            """
        ),
    ).select("purchase_id", "p_user", "purchase_ts", "click_id", "click_ts")


def run_foreach_batch_rollup(
    spark: SparkSession,
    sf_dir: str,
    src_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    watermark: str = "35 days",
) -> DataFrame:
    """Incremental hourly rollup maintained through ``foreachBatch`` with
    an IDEMPOTENT epoch-keyed sink — the production pattern for "stream
    into a warehouse table" when the sink has no transactional upsert.

    Each micro-batch's updated (window, event_type) rows are written to
    ``epoch=<id>`` partitions under dynamic partition overwrite: a
    replayed epoch (Structured Streaming is at-least-once into
    foreachBatch) overwrites its OWN partition instead of appending
    duplicates. The reader side resolves last-writer-wins per key (max
    epoch), which tests assert equals the batch aggregate; deleting the
    checkpoint and re-running reproduces byte-identical state.

    Fresh-checkpoint replays restart epoch numbering at 0, and dynamic
    partition overwrite only removes epochs the NEW run writes — so a
    replay with fewer micro-batches (or changed source data) would
    otherwise leave stale higher-epoch partitions that win the max-epoch
    merge. A fresh checkpoint therefore clears ``out_dir`` before
    starting; resumed runs (checkpoint present) keep it, which is what
    makes their replayed epochs idempotent.

    ``src_dir`` must contain the events rows as one-or-more parquet files;
    with maxFilesPerTrigger=1 each file becomes its own micro-batch, so
    the update-mode emissions genuinely span epochs. The default
    watermark exceeds the fixture's time span — lateness semantics are
    stream_late_data's contract, THIS key's contract is sink idempotency.
    """
    import os
    import shutil

    if not os.path.exists(checkpoint_dir) and os.path.exists(out_dir):
        shutil.rmtree(out_dir)
    raw = _events_source(spark, src_dir, src_dir, maxFilesPerTrigger="1")
    agg = (
        raw.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("revenue"))
        .select(F.col("win.start").alias("hour"), "event_type", "n_events", "revenue")
    )

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        (
            batch_df.withColumn("epoch", F.lit(int(epoch_id)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("epoch")
            .parquet(out_dir)
        )

    q = (
        agg.writeStream.foreachBatch(sink)
        .outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # last-writer-wins merge: the newest epoch's row per key is current
    out = spark.read.parquet(out_dir)
    from pyspark.sql import Window

    w = Window.partitionBy("hour", "event_type").orderBy(F.col("epoch").desc())
    return (
        out.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("hour", "event_type", "n_events", "revenue")
    )


def streaming_interval_join_outer(
    clicks: DataFrame, purchases: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """Stream-stream LEFT OUTER interval join: purchases matched to
    same-user clicks at most 1 hour older — and purchases with NO such
    click still emitted (click columns NULL) once the watermark passes
    their join horizon, i.e. once no future click could still match.
    This is the conversion-attribution join where unattributed purchases
    matter as much as attributed ones.

    Same two-sided event-time bound as the inner variant (state stays
    expirable); the OUTER semantics are what the watermark enables — the
    engine can only emit a null-extended row once it can PROVE no match
    will arrive, which is exactly the watermark guarantee. Rows newer
    than (final watermark) may be withheld at end of a bounded run; the
    test pins matched pairs == batch inner join and null-extended rows ⊆
    batch anti-join with the withheld tail accounted for."""
    c = clicks.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    ).withWatermark("click_ts", watermark)
    p = purchases.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    ).withWatermark("purchase_ts", watermark)
    return p.join(
        c,
        F.expr(
            """
            p_user = c_user AND
            click_ts <= purchase_ts AND
            click_ts >= purchase_ts - INTERVAL 1 HOUR
            """
        ),
        "leftOuter",
    ).select("purchase_id", "p_user", "purchase_ts", "click_id", "click_ts")


def make_ledger_append_sink(out_dir: str):
    """EXACTLY-ONCE append sink for ``foreachBatch`` via a batch-id
    commit LEDGER with a two-phase write — the second canonical
    idempotent-sink recipe next to run_foreach_batch_rollup's
    epoch-keyed overwrite (r9 VERDICT task 8a; the streaming twin of
    sink_python_datasource's two-phase commit):

    1. SKIP: if ``_ledger/<epoch>.committed`` exists, the batch was
       already fully applied — a redelivered micro-batch (Structured
       Streaming is at-least-once into foreachBatch) is a no-op.
    2. STAGE: write the batch's rows to ``_staging/epoch=<id>`` —
       invisible to readers (underscore-prefixed dirs are ignored by
       Spark's file index).
    3. PUBLISH: one atomic ``os.rename`` moves the staged directory to
       ``epoch=<id>`` under the data root — readers see all of the
       batch or none of it.
    4. COMMIT: create the ledger marker — written to a temp name,
       fsync'd, renamed into place, then the ledger dir and data root
       are fsync'd so the marker cannot become durable while the
       published epoch dir's rename is still only in the page cache
       (metadata reordering after power loss would otherwise leave a
       committed-but-missing batch). A crash between 3 and 4 re-runs
       the batch: the stale published dir is re-staged over (rename
       target removed first), so the pipeline converges.

    Durability scope (r10 ADVICE): the marker/dir fsyncs above make the
    commit ordering power-loss-safe on a local POSIX filesystem, but
    the parquet DATA files inside the staged dir are written by Spark
    without an fsync guarantee of their own — the exactly-once claim is
    therefore process-crash recovery plus ordered-metadata power-loss
    recovery, not a full torn-data-page story (that needs a
    transactional table format).

    Returns the sink callable; exposed as a factory so tests can drive
    the SAME function both through writeStream and directly (replaying
    one (batch_df, epoch_id) twice must be a byte-level no-op)."""
    import os
    import shutil

    ledger = os.path.join(out_dir, "_ledger")

    def _fsync_dir(path: str) -> None:
        fd = os.open(path, os.O_RDONLY)
        try:
            os.fsync(fd)
        finally:
            os.close(fd)

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        epoch = int(epoch_id)
        marker = os.path.join(ledger, f"{epoch}.committed")
        if os.path.exists(marker):
            return  # already committed — redelivery is a no-op
        staged = os.path.join(out_dir, "_staging", f"epoch={epoch}")
        final = os.path.join(out_dir, f"epoch={epoch}")
        batch_df.write.mode("overwrite").parquet(staged)
        if os.path.exists(final):  # crashed between publish and commit
            shutil.rmtree(final)
        os.makedirs(out_dir, exist_ok=True)
        os.rename(staged, final)
        _fsync_dir(out_dir)  # publish rename durable BEFORE the marker
        os.makedirs(ledger, exist_ok=True)
        tmp = marker + ".tmp"
        with open(tmp, "w") as f:
            f.write("committed\n")
            f.flush()
            os.fsync(f.fileno())
        os.rename(tmp, marker)
        _fsync_dir(ledger)

    return sink


def run_foreach_batch_ledger_append(
    spark: SparkSession,
    src_dir: str,
    out_dir: str,
    checkpoint_dir: str,
) -> DataFrame:
    """Append-only per-batch event-type counts through the ledger sink:
    each micro-batch appends ITS OWN (event_type, n_events) census as
    immutable facts — the idempotent-ingest ledger shape (think "rows
    ingested per feed file"), deliberately STATELESS so the appended
    facts are disjoint per epoch regardless of the order the source
    lists files in (a 0-second-watermark windowed append would drop
    rows whenever modification-time ties reorder the range-split
    files — measured flaky here). The reader SUMS across epochs; the
    ledger guarantees each epoch's facts land exactly once, so the sum
    equals the batch census iff no batch duplicated or vanished.
    Returns the published per-epoch fact table."""
    raw = _events_source(spark, src_dir, src_dir, maxFilesPerTrigger="1")
    publish = make_ledger_append_sink(out_dir)

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        census = batch_df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n_events")
        )
        publish(census, epoch_id)

    q = (
        raw.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(out_dir)
