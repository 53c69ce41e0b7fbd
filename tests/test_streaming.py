"""Structured Streaming equivalence (SURVEY §2.9 R-rows): micro-batch
results must match the batch-first operators."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from base_etl_spark import load_tables, queries
from base_etl_spark import streaming as st
from tests.conftest import SF_TEST

_QS = queries()


@pytest.fixture(scope="module")
def events_stream(spark):
    return st.read_events_stream(spark, SF_TEST)


def test_streaming_tumbling_equals_batch(spark, events_stream):
    got = st.run_to_memory(
        st.streaming_tumbling(events_stream), "t_tumble", output_mode="complete"
    )
    batch = _QS["stream_tumbling"](spark, SF_TEST)
    s = {tuple(r) for r in got.collect()}
    b = {tuple(r) for r in batch.collect()}
    assert s == b


def test_streaming_dedup_keys_match_batch(spark, events_stream):
    got = st.run_to_memory(st.streaming_dedup(events_stream), "t_dedup")
    skeys = {(r.user_id, r.event_type) for r in got.collect()}
    bkeys = {
        (r.user_id, r.event_type) for r in _QS["stream_dedup"](spark, SF_TEST).collect()
    }
    assert skeys == bkeys  # same key set; kept row may differ (arrival order)


def test_streaming_cumsum_final_totals_match_batch(spark, events_stream):
    got = st.run_to_memory(st.streaming_cumsum(events_stream), "t_cumsum")
    # per-user max cumulative == batch per-user total
    s = {
        r.user_id: r.m
        for r in got.groupBy("user_id").agg(F.max("cum_value").alias("m")).collect()
    }
    batch = _QS["stream_stateful"](spark, SF_TEST)
    b = {
        r.user_id: r.m
        for r in batch.groupBy("user_id").agg(F.max("cum_value").alias("m")).collect()
    }
    assert s == b


def test_watermark_in_plan(events_stream):
    df = st.streaming_tumbling(events_stream)
    assert "EventTimeWatermark" in df._jdf.queryExecution().analyzed().toString()


def test_stream_static_enrich(spark, events_stream, tables):
    got = st.run_to_memory(
        st.streaming_enrich(events_stream, tables.customer), "t_enrich"
    )
    n = got.count()
    assert n == tables.events.count()  # left join preserves the stream
    # users that exist as customers got a segment
    assert got.filter(F.col("c_mktsegment").isNotNull()).count() > 0


def test_streaming_sessionize_equals_batch(spark, events_stream):
    """Session windows through a real micro-batch run must equal the
    batch operator (complete mode: all sessions emitted at the end)."""
    got = st.run_to_memory(
        st.streaming_sessionize(events_stream), "t_sess", output_mode="complete"
    )
    batch = _QS["stream_session"](spark, SF_TEST)
    s = {tuple(r) for r in got.collect()}
    b = {tuple(r) for r in batch.collect()}
    assert s == b


def test_streaming_interval_join_equals_batch(spark, events_stream):
    """Stream-stream interval join (purchase <- clicks <=1h older, same
    user) must equal the identical batch join — the multiset of matched
    (purchase_id, click_id) pairs is the contract."""
    got = st.run_to_memory(
        st.streaming_interval_join(events_stream, events_stream), "t_ssjoin"
    )
    ev = load_tables(spark, SF_TEST).events
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    want = p.join(
        c,
        F.expr(
            "p_user = c_user AND click_ts <= purchase_ts"
            " AND click_ts >= purchase_ts - INTERVAL 1 HOUR"
        ),
    ).select("purchase_id", "click_id")
    got_pairs = sorted((r.purchase_id, r.click_id) for r in got.collect())
    want_pairs = sorted((r.purchase_id, r.click_id) for r in want.collect())
    assert got_pairs == want_pairs
    assert len(got_pairs) > 0  # fixture must actually exercise the join


def test_foreach_batch_epoch_sink_idempotent(spark, tmp_path):
    """foreachBatch rollup: multi-epoch update-mode emissions merged
    last-writer-wins must equal the batch hourly aggregate, and a full
    replay (fresh checkpoint) must reproduce the identical state —
    the epoch-keyed dynamic overwrite never duplicates."""
    import shutil

    from pyspark.sql import functions as F

    from base_etl_spark.io import load_tables
    from base_etl_spark.streaming.jobs import run_foreach_batch_rollup
    from tests.conftest import SF_TEST

    t = load_tables(spark, SF_TEST)
    src = str(tmp_path / "events_files")
    # range-split by ts so maxFilesPerTrigger=1 yields ordered micro-batches
    t.events.repartitionByRange(3, "ts").write.mode("overwrite").parquet(src)

    out, ckpt = str(tmp_path / "rollup"), str(tmp_path / "ckpt")
    merged = run_foreach_batch_rollup(spark, SF_TEST, src, out, ckpt)
    got = {(r.hour, r.event_type): (r.n_events, r.revenue) for r in merged.collect()}

    batch = (
        t.events.groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("rev"))
        .select(F.col("win.start").alias("hour"), "event_type", "n", "rev")
    )
    want = {(r.hour, r.event_type): (r.n, r.rev) for r in batch.collect()}
    assert got == want

    # epochs actually spanned micro-batches (multi-file source)
    epochs = {r.epoch for r in spark.read.parquet(out).select("epoch").distinct().collect()}
    assert len(epochs) >= 2

    # replay from scratch: fresh checkpoint, same sink dir -> same state
    shutil.rmtree(ckpt)
    merged2 = run_foreach_batch_rollup(spark, SF_TEST, src, out, ckpt)
    got2 = {(r.hour, r.event_type): (r.n_events, r.revenue) for r in merged2.collect()}
    assert got2 == want


def test_foreach_batch_ledger_append_exactly_once(spark, tmp_path):
    """The ledger-gated EXACTLY-ONCE append sink (two-phase staging +
    batch-id commit markers): end-to-end totals equal the batch
    aggregate over closed windows; replaying a committed (batch_df,
    epoch_id) through the SAME sink function is a byte-level no-op;
    and a simulated crash between publish and commit (marker removed,
    dir left) converges on re-apply instead of duplicating."""
    import os

    from pyspark.sql import functions as F

    from base_etl_spark.io import load_tables
    from base_etl_spark.streaming.jobs import (
        make_ledger_append_sink,
        run_foreach_batch_ledger_append,
    )
    from tests.conftest import SF_TEST

    t = load_tables(spark, SF_TEST)
    src = str(tmp_path / "events_files")
    t.events.repartitionByRange(3, "ts").write.mode("overwrite").parquet(src)

    out, ckpt = str(tmp_path / "ledger_out"), str(tmp_path / "ledger_ckpt")
    got_df = run_foreach_batch_ledger_append(spark, src, out, ckpt)
    # per-epoch facts sum to the batch census iff every micro-batch
    # landed exactly once (a duplicated epoch overcounts, a lost one
    # undercounts)
    got = {
        r.event_type: r.n
        for r in got_df.groupBy("event_type")
        .agg(F.sum("n_events").alias("n"))
        .collect()
    }
    want = {
        r.event_type: r.n
        for r in t.events.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want and len(want) > 0

    # every published epoch carries a commit marker, none staged
    epochs = {d for d in os.listdir(out) if d.startswith("epoch=")}
    markers = set(os.listdir(os.path.join(out, "_ledger")))
    assert len(epochs) >= 2  # multi-file source -> multiple batches
    assert markers == {f"{d.split('=')[1]}.committed" for d in epochs}
    assert not os.path.exists(os.path.join(out, "_staging")) or not os.listdir(
        os.path.join(out, "_staging")
    )

    # redelivery of a committed batch: byte-level no-op
    sink = make_ledger_append_sink(out)
    some_epoch = sorted(int(d.split("=")[1]) for d in epochs)[0]
    before = {
        f: os.path.getmtime(os.path.join(out, f"epoch={some_epoch}", f))
        for f in os.listdir(os.path.join(out, f"epoch={some_epoch}"))
    }
    replay_df = spark.read.parquet(os.path.join(out, f"epoch={some_epoch}"))
    sink(replay_df, some_epoch)
    after = {
        f: os.path.getmtime(os.path.join(out, f"epoch={some_epoch}", f))
        for f in os.listdir(os.path.join(out, f"epoch={some_epoch}"))
    }
    assert before == after

    # crash between publish and commit: marker gone, dir present ->
    # re-apply must converge (no duplicate rows), marker restored
    os.remove(os.path.join(out, "_ledger", f"{some_epoch}.committed"))
    sink(replay_df.localCheckpoint(), some_epoch)  # pin rows before overwrite
    assert os.path.exists(os.path.join(out, "_ledger", f"{some_epoch}.committed"))
    got2 = {
        r.event_type: r.n
        for r in spark.read.parquet(out)
        .groupBy("event_type")
        .agg(F.sum("n_events").alias("n"))
        .collect()
    }
    assert got2 == want


def test_incremental_state_across_restart_with_appended_file(spark, tmp_path):
    """A REAL incremental micro-batch run (VERDICT r3 task 6): drive the
    dedup stream through two separate query lifetimes over a growing file
    source. Cycle 1 drains file A; a new file B (half duplicate keys,
    half new) lands; cycle 2 resumes from the SAME checkpoint. The
    appended output must contain ONLY B's genuinely-new keys — proving
    the dedup state was restored from the checkpointed state store, not
    recomputed batch-style over all files."""
    from base_etl_spark.io import load_tables
    from base_etl_spark.streaming.jobs import streaming_dedup
    from tests.conftest import SF_TEST

    t = load_tables(spark, SF_TEST)
    ev = t.events.select("user_id", "event_type", "ts", "event_id")
    src = tmp_path / "src"
    src.mkdir()
    a = ev.filter(F.col("event_id") % 3 == 0)
    b = ev.filter(F.col("event_id") % 3 == 1)

    def land(df, name: str) -> None:
        # write through Spark (pandas would emit ns-INT64 ts), then move
        # the single part file into the watched dir as one atomic arrival
        import glob
        import shutil

        stage = tmp_path / f"stage_{name}"
        df.coalesce(1).write.mode("overwrite").parquet(str(stage))
        part = glob.glob(str(stage / "part-*.parquet"))[0]
        shutil.move(part, str(src / f"{name}.parquet"))

    land(a, "a")

    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def run_cycle() -> None:
        stream = spark.readStream.schema(ev.schema).parquet(str(src))
        # watermark far beyond the fixture span: state must survive, so
        # eviction (stream_late_data's contract) can't mask a reset here
        q = (
            streaming_dedup(stream, watermark="3650 days")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_cycle()
    keys_a = {(r.user_id, r.event_type) for r in a.dropDuplicates(
        ["user_id", "event_type"]).collect()}
    got1 = {(r.user_id, r.event_type) for r in spark.read.parquet(out).collect()}
    assert got1 == keys_a

    land(b, "b")  # mid-stream append
    run_cycle()
    keys_b = {(r.user_id, r.event_type) for r in b.dropDuplicates(
        ["user_id", "event_type"]).collect()}
    got2 = {(r.user_id, r.event_type) for r in spark.read.parquet(out).collect()}
    assert got2 == keys_a | keys_b
    # the restored state must have suppressed every key cycle 1 already
    # emitted: appended rows == B-only keys, no re-emission, no dupes
    appended = spark.read.parquet(out).groupBy("user_id", "event_type").count()
    assert appended.filter(F.col("count") > 1).count() == 0
    assert len(keys_a & keys_b) > 0  # fixture genuinely overlaps


def test_streaming_outer_interval_join_semantics(spark, events_stream):
    """LEFT OUTER stream-stream join: matched pairs must equal the batch
    inner join; null-extended purchases must be exactly the batch
    anti-join minus the tail the final watermark is still holding (an
    unmatched purchase can only emit once no future click could match)."""
    got = st.run_to_memory(
        st.streaming_interval_join_outer(events_stream, events_stream), "t_ssjoin_outer"
    )
    ev = load_tables(spark, SF_TEST).events
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    cond = F.expr(
        "p_user = c_user AND click_ts <= purchase_ts"
        " AND click_ts >= purchase_ts - INTERVAL 1 HOUR"
    )
    want_matched = sorted(
        (r.purchase_id, r.click_id) for r in p.join(c, cond).collect()
    )
    got_matched = sorted(
        (r.purchase_id, r.click_id) for r in got.filter(F.col("click_id").isNotNull()).collect()
    )
    assert got_matched == want_matched

    want_unmatched = {r.purchase_id for r in p.join(c, cond, "left_anti").collect()}
    got_rows = got.filter(F.col("click_id").isNull()).collect()
    got_unmatched = {r.purchase_id for r in got_rows}
    # every emitted null-extension is a true non-match (soundness)...
    assert got_unmatched <= want_unmatched
    # ...and was only emitted once PROVABLY unmatchable: the engine may
    # null-extend a purchase only after the watermark (max event time
    # minus the 2h delay, propagated with up to a micro-batch of lag)
    # passes it — so every emitted row sits at least the delay behind
    # the stream's end. The withheld tail is the complement; bounded-run
    # watermark lag means we make no completeness claim about it.
    import datetime as dt

    max_ts = ev.agg(F.max("ts").alias("m")).collect()[0].m
    horizon = max_ts - dt.timedelta(hours=2)
    assert all(r.purchase_ts <= horizon for r in got_rows)
    assert len(got_unmatched) > 0  # the fixture exercises the outer leg


def test_foreach_batch_jdbc_sink_idempotent(spark, tmp_path):
    """Stream → WAREHOUSE TABLE: foreachBatch loads each micro-batch's
    hourly rollup into embedded Derby with the delete+append replay
    discipline (jdbc_delete_where per epoch-touched hour, then append) —
    the production 'stream into a database the sink can't upsert'
    pattern. Final DB state must equal the batch aggregate, and a full
    fresh-checkpoint replay must leave the table unchanged (no
    double-loads)."""
    from base_etl_spark import sinks
    from base_etl_spark.io import load_tables

    t = load_tables(spark, SF_TEST)
    src = str(tmp_path / "ev")
    t.events.repartitionByRange(3, "ts").write.mode("overwrite").parquet(src)
    url = "jdbc:derby:memory:etlstream;create=true"
    derby = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}

    def run(ckpt: str) -> None:
        stream = spark.readStream.schema(t.events.schema).option(
            "maxFilesPerTrigger", "1"
        ).parquet(src)
        agg = (
            stream.withWatermark("ts", "35 days")
            .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(
                F.date_format("win.start", "yyyy-MM-dd HH:mm:ss").alias("hr"),
                "event_type",
                "n_events",
            )
        )

        def sink(batch_df, epoch_id):
            rows = batch_df.cache()
            # delete at the FULL key grain (hr, event_type): an hr-only
            # delete wipes sibling event types loaded by earlier epochs
            # that this update-mode batch does not re-emit (measured —
            # one silent row loss per shared hour)
            keys = [(r.hr, r.event_type) for r in
                    rows.select("hr", "event_type").distinct().collect()]
            if keys:
                pred = " OR ".join(
                    f"(\"hr\" = '{h}' AND \"event_type\" = '{e}')" for h, e in keys
                )
                sinks.jdbc_delete_where(
                    spark, url, "hourly_rollup", pred, properties=derby
                )
            sinks.build_jdbc_writer(
                rows, url, "hourly_rollup", mode="append", num_partitions=2,
                # Spark maps StringType to Derby CLOB, which can't be
                # compared in the delete predicate — pin VARCHAR ddl
                properties={
                    **derby,
                    "createTableColumnTypes": "hr VARCHAR(32), event_type VARCHAR(32)",
                },
            ).save()
            rows.unpersist()

        q = (
            agg.writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run(str(tmp_path / "ck1"))
    got = {
        (r[0], r[1]): r[2]
        for r in sinks.read_jdbc(spark, url, "hourly_rollup", properties=derby).collect()
    }
    batch = (
        t.events.groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.date_format("win.start", "yyyy-MM-dd HH:mm:ss").alias("hr"),
            "event_type",
            "n",
        )
    )
    want = {(r.hr, r.event_type): r.n for r in batch.collect()}
    assert got == want

    run(str(tmp_path / "ck2"))  # full replay, fresh checkpoint
    again = {
        (r[0], r[1]): r[2]
        for r in sinks.read_jdbc(spark, url, "hourly_rollup", properties=derby).collect()
    }
    assert again == want  # delete+append made the replay a no-op


def test_sink_ledger_census_matches_direct_aggregate(spark):
    """The r11 D key: the ledger sink's read-back census must equal the
    direct batch aggregate over events — exactly-once end to end, with
    the in-key poison replay (every committed epoch redelivered) having
    been a no-op. The driver hash gate runs the same comparison against
    DuckDB; this pins it in CI at sf0.001."""
    got = {
        (r.event_type): (r.n_events, r.min_ts, r.max_ts)
        for r in _QS["sink_ledger_census"](spark, SF_TEST).collect()
    }
    t = load_tables(spark, SF_TEST)
    want = {
        r.event_type: (r.n_events, r.min_ts, r.max_ts)
        for r in t.events.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.min("ts").alias("min_ts"),
            F.max("ts").alias("max_ts"),
        )
        .collect()
    }
    assert got == want
    assert "poison" not in got


@pytest.fixture(scope="module")
def ns_fixture(tmp_path_factory):
    """sf0.001 with events.ts rewritten as INT64 TIMESTAMP(NANOS), the
    layout FIXTURES.md records for the original fixture; the other nine
    tables are copied unchanged."""
    import os
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    out = tmp_path_factory.mktemp("sf_ns")
    for name in os.listdir(SF_TEST):
        if name != "events.parquet":
            shutil.copy(os.path.join(SF_TEST, name), out / name)
    ev = pq.read_table(os.path.join(SF_TEST, "events.parquet"))
    ev = ev.set_column(ev.schema.get_field_index("ts"), "ts", ev["ts"].cast(pa.timestamp("ns")))
    pq.write_table(ev, out / "events.parquet")
    assert pq.read_schema(out / "events.parquet").field("ts").type == pa.timestamp("ns")
    return str(out)


def test_ns_events_layout_reads_like_us(spark, ns_fixture):
    """The nanosecond events.ts layout gives the microsecond layout's rows
    through the batch loader, the pushed-down range scan and the stream
    source, and events keys pass the oracle on it."""
    from base_etl_spark.compare import PASS, check_key, oracle_con
    from base_etl_spark.io import events_between, events_ts_ns

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    assert events_ts_ns(spark.read.parquet(f"{ns_fixture}/events.parquet").schema)
    assert rows(load_tables(spark, ns_fixture).events) == rows(load_tables(spark, SF_TEST).events)
    lo, hi = 1704412800000000, 1705017600000000  # [2024-01-05, 2024-01-12)
    week = rows(events_between(spark, ns_fixture, lo, hi))
    assert week and week == rows(events_between(spark, SF_TEST, lo, hi))
    streamed = {
        d: rows(st.run_to_memory(st.read_events_stream(spark, d), f"ev_{i}"))
        for i, d in enumerate((ns_fixture, SF_TEST))
    }
    assert streamed[ns_fixture] == streamed[SF_TEST]
    con = oracle_con(ns_fixture)
    for key in ("stream_tumbling", "events_gapfill", "agg_pricing", "sink_ledger_census"):
        v = check_key(spark, con, key, ns_fixture)
        assert v.status == PASS, (key, v.problems)
