"""Differential streaming tests (SURVEY.md §5): each streaming flavor on
a closed input must equal its batch twin.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from unity_to_bigquery_spark.catalog import load_table
from unity_to_bigquery_spark.streaming.stream import (
    dedup_within_watermark,
    run_available_now,
    run_foreach_batch_idempotent,
    running_counts_stateful,
    stream_events,
    tumbling_counts,
)


@pytest.fixture()
def events_dir(tmp_path, spark, sf_dir):
    path = str(tmp_path / "events_parquet")
    load_table(spark, sf_dir, "events").write.mode("overwrite").parquet(path)
    return path


def test_streaming_tumbling_equals_batch(spark, sf_dir, events_dir, tmp_path):
    stream = stream_events(spark, events_dir)
    assert stream.isStreaming
    agg = tumbling_counts(stream)
    run_available_now(agg, str(tmp_path / "ckpt"), "tumbling_sink")
    got = {
        (r.window_start, r.event_type): r.n
        for r in spark.table("tumbling_sink").collect()
    }
    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
    )
    want = {(r.window_start, r.event_type): r.n for r in batch.collect()}
    assert got == want


def test_streaming_dedup_within_watermark(spark, events_dir, tmp_path):
    # Duplicate the whole input once → dedup must restore original count
    dup_dir = str(tmp_path / "dup")
    base = spark.read.parquet(events_dir)
    base.write.mode("overwrite").parquet(dup_dir)
    base.write.mode("append").parquet(dup_dir)
    n_raw = spark.read.parquet(dup_dir).count()
    n_unique = base.select("event_id").distinct().count()
    assert n_raw == 2 * n_unique

    stream = stream_events(spark, dup_dir)
    run_available_now(
        dedup_within_watermark(stream).select("event_id"),
        str(tmp_path / "ckpt"),
        "dedup_sink",
    )
    out = spark.table("dedup_sink")
    assert out.count() == n_unique
    assert out.distinct().count() == n_unique


def test_stateful_running_counts_equal_batch(spark, sf_dir, events_dir, tmp_path):
    stream = stream_events(spark, events_dir)
    counts = running_counts_stateful(stream)
    run_available_now(counts, str(tmp_path / "ckpt"), "stateful_sink", output_mode="update")
    # update-mode memory sink: last emission per user is the final count
    got = {
        r.user_id: r.n_events
        for r in spark.table("stateful_sink")
        .groupBy("user_id")
        .agg(F.max("n_events").alias("n_events"))
        .collect()
    }
    want = {
        r.user_id: r.n
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want


def test_foreach_batch_idempotent_sink(spark, events_dir, tmp_path):
    stream = stream_events(spark, events_dir)
    sink = str(tmp_path / "sink")
    run_foreach_batch_idempotent(stream, str(tmp_path / "ckpt"), sink)
    n = spark.read.parquet(sink).count()
    assert n == spark.read.parquet(events_dir).count()

    # Re-run with the SAME checkpoint: nothing new → no duplicates
    run_foreach_batch_idempotent(
        stream_events(spark, events_dir), str(tmp_path / "ckpt"), sink
    )
    assert spark.read.parquet(sink).count() == n

    # Fresh checkpoint replaying the same input overwrites its batch dir
    # (idempotent-by-batch-id) instead of doubling the sink.
    run_foreach_batch_idempotent(
        stream_events(spark, events_dir), str(tmp_path / "ckpt2"), sink
    )
    assert spark.read.parquet(sink).count() == n


def test_stream_stream_interval_join(spark, sf_dir, events_dir, tmp_path):
    """Stream-stream inner join with watermarks + time-range condition
    (purchases joined to errors by the same user within the next hour),
    differentially equal to the batch join on a closed input."""
    import pyspark.sql.functions as F

    purchases = (
        stream_events(spark, events_dir)
        .filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"),
                F.col("event_id").alias("p_id"))
        .withWatermark("p_ts", "2 hours")
    )
    errors = (
        stream_events(spark, events_dir)
        .filter(F.col("event_type") == "error")
        .select(F.col("user_id").alias("e_user"), F.col("ts").alias("e_ts"),
                F.col("event_id").alias("e_id"))
        .withWatermark("e_ts", "2 hours")
    )
    joined = purchases.join(
        errors,
        F.expr("p_user = e_user AND e_ts >= p_ts AND e_ts <= p_ts + INTERVAL 1 HOUR"),
    ).select("p_id", "e_id")
    run_available_now(joined, str(tmp_path / "ckpt"), "ss_join_sink")
    got = {(r.p_id, r.e_id) for r in spark.table("ss_join_sink").collect()}

    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"), F.col("event_id").alias("p_id"))
    e = ev.filter(F.col("event_type") == "error").select(
        F.col("user_id").alias("e_user"), F.col("ts").alias("e_ts"), F.col("event_id").alias("e_id"))
    want = {
        (r.p_id, r.e_id)
        for r in p.join(
            e, F.expr("p_user = e_user AND e_ts >= p_ts AND e_ts <= p_ts + INTERVAL 1 HOUR")
        ).select("p_id", "e_id").collect()
    }
    assert got == want and len(want) > 0


def test_streaming_session_window_equals_batch(spark, sf_dir, events_dir, tmp_path):
    """Streaming session_window aggregation (30 min gap) on a closed
    input equals the batch session_window result."""
    import pyspark.sql.functions as F

    stream = stream_events(spark, events_dir)
    agg = (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.session_window("ts", "30 minutes").alias("sw"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select("user_id", F.col("sw.start").alias("session_start"), "n")
    )
    run_available_now(agg, str(tmp_path / "ckpt"), "session_sink")
    got = {
        (r.user_id, r.session_start, r.n) for r in spark.table("session_sink").collect()
    }
    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.session_window("ts", "30 minutes").alias("sw"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select("user_id", F.col("sw.start").alias("session_start"), "n")
    )
    want = {(r.user_id, r.session_start, r.n) for r in batch.collect()}
    assert got == want and len(want) > 0


def test_stream_static_broadcast_join(spark, sf_dir, events_dir, tmp_path):
    """Stream-static join: streaming events enriched against a static
    broadcast dimension (the reference's A9 routing, streaming flavor)."""
    import pyspark.sql.functions as F

    dim = spark.createDataFrame(
        [("purchase", "revenue"), ("error", "ops")], ["event_type", "dataset"]
    )
    stream = stream_events(spark, events_dir)
    routed = (
        stream.join(F.broadcast(dim), on="event_type", how="left")
        .withColumn("dataset", F.coalesce("dataset", F.lit("misc")))
        .groupBy("dataset")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    run_available_now(routed, str(tmp_path / "ckpt"), "routed_sink")
    got = {(r.dataset, r.n) for r in spark.table("routed_sink").collect()}
    want = {
        (r.dataset, r.n)
        for r in load_table(spark, sf_dir, "events")
        .join(F.broadcast(dim), on="event_type", how="left")
        .withColumn("dataset", F.coalesce("dataset", F.lit("misc")))
        .groupBy("dataset")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want and len(want) == 3


def test_streaming_over_gz_ndjson_landing(spark, sf_dir, tmp_path):
    """readStream over the gzipped-NDJSON landing layout (the literal
    §2B streaming source row) equals a batch read of the same files."""
    import pyspark.sql.functions as F

    from unity_to_bigquery_spark.sources.landing import EVENTS_LANDING_DDL

    landing = str(tmp_path / "landing")
    ev = load_table(spark, sf_dir, "events").withColumn(
        "ts", F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS")
    )
    ev.coalesce(2).write.mode("overwrite").option("compression", "gzip").json(landing)

    stream = (
        spark.readStream.schema(EVENTS_LANDING_DDL)
        .json(landing)
        .withColumn("ts", F.to_timestamp("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS"))
    )
    assert stream.isStreaming
    agg = (
        stream.withWatermark("ts", "2 hours")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    run_available_now(agg, str(tmp_path / "ckpt"), "gz_landing_sink", output_mode="complete")
    got = {(r.event_type, r.n) for r in spark.table("gz_landing_sink").collect()}
    want = {
        (r.event_type, r.n)
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want


def test_watermark_drops_late_data_across_batches(spark, sf_dir, tmp_path):
    """True late-data semantics: batch 1 advances the watermark; a
    second AvailableNow run delivering events older than the watermark
    must NOT resurrect already-closed windows in the append output."""
    import pyspark.sql.functions as F

    src_dir = str(tmp_path / "src")
    events = load_table(spark, sf_dir, "events")
    recent = events.filter(F.col("ts") >= F.lit("2024-01-20 00:00:00").cast("timestamp"))
    late = events.filter(F.col("ts") < F.lit("2024-01-05 00:00:00").cast("timestamp"))
    recent.write.mode("overwrite").parquet(src_dir)

    out_dir = str(tmp_path / "out")

    def drain():
        stream = stream_events(spark, src_dir)
        agg = (
            stream.withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("w.start").alias("ws"), "n")
        )
        q = (
            agg.writeStream.format("parquet")
            .option("path", out_dir)
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    # second delivery: only LATE events (weeks behind the watermark)
    late.write.mode("append").parquet(src_dir)
    drain()
    out = spark.read.parquet(out_dir)
    # no window older than Jan 20 may appear after the late delivery
    stale = out.filter(F.col("ws") < F.lit("2024-01-19 00:00:00").cast("timestamp")).count()
    assert stale == 0, "late events resurrected closed windows"
    assert out.count() > 0  # the recent windows did emit


def test_stateful_session_timeout_emits_closed_sessions(spark, tmp_path):
    """applyInPandasWithState + EventTimeTimeout: an open session closes
    (and is emitted exactly once) only after the watermark passes its
    end + gap, driven across separate AvailableNow drains."""
    import datetime as dt

    from unity_to_bigquery_spark.streaming.stream import sessionize_stateful

    src_dir = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")

    def ev(event_id, user_id, hh, mm, day=1):
        return (
            event_id,
            dt.datetime(2024, 1, day, hh, mm, 0),
            user_id,
            "click",
            1.0,
            "{}",
        )

    from unity_to_bigquery_spark.streaming.stream import EVENTS_STREAM_DDL

    def write(rows):
        spark.createDataFrame(rows, EVENTS_STREAM_DDL).write.mode("append").parquet(src_dir)

    out_dir = str(tmp_path / "sessions_out")

    def drain():
        # memory sink can't recover a checkpoint across restarts;
        # foreachBatch-append to parquet is the restartable pattern
        stream = stream_events(spark, src_dir)
        sessions = sessionize_stateful(stream, gap_seconds=1800, watermark="10 minutes")

        def sink(batch_df, batch_id):
            batch_df.write.mode("append").parquet(out_dir)

        q = (
            sessions.writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        try:
            return [tuple(r) for r in spark.read.parquet(out_dir).collect()]
        except Exception:
            return []

    # day-1 morning: user 1 has events 10:00 + 10:10 (one session),
    # user 2 has 10:05 (singleton session)
    write([ev(1, 1, 10, 0), ev(2, 1, 10, 10), ev(3, 2, 10, 5)])
    drain()
    # evening events: watermark only ADVANCES after this batch runs, so
    # the morning sessions are still open during this drain
    write([ev(4, 1, 20, 0)])
    drain()
    # day-2 drain: watermark at batch start (19:50) is past every
    # morning session's end + 30 min gap -> they time out and emit
    write([ev(5, 2, 9, 0, day=2)])
    emitted = drain()

    def ms(hh, mm, day=1):
        return int(dt.datetime(2024, 1, day, hh, mm, 0, tzinfo=dt.timezone.utc).timestamp() * 1000)

    # user 1's morning session closed by GAP SPLIT (evening event in
    # the same state update), user 2's morning session by TIMEOUT
    assert (1, ms(10, 0), ms(10, 10), 2) in emitted, emitted
    assert (2, ms(10, 5), ms(10, 5), 1) in emitted, emitted
    # each session emitted exactly once across all drains
    assert len([r for r in emitted if r[0] == 1 and r[1] == ms(10, 0)]) == 1
    # user 1's evening singleton also closed: the day-2 event advanced
    # the watermark and the AvailableNow no-data micro-batch fired its
    # timer within the same drain
    assert (1, ms(20, 0), ms(20, 0), 1) in emitted, emitted
    assert len([r for r in emitted if r[0] == 1]) == 2
    # user 2's day-2 session is still open (nothing advanced the
    # watermark past it)
    assert len([r for r in emitted if r[0] == 2]) == 1


def test_transform_with_state_running_stats(spark, sf_dir, tmp_path):
    """transformWithStateInPandas: typed ValueState accumulates across
    micro-batches AND across restarts (two separate drains); the final
    per-user stats equal the batch aggregate over all delivered data.

    Requires google.protobuf (the TWS state-server wire format) —
    skipped where that optional dep is absent (this container)."""
    pytest.importorskip("google.protobuf")
    from unity_to_bigquery_spark.streaming.stream import user_stats_tws

    events = load_table(spark, sf_dir, "events")
    src_dir = str(tmp_path / "src")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def drain():
        stream = stream_events(spark, src_dir)

        def sink(batch_df, batch_id):
            batch_df.withColumn("batch_id", F.lit(batch_id)).write.mode(
                "append"
            ).parquet(out_dir)

        q = (
            user_stats_tws(stream)
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    events.filter(F.col("event_id") % 2 == 0).write.mode("append").parquet(src_dir)
    drain()
    events.filter(F.col("event_id") % 2 == 1).write.mode("append").parquet(src_dir)
    drain()

    out = spark.read.parquet(out_dir)
    # latest emission per user (monotone n_events; batch_id breaks ties)
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.desc("batch_id"), F.desc("n_events"))
    got = {
        (r.user_id): (r.n_events, r.total_cents)
        for r in out.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .collect()
    }
    want = {
        r.user_id: (r.n, r.cents)
        for r in events.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.floor(F.col("value") * 100.0 + 0.5).cast("long")).alias("cents"),
        )
        .collect()
    }
    assert got == want


def test_stream_stream_left_outer_join_emits_unmatched(spark, tmp_path):
    """Stream-stream LEFT OUTER interval join: matched rows emit eagerly;
    unmatched left rows emit with nulls only after the watermark proves
    no match can still arrive — state is then evicted."""
    import datetime as dt

    from unity_to_bigquery_spark.streaming.stream import EVENTS_STREAM_DDL

    src_dir = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    out_dir = str(tmp_path / "out")

    def ev(event_id, user_id, etype, hh, mm, day=1):
        return (event_id, dt.datetime(2024, 1, day, hh, mm), user_id, etype, 1.0, "{}")

    def write(rows):
        spark.createDataFrame(rows, EVENTS_STREAM_DDL).write.mode("append").parquet(src_dir)

    def drain():
        stream = stream_events(spark, src_dir)
        purchases = (
            stream.filter(F.col("event_type") == "purchase")
            .select(F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"),
                    F.col("event_id").alias("p_id"))
            .withWatermark("p_ts", "10 minutes")
        )
        errors = (
            stream.filter(F.col("event_type") == "error")
            .select(F.col("user_id").alias("e_user"), F.col("ts").alias("e_ts"),
                    F.col("event_id").alias("e_id"))
            .withWatermark("e_ts", "10 minutes")
        )
        joined = purchases.join(
            errors,
            F.expr("p_user = e_user AND e_ts >= p_ts AND e_ts <= p_ts + INTERVAL 30 MINUTES"),
            "leftOuter",
        ).select("p_id", "e_id")
        q = (
            joined.writeStream.format("parquet")
            .option("path", out_dir)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        try:
            return {(r.p_id, r.e_id) for r in spark.read.parquet(out_dir).collect()}
        except Exception:
            return set()

    # user 1: purchase 10:00 + error 10:15 (match); user 2: purchase
    # 10:05, no error ever (unmatched -> null only after watermark)
    write([ev(1, 1, "purchase", 10, 0), ev(2, 1, "error", 10, 15),
           ev(3, 2, "purchase", 10, 5)])
    got1 = drain()
    assert (1, 2) in got1
    assert (3, None) not in got1  # watermark hasn't closed its window yet
    # much later events on BOTH sides: the join's global watermark is
    # min(left, right), so each input must advance for nulls to emit
    write([ev(4, 9, "purchase", 20, 0), ev(5, 8, "error", 20, 0)])
    got2 = drain()
    assert (3, None) in got2  # unmatched left row emitted exactly once
    assert len([p for p in got2 if p[0] == 3]) == 1


def test_stateful_sessionizer_differential_vs_batch(spark, sf_dir, tmp_path):
    """The stateful sessionizer, drained over a split delivery plus a
    far-future flush, must produce EXACTLY the batch sessionization of
    the fixture events (same 30-min gap)."""
    from unity_to_bigquery_spark.operators.windows import sessionize
    from unity_to_bigquery_spark.streaming.stream import sessionize_stateful

    events = load_table(spark, sf_dir, "events")
    mid = events.selectExpr("percentile(unix_micros(ts), 0.5)").first()[0]
    mid = F.timestamp_micros(F.lit(int(mid)))
    src_dir = str(tmp_path / "src")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def drain():
        stream = stream_events(spark, src_dir)

        def sink(batch_df, batch_id):
            batch_df.write.mode("append").parquet(out_dir)

        q = (
            sessionize_stateful(stream, gap_seconds=1800, watermark="10 minutes")
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    events.filter(F.col("ts") <= mid).write.mode("append").parquet(src_dir)
    drain()
    events.filter(F.col("ts") > mid).write.mode("append").parquet(src_dir)
    drain()
    # flush: one far-future event per side of the watermark closes all
    flush = spark.createDataFrame(
        [(10**12, events.agg(F.max("ts")).first()[0], 999999, "flush", 0.0, "{}")],
        "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE, props STRING",
    ).withColumn("ts", F.col("ts") + F.expr("INTERVAL 30 DAYS"))
    flush.write.mode("append").parquet(src_dir)
    drain()

    got = {
        (r.user_id, r.session_start_ms, r.session_end_ms, r.n_events)
        for r in spark.read.parquet(out_dir).filter(F.col("user_id") != 999999).collect()
    }
    batch = (
        sessionize(events, key="user_id", ts="ts", gap_seconds=1800)
        .groupBy("user_id", "session_id")
        .agg(
            (F.unix_micros(F.min("ts")) / 1000).cast("long").alias("start_ms"),
            (F.unix_micros(F.max("ts")) / 1000).cast("long").alias("end_ms"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    want = {
        (r.user_id, r.start_ms, r.end_ms, r.n) for r in batch.collect()
    }
    assert got == want and len(want) > 0


def test_max_files_per_trigger_paces_micro_batches(spark, sf_dir, tmp_path):
    """Ingest pacing: maxFilesPerTrigger=1 over a 4-file landing dir
    must produce 4 micro-batches under AvailableNow (bounded work per
    batch — the knob that keeps recovery storms from OOMing executors),
    with no rows lost."""
    src = str(tmp_path / "src")
    events = load_table(spark, sf_dir, "events").select("event_id")
    n = events.count()
    events.repartition(4).write.parquet(src)

    batch_ids = []

    def sink(batch_df, batch_id):
        batch_ids.append((batch_id, batch_df.count()))

    q = (
        spark.readStream.schema("event_id BIGINT")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert len(batch_ids) == 4, batch_ids
    assert sum(c for _, c in batch_ids) == n


def test_versioned_sink_exactly_once(spark, events_dir, tmp_path):
    from unity_to_bigquery_spark.plans.versioned import VersionedTable
    from unity_to_bigquery_spark.streaming.stream import versioned_sink

    t = VersionedTable(spark, str(tmp_path / "vtbl"))
    sink = versioned_sink(t, "events-ingest")
    q = (
        stream_events(spark, events_dir)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    n = spark.read.parquet(events_dir).count()
    assert t.read().count() == n
    v = t.latest_version()

    # crash-replay: the engine re-delivers an already-committed batch id
    # (checkpoint not yet advanced) — the txn protocol makes it a no-op
    sink(spark.read.parquet(events_dir), 0)
    assert t.read().count() == n and t.latest_version() == v

    # the sink target is a live queryable table: time travel + history work
    assert t.manifest()["op"] == "append"
    assert [h["op"] for h in t.history()].count("append") >= 1


def test_streaming_incremental_dedup_into_versioned_table(spark, sf_dir, tmp_path):
    """Streaming twin of p_incremental_dedup: micro-batches of documents
    dedup against the corpus table (and within batch) as they land;
    the drained table equals batch exact-dedup of all input, and a
    second drain over late-arriving duplicates appends only new docs."""
    from unity_to_bigquery_spark.plans.versioned import VersionedTable
    from unity_to_bigquery_spark.streaming.stream import dedup_ingest_sink

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").limit(30)
    landing = str(tmp_path / "landing")
    # three files: distinct docs, plus a file duplicating the first ten
    d = docs.collect()
    spark.createDataFrame(d[:10], docs.schema).coalesce(1).write.mode(
        "append"
    ).json(landing)
    spark.createDataFrame(d[10:20], docs.schema).coalesce(1).write.mode(
        "append"
    ).json(landing)
    dups = [type(r)(doc_id=r.doc_id + 1000, text=r.text) for r in d[:10]]
    spark.createDataFrame(dups, docs.schema).coalesce(1).write.mode("append").json(
        landing
    )

    table = VersionedTable(spark, str(tmp_path / "corpus"))
    stream = (
        spark.readStream.schema("doc_id BIGINT, text STRING")
        .option("maxFilesPerTrigger", "1")
        .json(landing)
    )
    q = (
        stream.writeStream.foreachBatch(dedup_ingest_sink(table, "ingest"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    got = table.read().select("doc_id", "content_md5").collect()
    # every content hash exactly once, and never a cloned id when the
    # original text arrived in an earlier-or-same batch with smaller id
    hashes = [r.content_md5 for r in got]
    assert len(hashes) == len(set(hashes))
    n_unique_texts = len({r.text for r in d[:20]})  # only d[:20] landed (+clones)
    assert len(hashes) == n_unique_texts

    # second drain: one genuinely new doc + re-sent duplicates
    extra = [(5000, d[0].text), (5001, "a brand new never seen document")]
    spark.createDataFrame(extra, "doc_id BIGINT, text STRING").coalesce(
        1
    ).write.mode("append").json(landing)
    q2 = (
        spark.readStream.schema("doc_id BIGINT, text STRING")
        .option("maxFilesPerTrigger", "1")
        .json(landing)
        .writeStream.foreachBatch(dedup_ingest_sink(table, "ingest"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination()
    final = table.read().select("doc_id", "content_md5").collect()
    assert len(final) == n_unique_texts + 1
    assert len({r.content_md5 for r in final}) == n_unique_texts + 1
    assert 5001 in {r.doc_id for r in final} and 5000 not in {r.doc_id for r in final}


def test_versioned_table_streaming_source(spark, tmp_path):
    """readStream over the manifest log: offsets are versions, each
    drain delivers exactly the commits since the checkpoint (Delta
    streaming-source protocol); a delete commit in range raises."""
    import pyspark.sql.functions as F  # noqa: F401

    from unity_to_bigquery_spark.plans.versioned import VersionedTable
    from unity_to_bigquery_spark.sources.versioned_stream import register

    register(spark)
    t = VersionedTable(spark, str(tmp_path / "tbl"))
    t.commit_append(spark.sql("SELECT 1 AS k, 'a' AS v").coalesce(1))
    t.commit_append(spark.sql("SELECT 2 AS k, 'b' AS v").coalesce(1))

    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    def drain():
        q = (
            spark.readStream.format("versioned_table")
            .option("path", str(tmp_path / "tbl"))
            .load()
            .writeStream.foreachBatch(
                lambda df, bid: df.write.mode("append").parquet(sink)
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    got = sorted((r.k, r.v) for r in spark.read.parquet(sink).collect())
    assert got == [(1, "a"), (2, "b")]

    # incremental: a third commit, second drain delivers ONLY it
    t.commit_append(spark.sql("SELECT 3 AS k, 'c' AS v").coalesce(1))
    drain()
    got = sorted((r.k, r.v) for r in spark.read.parquet(sink).collect())
    assert got == [(1, "a"), (2, "b"), (3, "c")]

    # a delete commit poisons the stream rather than replaying rows
    t.commit_delete_where(spark.sql("SELECT 1 AS k"), key="k")
    t.commit_append(spark.sql("SELECT 4 AS k, 'd' AS v").coalesce(1))
    import pyspark.errors

    try:
        drain()
        raised = False
    except pyspark.errors.exceptions.base.PySparkException:
        raised = True
    except Exception:
        raised = True
    assert raised, "delete_where inside the consumed range must fail the stream"


def test_streaming_neardup_ingest(spark, tmp_path):
    """Fuzzy streaming ingest: exact and near duplicates of already-
    ingested docs are rejected by the signature index; novel docs are
    admitted; the whole flow is deterministic (md5-seeded hashes)."""
    from unity_to_bigquery_spark.plans.versioned import VersionedTable
    from unity_to_bigquery_spark.streaming.stream import neardup_ingest_sink

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " \
           "lam mu nu xi omicron pi rho sigma tau upsilon"
    other = "one two three four five six seven eight nine ten eleven " \
            "twelve thirteen fourteen fifteen sixteen"
    rows1 = [(1, base), (2, other)]
    near = base.replace("epsilon", "EPSILON")  # 1 of 20 words changed
    rows2 = [
        (10, base),          # exact dup of 1 -> must be rejected
        (11, near),          # near dup of 1 -> must be rejected
        (12, "completely different words nothing shared here at all "
             "brand new content stream landing zone"),
    ]
    landing = str(tmp_path / "landing")
    spark.createDataFrame(rows1, "doc_id BIGINT, text STRING").coalesce(1).write.mode(
        "append"
    ).json(landing)

    docs_t = VersionedTable(spark, str(tmp_path / "docs"))
    idx_t = VersionedTable(spark, str(tmp_path / "idx"))

    def drain():
        q = (
            spark.readStream.schema("doc_id BIGINT, text STRING")
            .option("maxFilesPerTrigger", "1")
            .json(landing)
            .writeStream.foreachBatch(neardup_ingest_sink(docs_t, idx_t, "nd"))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    assert sorted(r.doc_id for r in docs_t.read().collect()) == [1, 2]

    spark.createDataFrame(rows2, "doc_id BIGINT, text STRING").coalesce(1).write.mode(
        "append"
    ).json(landing)
    drain()
    got = sorted(r.doc_id for r in docs_t.read().collect())
    assert got == [1, 2, 12], got
    # index holds band rows only for admitted docs
    idx_ids = {r.doc_id for r in idx_t.read().select("doc_id").distinct().collect()}
    assert idx_ids == {1, 2, 12}


def test_versioned_streaming_source_skip_delete_commits(spark, tmp_path):
    """skip_delete_commits=true (Delta skipChangeCommits analogue):
    the stream survives a delete commit and keeps delivering appends."""
    from unity_to_bigquery_spark.plans.versioned import VersionedTable
    from unity_to_bigquery_spark.sources.versioned_stream import register

    register(spark)
    t = VersionedTable(spark, str(tmp_path / "tbl"))
    t.commit_append(spark.sql("SELECT 1 AS k, 'a' AS v").coalesce(1))
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    def drain():
        q = (
            spark.readStream.format("versioned_table")
            .option("path", str(tmp_path / "tbl"))
            .option("skip_delete_commits", "true")
            .load()
            .writeStream.foreachBatch(
                lambda df, bid: df.write.mode("append").parquet(sink)
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    t.commit_delete_where(spark.sql("SELECT 1 AS k"), key="k")
    t.commit_append(spark.sql("SELECT 2 AS k, 'b' AS v").coalesce(1))
    drain()  # must not raise; delivers only the new append
    got = sorted((r.k, r.v) for r in spark.read.parquet(sink).collect())
    assert got == [(1, "a"), (2, "b")]


def test_versioned_streaming_source_rejects_replace_keys(spark, tmp_path):
    """The append-only guard trips on ANY commit publishing equality
    deletes — commit_replace_keys, not just delete_where (ADVICE r4):
    a default stream must not silently deliver the appended slice while
    never retracting the replaced rows."""
    from unity_to_bigquery_spark.plans.versioned import VersionedTable
    from unity_to_bigquery_spark.sources.versioned_stream import register

    register(spark)
    t = VersionedTable(spark, str(tmp_path / "tbl"))
    t.commit_append(
        spark.sql("SELECT 1 AS k, 'a' AS v UNION ALL SELECT 2, 'b'").coalesce(1)
    )
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    def drain():
        q = (
            spark.readStream.format("versioned_table")
            .option("path", str(tmp_path / "tbl"))
            .load()
            .writeStream.foreachBatch(
                lambda df, bid: df.write.mode("append").parquet(sink)
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    t.commit_replace_keys(
        spark.sql("SELECT 1 AS k, 'a2' AS v").coalesce(1),
        spark.sql("SELECT 1 AS k"),
        "k",
    )
    try:
        drain()
        raised = False
    except Exception:
        raised = True
    assert raised, "replace_keys inside the consumed range must fail the stream"


def test_versioned_cdc_stream_null_keys_after_schema_evolution(spark, tmp_path):
    """CDC stream over a table whose delete key was ADDED by additive
    schema evolution: files predating the evolution lack the key column
    entirely — the stream NULL-fills (row.get, not row[k]) and NULL
    never matches a delete key (even an explicit NULL key value),
    mirroring the batch feed's SQL join-on-key semantics (ADVICE r4)."""
    from unity_to_bigquery_spark.plans.versioned import VersionedTable
    from unity_to_bigquery_spark.sources.versioned_stream import register

    register(spark)
    t = VersionedTable(spark, str(tmp_path / "tbl"))
    t.commit_append(spark.sql("SELECT 1 AS k").coalesce(1))  # no k2 column
    t.commit_append(
        spark.sql(
            "SELECT 2 AS k, 'x' AS k2 UNION ALL SELECT 3, 'y'"
        ).coalesce(1),
        merge_schema=True,
    )
    # delete on the evolved column; an explicit NULL key value must
    # match nothing (SQL semantics), not the NULL-filled old rows
    t.commit_delete_where(
        spark.createDataFrame([("x",), (None,)], "k2 STRING"), "k2"
    )
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    q = (
        spark.readStream.format("versioned_table")
        .option("path", str(tmp_path / "tbl"))
        .option("emit_change_types", "true")
        .load()
        .writeStream.foreachBatch(
            lambda df, bid: df.write.mode("append").parquet(sink)
        )
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    feed = sorted(
        (r.k, r.k2, r._change_type, r._commit_version)
        for r in spark.read.parquet(sink).collect()
    )
    batch = sorted(
        (r.k, r.k2, r._change_type, r._commit_version)
        for r in t.changes_with_type(0).collect()
    )
    assert feed == batch
    assert (2, "x", "delete", 3) in feed
    # the pre-evolution row (k2 IS NULL) was NOT retracted
    assert (1, None, "delete", 3) not in feed


def test_scd2_cdc_rebuild_pins_to_batch_end_version(spark, tmp_path):
    """The delete-repair rebuild reads the source AT the batch's end
    commit version, not the live snapshot (ADVICE r4): a source commit
    landing between offset planning and foreachBatch execution must not
    leak into the rebuilt slice — it is delivered and folded in the
    NEXT micro-batch."""
    import datetime as dt

    from unity_to_bigquery_spark.plans.versioned import VersionedTable
    from unity_to_bigquery_spark.streaming.stream import scd2_dim_sink_cdc

    src = VersionedTable(spark, str(tmp_path / "src"))
    dim = VersionedTable(spark, str(tmp_path / "dim"))
    t0 = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)

    def mk(rows):
        return spark.createDataFrame(
            [(eid, uid, st, t0 + dt.timedelta(hours=h)) for eid, uid, st, h in rows],
            "event_id BIGINT, user_id BIGINT, event_type STRING, ts TIMESTAMP",
        ).coalesce(1)

    src.commit_append(mk([(1, 1, "a", 0), (2, 1, "b", 1)]))  # v1
    src.commit_delete_where(
        spark.createDataFrame([(2,)], "event_id BIGINT"), "event_id"
    )  # v2
    # the batch a stream would plan at end-offset v2
    batch_df = src.changes_with_type(0, 2)
    # a LATE commit lands before foreachBatch runs
    src.commit_append(mk([(3, 1, "c", 2)]))  # v3
    scd2_dim_sink_cdc(dim, src, "pin-test")(batch_df, 0)
    got = sorted((r.state, r.is_current) for r in dim.read().collect())
    # version-2 view only: user 1 = a@0 open; the v3 'c' event must NOT
    # appear (a live-snapshot rebuild would close 'a' and open 'c')
    assert got == [("a", True)], got


def test_versioned_streaming_source_emit_change_types(spark, tmp_path):
    """emit_change_types=true (Delta readChangeFeed analogue): delete
    and rewrite commits flow as retraction rows instead of failing the
    stream; the drained feed equals the batch changes_with_type() feed
    and its signed fold reproduces the live snapshot."""
    import pyspark.sql.functions as F

    from unity_to_bigquery_spark.plans.versioned import VersionedTable
    from unity_to_bigquery_spark.sources.versioned_stream import register

    register(spark)
    t = VersionedTable(spark, str(tmp_path / "tbl"))
    t.commit_append(
        spark.sql("SELECT 1 AS k, 'a' AS v UNION ALL SELECT 2, 'b'").coalesce(1)
    )
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    def drain():
        q = (
            spark.readStream.format("versioned_table")
            .option("path", str(tmp_path / "tbl"))
            .option("emit_change_types", "true")
            .load()
            .writeStream.foreachBatch(
                lambda df, bid: df.write.mode("append").parquet(sink)
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    got = sorted(
        (r.k, r.v, r._change_type, r._commit_version)
        for r in spark.read.parquet(sink).collect()
    )
    assert got == [(1, "a", "insert", 1), (2, "b", "insert", 1)]

    # delete + re-append across ONE drain: retraction row then insert
    t.commit_delete_where(spark.sql("SELECT 1 AS k"), key="k")
    t.commit_append(spark.sql("SELECT 1 AS k, 'a2' AS v").coalesce(1))
    t.commit_overwrite(spark.sql("SELECT 2 AS k, 'b2' AS v").coalesce(1))
    drain()  # must NOT raise
    feed = spark.read.parquet(sink)
    batch_feed = t.changes_with_type(0).select(
        "k", "v", "_change_type", "_commit_version"
    )
    assert sorted(map(tuple, feed.collect())) == sorted(
        map(tuple, batch_feed.collect())
    )
    # signed multiset fold of the stream == live snapshot
    sign = F.when(F.col("_change_type") == "delete", F.lit(-1)).otherwise(F.lit(1))
    folded = (
        feed.groupBy("k", "v").agg(F.sum(sign).alias("n")).filter("n != 0")
    )
    assert sorted((r.k, r.v, r.n) for r in folded.collect()) == sorted(
        (r.k, r.v, 1) for r in t.read().collect()
    )


def test_versioned_stream_rejects_emit_changes_plus_skip_deletes(spark, tmp_path):
    from unity_to_bigquery_spark.plans.versioned import VersionedTable
    from unity_to_bigquery_spark.sources.versioned_stream import (
        VersionedTableStreamReader,
    )

    t = VersionedTable(spark, str(tmp_path / "tbl"))
    t.commit_append(spark.sql("SELECT 1 AS k").coalesce(1))
    import pytest as _pytest

    with _pytest.raises(ValueError, match="mutually exclusive"):
        VersionedTableStreamReader(
            {
                "path": str(tmp_path / "tbl"),
                "emit_change_types": "true",
                "skip_delete_commits": "true",
            },
            t.read().schema,
        )


def test_continuous_aggregate_stream_with_deletes(spark, tmp_path):
    """Live materialized view under deletes: the change-typed stream
    drives signed refreshes, so delete commits keep the rollup equal to
    a full recompute instead of poisoning the stream or silently
    over-counting (VERDICT r3 what's-wrong #1)."""
    import pyspark.sql.functions as F

    from unity_to_bigquery_spark.plans.incremental_agg import ContinuousAggregate
    from unity_to_bigquery_spark.plans.versioned import VersionedTable
    from unity_to_bigquery_spark.streaming.stream import continuous_aggregate_stream

    src = VersionedTable(spark, str(tmp_path / "src"))
    src.commit_append(
        spark.createDataFrame(
            [(i, "a" if i % 2 else "b", float(i)) for i in range(20)],
            "id INT, k STRING, x DOUBLE",
        ).coalesce(1)
    )
    agg = ContinuousAggregate(
        spark, src, str(tmp_path / "agg"), key="k",
        measures={"sum_x6": "x"}, handle_deletes=True,
    )
    ckpt = str(tmp_path / "ckpt")

    def drain():
        q = continuous_aggregate_stream(agg, ckpt)
        q.awaitTermination()

    def expect():
        return sorted(
            map(
                tuple,
                src.read()
                .groupBy("k")
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum(F.floor(F.col("x") * 1e6 + 0.5).cast("long")).alias("s"),
                )
                .collect(),
            )
        )

    drain()
    assert sorted(
        map(tuple, agg.read().select("k", "n", "sum_x6").collect())
    ) == expect()

    # delete commit + drain: rollup folds the retractions
    src.commit_delete_where(
        spark.createDataFrame([(i,) for i in range(0, 20, 4)], "id INT"), "id"
    )
    drain()
    assert sorted(
        map(tuple, agg.read().select("k", "n", "sum_x6").collect())
    ) == expect()

    # tombstone an entire key, then revive it
    src.commit_delete_where(spark.createDataFrame([("b",)], "k STRING"), "k")
    drain()
    assert sorted(
        map(tuple, agg.read().select("k", "n", "sum_x6").collect())
    ) == expect()
    src.commit_append(
        spark.createDataFrame([(100, "b", 3.5)], "id INT, k STRING, x DOUBLE")
        .coalesce(1)
    )
    drain()
    assert sorted(
        map(tuple, agg.read().select("k", "n", "sum_x6").collect())
    ) == expect()


def test_scd2_dim_sink_cdc_repairs_after_late_deletes(spark, tmp_path):
    """SCD2 maintenance over the change feed (VERDICT r3 #8): insert
    batches fold incrementally; a batch carrying delete retractions
    rebuilds the touched users' slices — intervals merge across the
    removed change point, a fully-deleted user's slice vanishes — and
    the dimension equals a batch rebuild after EVERY drain."""
    import datetime as dt

    from unity_to_bigquery_spark.plans.versioned import VersionedTable
    from unity_to_bigquery_spark.sources.versioned_stream import register
    from unity_to_bigquery_spark.streaming.stream import (
        scd2_dim_sink_cdc,
        scd2_rebuild_intervals,
    )

    register(spark)
    src = VersionedTable(spark, str(tmp_path / "src"))
    dim = VersionedTable(spark, str(tmp_path / "dim"))
    sink = scd2_dim_sink_cdc(dim, src, "scd2cdc")
    ckpt = str(tmp_path / "ckpt")

    def drain():
        q = (
            spark.readStream.format("versioned_table")
            .option("path", src.root)
            .option("emit_change_types", "true")
            .load()
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    def check():
        expect = sorted(
            map(
                tuple,
                scd2_rebuild_intervals(
                    src.read().select("user_id", "event_type", "ts", "event_id")
                ).collect(),
            )
        )
        got = sorted(
            map(
                tuple,
                dim.read()
                .select(
                    "dim_key", "user_id", "state", "valid_from_us",
                    "valid_to_us", "is_current",
                )
                .collect(),
            )
        )
        assert got == expect, f"dim != batch rebuild\ngot={got}\nexp={expect}"

    t0 = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)

    def mk(rows):
        return spark.createDataFrame(
            [(eid, uid, st, t0 + dt.timedelta(hours=h)) for eid, uid, st, h in rows],
            "event_id BIGINT, user_id BIGINT, event_type STRING, ts TIMESTAMP",
        ).coalesce(1)

    src.commit_append(mk([(1, 1, "a", 0), (2, 1, "b", 1), (3, 1, "a", 2),
                          (4, 2, "x", 0)]))
    drain()
    check()
    src.commit_append(mk([(5, 1, "b", 3), (6, 2, "x", 1)]))
    drain()
    check()
    # late deletes: user 1 loses the change point at h=1 (its 'a'
    # intervals must merge across it); user 2 loses EVERYTHING
    src.commit_delete_where(
        spark.createDataFrame([(2,), (4,), (6,)], "event_id BIGINT"), "event_id"
    )
    drain()
    check()
    assert dim.read().filter("user_id = 2").count() == 0
    # merged history for user 1: a@0 .. b@3(open) — change point at h=2 gone
    states = sorted(
        (r.state, r.is_current)
        for r in dim.read().filter("user_id = 1").collect()
    )
    assert states == [("a", False), ("b", True)]
    # back to the incremental path after a rebuild
    src.commit_append(mk([(7, 1, "c", 4), (8, 3, "z", 0)]))
    drain()
    check()


def test_ndjson_gz_streaming_sink(spark, sf_dir, tmp_path):
    """writeStream.format('ndjson_gz'): the custom streaming sink
    drains the stream into batch-id-deterministic gz shards readable
    by the landing scan; a checkpointed re-drain adds nothing."""
    from unity_to_bigquery_spark.catalog import load_table
    from unity_to_bigquery_spark.sinks.ndjson_gz import register
    from unity_to_bigquery_spark.sources.landing import read_ndjson

    register(spark)
    src_dir = str(tmp_path / "src")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    docs.write.parquet(src_dir)
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def drain():
        q = (
            spark.readStream.schema("doc_id BIGINT, source STRING")
            .parquet(src_dir)
            .writeStream.format("ndjson_gz")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    back = read_ndjson(spark, out, schema="doc_id BIGINT, source STRING")
    want = sorted((r.doc_id, r.source) for r in docs.collect())
    assert sorted((r.doc_id, r.source) for r in back.collect()) == want

    drain()  # nothing new -> no duplicates
    back2 = read_ndjson(spark, out, schema="doc_id BIGINT, source STRING")
    assert sorted((r.doc_id, r.source) for r in back2.collect()) == want


def test_versioned_streaming_source_rate_limit(spark, tmp_path):
    """max_versions_per_batch paces STEADY-STATE consumption: commits
    landing while the stream runs are consumed at most 2 versions per
    micro-batch. (The first batch of a run is unpaced — the engine
    asks latestOffset before initialOffset, and AvailableNow captures
    one target; documented in the reader.)"""
    import time as _time

    from unity_to_bigquery_spark.plans.versioned import VersionedTable
    from unity_to_bigquery_spark.sources.versioned_stream import register

    register(spark)
    t = VersionedTable(spark, str(tmp_path / "tbl"))
    t.commit_append(spark.sql("SELECT 100 AS k").coalesce(1))

    sink = str(tmp_path / "sink")

    def sink_batch(df, bid):
        # ONE action per batch: a count()-then-write sink executes the
        # source scan twice and numInputRows double-counts the batch,
        # which is what the pacing assertion below reads
        rows = df.collect()
        if rows:
            df.sparkSession.createDataFrame(rows, df.schema).write.mode(
                "append"
            ).parquet(sink)

    q = (
        spark.readStream.format("versioned_table")
        .option("path", str(tmp_path / "tbl"))
        .option("max_versions_per_batch", "2")
        .load()
        .writeStream.foreachBatch(sink_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="300 milliseconds")
        .start()
    )

    def rows():
        try:
            return spark.read.parquet(sink).count()
        except Exception:
            return 0

    deadline = _time.time() + 60
    while _time.time() < deadline and rows() < 1:
        _time.sleep(0.3)
    assert rows() >= 1  # cold-start batch drained

    # 5 commits land while the stream runs: steady-state pacing caps
    # each subsequent micro-batch at 2 versions (2 rows here)
    for i in range(5):
        t.commit_append(spark.sql(f"SELECT {i} AS k").coalesce(1))
    while _time.time() < deadline and rows() < 6:
        _time.sleep(0.3)
    q.stop()
    q.awaitTermination()

    got = sorted(r.k for r in spark.read.parquet(sink).collect())
    assert got == [0, 1, 2, 3, 4, 100]
    paced = [
        p_["numInputRows"]
        for p_ in q.recentProgress[1:]  # skip the unpaced cold-start batch
        if p_["numInputRows"] > 0
    ]
    assert paced and all(n <= 2 for n in paced), paced


def test_continuous_aggregate_stream_is_live_and_exactly_once(spark, tmp_path):
    """Streaming-driven materialized view: draining the versioned
    stream refreshes the rollup to match a full recompute; a new
    source commit + second drain folds only the delta; re-draining
    with nothing new changes nothing."""
    import pyspark.sql.functions as F

    from unity_to_bigquery_spark.plans.incremental_agg import ContinuousAggregate
    from unity_to_bigquery_spark.plans.versioned import VersionedTable
    from unity_to_bigquery_spark.streaming.stream import continuous_aggregate_stream

    src = VersionedTable(spark, str(tmp_path / "src"))
    src.commit_append(
        spark.sql("SELECT 'a' AS k, CAST(1.5 AS DOUBLE) AS x UNION ALL SELECT 'b', CAST(2.0 AS DOUBLE)").coalesce(1)
    )
    src.commit_append(spark.sql("SELECT 'a' AS k, CAST(0.25 AS DOUBLE) AS x").coalesce(1))
    agg = ContinuousAggregate(
        spark, src, str(tmp_path / "agg"), key="k", measures={"sum_x6": "x"}
    )
    ckpt = str(tmp_path / "ckpt")

    def drain():
        q = continuous_aggregate_stream(agg, ckpt)
        q.awaitTermination()

    def rollup():
        return {
            r.k: (r.n, r.sum_x6) for r in agg.table.read().collect()
        }

    drain()
    assert rollup() == {"a": (2, 1750000), "b": (1, 2000000)}
    assert agg.last_refreshed() == 2

    # live: new commit, second drain folds only the delta
    src.commit_append(spark.sql("SELECT 'b' AS k, CAST(0.5 AS DOUBLE) AS x").coalesce(1))
    drain()
    assert rollup() == {"a": (2, 1750000), "b": (2, 2500000)}
    assert agg.last_refreshed() == 3

    # idle drain: no source change -> no rollup commit
    v_before = agg.table.latest_version()
    drain()
    assert agg.table.latest_version() == v_before


def test_scd2_dim_sink_incremental_equals_batch(spark, sf_dir, tmp_path):
    """Feeding the event log through scd2_dim_sink in 3 time-ordered
    micro-batches must produce exactly the batch-computed SCD2
    dimension (w_scd2_intervals), and replaying a batch is a no-op."""
    import pyspark.sql.functions as F

    from unity_to_bigquery_spark.catalog import load_table
    from unity_to_bigquery_spark.plans.versioned import VersionedTable
    from unity_to_bigquery_spark.registry import all_queries
    from unity_to_bigquery_spark.streaming.stream import scd2_dim_sink

    events = load_table(spark, sf_dir, "events")
    # time-ordered batches: split on ts terciles (per-user order holds)
    t1, t2 = events.selectExpr(
        "percentile(unix_micros(ts), 0.33) AS a", "percentile(unix_micros(ts), 0.66) AS b"
    ).first()
    batches = [
        events.filter(F.unix_micros("ts") <= t1),
        events.filter((F.unix_micros("ts") > t1) & (F.unix_micros("ts") <= t2)),
        events.filter(F.unix_micros("ts") > t2),
    ]
    dim = VersionedTable(spark, str(tmp_path / "scd2dim"))
    sink = scd2_dim_sink(dim, "scd2-test")
    for i, b in enumerate(batches):
        sink(b, i)
    got = {
        (r.user_id, r.state, r.valid_from_us, r.valid_to_us, r.is_current)
        for r in dim.read().collect()
    }
    expect = {
        (r.user_id, r.event_type, r.valid_from_us, r.valid_to_us, r.is_current)
        for r in all_queries()["w_scd2_intervals"].spark(spark, sf_dir).collect()
    }
    assert got == expect

    # exactly-once: replaying the final batch changes nothing
    v = dim.latest_version()
    sink(batches[-1], 2)
    assert dim.latest_version() == v and {
        (r.user_id, r.state, r.valid_from_us, r.valid_to_us, r.is_current)
        for r in dim.read().collect()
    } == expect


def test_versioned_streaming_source_compact_no_redelivery(spark, tmp_path):
    """ADVICE r5: a compact inside the consumed window is live-content-
    identical — the per-commit walk must deliver NOTHING for its file
    churn (the old end-vs-base diff re-delivered every compacted row),
    while a later append still delivers exactly its own rows."""
    from unity_to_bigquery_spark.plans.versioned import VersionedTable
    from unity_to_bigquery_spark.sources.versioned_stream import register

    register(spark)
    t = VersionedTable(spark, str(tmp_path / "tbl"))
    t.commit_append(spark.sql("SELECT 1 AS k, 'a' AS v").coalesce(1))
    t.commit_append(spark.sql("SELECT 2 AS k, 'b' AS v").coalesce(1))
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    def drain():
        q = (
            spark.readStream.format("versioned_table")
            .option("path", str(tmp_path / "tbl"))
            .load()
            .writeStream.foreachBatch(
                lambda df, bid: df.write.mode("append").parquet(sink)
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    t.compact(target_files=1)
    t.commit_append(spark.sql("SELECT 3 AS k, 'c' AS v").coalesce(1))
    drain()
    got = sorted((r.k, r.v) for r in spark.read.parquet(sink).collect())
    assert got == [(1, "a"), (2, "b"), (3, "c")], got  # no duplicates


def test_versioned_streaming_source_rejects_rewrite_commits(spark, tmp_path):
    """ADVICE r5: delete-FREE rewrites (merge_upsert churns files
    without publishing equality deletes) must fail the append-only
    stream — silently re-delivering the rewritten files would
    duplicate every untouched row in them."""
    from unity_to_bigquery_spark.plans.versioned import VersionedTable
    from unity_to_bigquery_spark.sources.versioned_stream import register

    register(spark)
    t = VersionedTable(spark, str(tmp_path / "tbl"))
    t.commit_append(
        spark.sql("SELECT 1 AS k, 'a' AS v UNION ALL SELECT 2, 'b'").coalesce(1)
    )
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    def drain():
        q = (
            spark.readStream.format("versioned_table")
            .option("path", str(tmp_path / "tbl"))
            .load()
            .writeStream.foreachBatch(
                lambda df, bid: df.write.mode("append").parquet(sink)
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    t.merge_upsert(spark.sql("SELECT 1 AS k, 'a2' AS v").coalesce(1), "k")
    try:
        drain()
        raised = False
    except Exception:
        raised = True
    assert raised, "merge_upsert inside the consumed range must fail the stream"


def test_versioned_streaming_source_starting_version(spark, tmp_path):
    """starting_version=N (Delta startingVersion analogue): the stream
    consumes (N, ...] only — the bounded-bootstrap path after a batch
    backfill, and the only bound on the first micro-batch."""
    from unity_to_bigquery_spark.plans.versioned import VersionedTable
    from unity_to_bigquery_spark.sources.versioned_stream import register

    register(spark)
    t = VersionedTable(spark, str(tmp_path / "tbl"))
    t.commit_append(spark.sql("SELECT 1 AS k, 'a' AS v").coalesce(1))
    t.commit_append(spark.sql("SELECT 2 AS k, 'b' AS v").coalesce(1))
    t.commit_append(spark.sql("SELECT 3 AS k, 'c' AS v").coalesce(1))
    sink = str(tmp_path / "sink")
    q = (
        spark.readStream.format("versioned_table")
        .option("path", str(tmp_path / "tbl"))
        .option("starting_version", "2")
        .load()
        .writeStream.foreachBatch(
            lambda df, bid: df.write.mode("append").parquet(sink)
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted((r.k, r.v) for r in spark.read.parquet(sink).collect())
    assert got == [(3, "c")], got


def test_versioned_streaming_source_starting_version_validated(spark, tmp_path):
    """A starting_version beyond the table's latest (or negative) must
    raise at reader construction, not yield a silently empty stream
    (ADVICE r6): latestOffset < initialOffset delivers nothing, which
    hides a misconfigured backfill handoff."""
    import pytest

    from unity_to_bigquery_spark.plans.versioned import VersionedTable
    from unity_to_bigquery_spark.sources.versioned_stream import (
        VersionedTableStreamReader,
    )

    t = VersionedTable(spark, str(tmp_path / "tbl"))
    t.commit_append(spark.sql("SELECT 1 AS k").coalesce(1))
    t.commit_append(spark.sql("SELECT 2 AS k").coalesce(1))

    def reader(sv):
        return VersionedTableStreamReader(
            {"path": str(tmp_path / "tbl"), "starting_version": str(sv)},
            t.read().schema,
        )

    with pytest.raises(ValueError, match="out of range"):
        reader(3)
    with pytest.raises(ValueError, match="out of range"):
        reader(-1)
    assert reader(2).initialOffset() == {"version": 2}


def test_bounded_bootstrap_paces_first_batch_after_idle_gap(spark, tmp_path):
    """VERDICT r6 #6: a consumer waking up on a long-idle backlog must
    never materialize an unbounded first micro-batch. bounded_bootstrap
    snapshots the backlog as ONE batch read and opens the stream at the
    handoff version with the pacing floor seeded — so EVERY micro-batch
    (including the first, the case plain readStream can't bound) spans
    at most max_versions_per_batch commits. 36-commit idle gap +
    12 post-handoff commits at page 4 here; the mechanism is
    commit-count-independent (offsets are manifest versions)."""
    from unity_to_bigquery_spark.plans.versioned import VersionedTable
    from unity_to_bigquery_spark.sources.versioned_stream import bounded_bootstrap

    t = VersionedTable(spark, str(tmp_path / "tbl"))
    one = spark.sql("SELECT CAST(0 AS BIGINT) AS k").coalesce(1)
    for i in range(36):  # the idle-gap backlog (one row per commit)
        t.commit_append(one.select((F.lit(i)).cast("long").alias("k")))

    backfill, stream, handoff = bounded_bootstrap(
        spark, str(tmp_path / "tbl"), max_versions_per_batch=4
    )
    assert handoff == 36
    assert backfill.count() == 36  # the whole backlog, one batch scan

    for i in range(36, 48):  # live commits after the handoff
        t.commit_append(one.select((F.lit(i)).cast("long").alias("k")))

    batch_sizes: dict[int, int] = {}
    seen: list[int] = []

    def sink(df, bid):
        rows = df.collect()
        batch_sizes[bid] = len(rows)
        seen.extend(r.k for r in rows)

    # processing trigger, not AvailableNow: pacing advances the cap one
    # step per trigger (bounded_bootstrap docstring) — AvailableNow
    # would capture a single paced target and stop after 4 commits
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    import time as _time

    deadline = _time.time() + 90
    while _time.time() < deadline and len(seen) < 12:
        _time.sleep(0.3)
    q.stop()
    q.awaitTermination()
    # every micro-batch — the FIRST of the run included, the case plain
    # readStream cannot bound — spans <= 4 commits
    assert batch_sizes and max(batch_sizes.values()) <= 4, batch_sizes
    # the handoff is a fence: stream delivered exactly the post-backfill
    # rows, no overlap with the snapshot, nothing missed
    assert sorted(seen) == list(range(36, 48))


def test_paced_stream_survives_full_page_batches_and_restart(spark, tmp_path):
    """Regression for the pacing wedge: with the floor fed from a
    batch's START, any batch spanning exactly max_versions_per_batch
    commits computed the next cap as floor+max == the offset just
    committed and the stream never planned another batch. The floor
    must advance to the planned END (partitions() is the only progress
    signal — the Python runner never calls commit()). Scenario: a paced
    starting_version stream whose every batch is a FULL page, drained
    across a checkpoint restart."""
    import time as _time

    from unity_to_bigquery_spark.plans.versioned import VersionedTable
    from unity_to_bigquery_spark.sources.versioned_stream import register

    register(spark)
    t = VersionedTable(spark, str(tmp_path / "tbl"))
    one = spark.sql("SELECT CAST(0 AS BIGINT) AS k").coalesce(1)
    for i in range(9):
        t.commit_append(one.select(F.lit(i).cast("long").alias("k")))

    seen: list[int] = []

    def fb(df, bid):
        seen.extend(r.k for r in df.collect())

    def run(expect_total, secs):
        q = (
            spark.readStream.format("versioned_table")
            .option("path", str(tmp_path / "tbl"))
            .option("starting_version", "3")
            .option("max_versions_per_batch", "3")  # 6 pending = 2 FULL pages
            .load()
            .writeStream.foreachBatch(fb)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(processingTime="200 milliseconds")
            .start()
        )
        deadline = _time.time() + secs
        while _time.time() < deadline and len(seen) < expect_total:
            _time.sleep(0.3)
        q.stop()
        q.awaitTermination()

    run(6, 60)  # (3, 9] in two full 3-commit pages — wedged before the fix
    assert sorted(seen) == list(range(3, 9)), seen

    for i in range(9, 15):
        t.commit_append(one.select(F.lit(i).cast("long").alias("k")))
    run(12, 60)  # restart: two more full pages from the checkpoint
    assert sorted(seen) == list(range(3, 15)), seen


def test_cdc_stream_update_images_match_batch(spark, tmp_path):
    """Delta-CDF-style STREAMING update images (VERDICT r5 #7): drain
    the emit_change_types stream with foreachBatch applying
    classify_update_images — micro-batches are commit-aligned (offsets
    are versions), so the per-(commit, key) pairing must reproduce the
    batch changes_with_updates feed exactly, across a multi-commit
    history updating the same keys twice."""
    from unity_to_bigquery_spark.plans.versioned import VersionedTable
    from unity_to_bigquery_spark.sources.versioned_stream import register

    register(spark)
    t = VersionedTable(spark, str(tmp_path / "tbl"))
    t.commit_append(
        spark.createDataFrame(
            [(k, f"v{k}") for k in range(1, 9)], "k INT, v STRING"
        ).coalesce(1)
    )  # v1
    t.merge_upsert(
        spark.createDataFrame(
            [(k, f"v{k}X") for k in (2, 4, 6)], "k INT, v STRING"
        ).coalesce(1),
        "k",
    )  # v2: updates
    t.merge_upsert(
        spark.createDataFrame(
            [(4, "v4XY"), (99, "NEW")], "k INT, v STRING"
        ).coalesce(1),
        "k",
    )  # v3: same-key re-update + fresh insert
    t.commit_delete_where(spark.createDataFrame([(6,)], "k INT"), "k")  # v4

    sink = str(tmp_path / "sink")

    def classify(df, bid):
        out = VersionedTable.classify_update_images(df, "k")
        out.write.mode("append").parquet(sink)

    q = (
        spark.readStream.format("versioned_table")
        .option("path", str(tmp_path / "tbl"))
        .option("emit_change_types", "true")
        .option("max_versions_per_batch", "1")  # force multiple batches
        .load()
        .writeStream.foreachBatch(classify)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    got = sorted(
        tuple(r)
        for r in spark.read.parquet(sink)
        .select("k", "v", "_change_type", "_commit_version")
        .collect()
    )
    want = sorted(
        tuple(r)
        for r in t.changes_with_updates("k", since_version=0)
        .select("k", "v", "_change_type", "_commit_version")
        .collect()
    )
    assert got == want, f"stream drain != batch feed\ngot={got}\nwant={want}"
    # sanity: the same-key chain is present (preimage of v3 = postimage of v2)
    by = {(r[0], r[2], r[3]): r[1] for r in got}
    assert by[(4, "update_postimage", 2)] == "v4X"
    assert by[(4, "update_preimage", 3)] == "v4X"
    assert by[(4, "update_postimage", 3)] == "v4XY"
    assert by[(99, "insert", 3)] == "NEW"
    assert by[(6, "delete", 4)] == "v6X"


def test_streaming_warc_ingest_incremental(spark, tmp_path):
    """Streaming crawl ingest over the WARC landing zone: an
    AvailableNow drain delivers exactly the batch scan's records; new
    files landed afterwards are delivered INCREMENTALLY on a
    checkpoint restart (offset = file count, append-only names)."""
    import os

    from unity_to_bigquery_spark.sources.warc import (
        register_warc_source,
        write_warc_landing,
    )

    root = str(tmp_path / "landing")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    write_warc_landing([(i, 40 + i * 7) for i in range(12)], root, n_files=3)
    register_warc_source(spark)

    def drain():
        q = (
            spark.readStream.format("warc")
            .option("path", root)
            .load()
            .writeStream.foreachBatch(
                lambda df, eid: df.write.mode("append").parquet(out)
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drain()
    batch = (
        spark.read.format("warc").option("path", root).load()
    )
    got = spark.read.parquet(out)
    assert got.count() == batch.count()
    assert (
        sorted(r.target_uri for r in got.filter("warc_type='response'").collect())
        == sorted(r.target_uri for r in batch.filter("warc_type='response'").collect())
    )

    # land three more files (names sort AFTER the first wave), restart
    first_count = got.count()
    more = str(tmp_path / "more")
    write_warc_landing([(i, 40 + i * 7) for i in range(12, 24)], more, n_files=3)
    for i, fn in enumerate(sorted(os.listdir(more))):
        suffix = fn.split("-", 1)[1]
        os.rename(os.path.join(more, fn), os.path.join(root, f"part-9{suffix}"))
    drain()
    got2 = spark.read.parquet(out)
    batch2 = spark.read.format("warc").option("path", root).load()
    assert got2.count() == batch2.count()
    assert got2.count() > first_count  # only the delta was appended


def test_streaming_crawl_corpus_composition(spark, sf_dir, tmp_path):
    """VERDICT r7 #6: the checkpointed WARC-stream → extract →
    dedup-against-corpus → corpus-commit → gram-index-maintenance
    pipeline, drained THREE times over a growing landing zone with a
    mid-pipeline CRASH (the sink commits its tables, then dies before
    the checkpoint advances — the restart replays the identical batch
    and every commit must no-op), must equal the BATCH path
    (splittable WARC reader + the same extractor + groupBy) after
    every drain — exactly-once table commits throughout."""
    import os
    import shutil

    from unity_to_bigquery_spark.catalog import load_table
    from unity_to_bigquery_spark.llm.gram_index import GramIndex
    from unity_to_bigquery_spark.plans.versioned import VersionedTable
    from unity_to_bigquery_spark.sources.warc import (
        register_warc_source,
        write_html_warc_landing,
    )
    from unity_to_bigquery_spark.streaming.stream import (
        _crawl_extract,
        crawl_corpus_report,
        crawl_corpus_sink,
    )

    docs = load_table(spark, sf_dir, "documents")
    pairs = [
        (r.doc_id, r.n_chars) for r in docs.select("doc_id", "n_chars").collect()
    ]
    waves = [[p for p in pairs if p[0] % 3 == w] for w in range(3)]
    landing = str(tmp_path / "landing")
    os.makedirs(landing)

    def land(w):
        stage = str(tmp_path / f"stage{w}")
        write_html_warc_landing(waves[w], stage, n_files=2)
        for fn in os.listdir(stage):  # w0-* < w1-* < w2-*: append-only names
            shutil.move(os.path.join(stage, fn),
                        os.path.join(landing, f"w{w}-{fn}"))

    register_warc_source(spark)
    pages = VersionedTable(spark, str(tmp_path / "pages"))
    corpus = VersionedTable(spark, str(tmp_path / "corpus"))
    gi = GramIndex(spark, str(tmp_path / "gi"), corpus)
    sink = crawl_corpus_sink(pages, corpus, "crawl", index=gi)
    crash = {"armed": False}

    def crashable(df, bid):
        sink(df, bid)
        if crash["armed"]:
            crash["armed"] = False
            raise RuntimeError("simulated crash after commits, pre-checkpoint")

    def drain(expect_crash=False):
        q = (
            spark.readStream.format("warc")
            .option("path", landing)
            .load()
            .writeStream.foreachBatch(crashable)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        if expect_crash:
            with pytest.raises(Exception, match="simulated crash"):
                q.awaitTermination()
        else:
            q.awaitTermination()

    def batch_report():
        recs = spark.read.format("warc").option("path", landing).load()
        return sorted(
            map(
                tuple,
                _crawl_extract(recs)
                .groupBy("title")
                .agg(
                    F.count(F.lit(1)).cast("long").alias("n_copies"),
                    F.first("n_text_chars").alias("n_text_chars"),
                    F.first("n_words").alias("n_words"),
                    F.first("n_links").alias("n_links"),
                    F.first("site").alias("site"),
                )
                .select("title", "n_copies", "n_text_chars", "n_words",
                        "n_links", "site")
                .collect(),
            )
        )

    def served():
        return sorted(map(tuple, crawl_corpus_report(pages, corpus).collect()))

    land(0)
    drain()  # drain 1
    assert served() == batch_report()
    assert pages.read().count() == len(waves[0])

    # drain 2 CRASHES after its commits but before the checkpoint
    # advances; the restart replays the identical batch (offsets are
    # WAL'd before execution) and every commit must no-op
    land(1)
    crash["armed"] = True
    drain(expect_crash=True)
    n_committed = pages.read().count()
    assert n_committed == len(waves[0]) + len(waves[1])  # commits landed
    vp, vc = pages.latest_version(), corpus.latest_version()
    drain()  # restart: replayed batch no-ops everywhere
    assert pages.read().count() == n_committed  # exactly-once
    assert (pages.latest_version(), corpus.latest_version()) == (vp, vc)
    assert served() == batch_report()

    # replay drain with NO new data: every table version unchanged
    vg = gi.state.latest_version()
    drain()
    assert (pages.latest_version(), corpus.latest_version(),
            gi.state.latest_version()) == (vp, vc, vg)

    land(2)
    drain()  # drain 3
    assert served() == batch_report()
    assert pages.read().count() == len(pairs)

    # the maintained gram index tracks the corpus head and serves a
    # report over exactly the admitted (deduped) pages
    assert gi.indexed_version() == corpus.latest_version()
    assert gi.dup_report().count() == corpus.read().count() == 40


def test_versioned_stream_cdc_pos_revival_matches_batch(spark, tmp_path):
    """Round 9: a restore reviving pos-deleted rows mid-stream flows as
    'insert' rows (the streaming twin of the batch revival block)
    instead of failing the stream; the drained feed equals the batch
    changes_with_type() feed and its signed fold == live snapshot."""
    import pyspark.sql.functions as F

    from unity_to_bigquery_spark.plans.versioned import VersionedTable
    from unity_to_bigquery_spark.sources.versioned_stream import register

    register(spark)
    t = VersionedTable(spark, str(tmp_path / "tbl"))
    t.commit_append(
        spark.createDataFrame(
            [(k, f"v{k}") for k in range(6)], "k INT, v STRING"
        ).orderBy("k").coalesce(1)
    )
    f0 = t.manifest()["files"][0]
    v_pre = t.latest_version()
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    def drain():
        q = (
            spark.readStream.format("versioned_table")
            .option("path", str(tmp_path / "tbl"))
            .option("emit_change_types", "true")
            .load()
            .writeStream.foreachBatch(
                lambda df, bid: df.write.mode("append").parquet(sink)
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()  # baseline inserts delivered
    # pos-delete ordinals 1 and 3, equality-delete k=5, then restore
    # past all of it — the stream must revive (1, 3) positionally and
    # 5 via the equality path, each exactly once
    t.commit_delete_positions(
        spark.createDataFrame([(f0, 1), (f0, 3)], "file STRING, pos BIGINT")
    )
    t.commit_delete_where(spark.createDataFrame([(5,)], "k INT"), "k")
    t.restore(v_pre)
    drain()  # must NOT raise
    feed = spark.read.parquet(sink)
    batch_feed = t.changes_with_type(0).select(
        "k", "v", "_change_type", "_commit_version"
    )
    assert sorted(map(tuple, feed.collect())) == sorted(
        map(tuple, batch_feed.collect())
    )
    sign = F.when(F.col("_change_type") == "delete", F.lit(-1)).otherwise(F.lit(1))
    folded = feed.groupBy("k", "v").agg(F.sum(sign).alias("n")).filter("n != 0")
    assert sorted((r.k, r.v, r.n) for r in folded.collect()) == sorted(
        (r.k, r.v, 1) for r in t.read().collect()
    )


def test_index_cdc_maintenance_sink_streamed_equals_batch(spark, tmp_path):
    """Round 9 HEADLINE (VERDICT r8 #1): streaming retraction
    maintenance. A CDC stream (emit_change_types) over an AnnIndex's
    source drives index_cdc_maintenance_sink; interleaved append +
    equality-delete + pos-delete + merge commits arriving mid-stream
    retract EXACTLY like batch refresh — drained index state is
    bit-identical to a batch twin built at the same bootstrap version
    and refreshed over the same windows; crash-replay no-ops."""
    import random

    import pyspark.sql.functions as F

    from unity_to_bigquery_spark.llm.ann_index import AnnIndex
    from unity_to_bigquery_spark.plans.versioned import VersionedTable
    from unity_to_bigquery_spark.sources.versioned_stream import register
    from unity_to_bigquery_spark.streaming.stream import (
        index_cdc_maintenance_sink,
    )

    register(spark)
    rng = random.Random(11)
    dim = 8

    def vecs(lo, hi):
        return spark.createDataFrame(
            [
                (i, [rng.uniform(-1, 1) for _ in range(dim)])
                for i in range(lo, hi)
            ],
            "vec_id BIGINT, embedding ARRAY<DOUBLE>",
        ).coalesce(1)

    src = VersionedTable(spark, str(tmp_path / "src"))
    src.commit_append(vecs(0, 40).orderBy("vec_id").coalesce(1))
    streamed = AnnIndex(spark, str(tmp_path / "ix_stream"), src, ncells=4)
    twin = AnnIndex(spark, str(tmp_path / "ix_twin"), src, ncells=4)
    sink = index_cdc_maintenance_sink(streamed)
    ckpt = str(tmp_path / "ckpt")

    def drain():
        q = (
            spark.readStream.format("versioned_table")
            .option("path", src.root)
            .option("emit_change_types", "true")
            .load()
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    def state(ix):
        return sorted(
            (r.vec_id, r.cell_id, r.sim6, r.src_version)
            for r in ix.assignments.read().collect()
        )

    drain()  # bootstrap: build at v1
    twin.build()  # same snapshot + seed -> identical centroids
    assert state(streamed) == state(twin)
    v_boot = streamed.indexed_version()

    # interleaved mutation commits, delivered across TWO drains so a
    # delete commit really arrives MID-STREAM
    src.commit_append(vecs(40, 60))
    src.commit_delete_where(
        spark.createDataFrame([(i,) for i in range(0, 40, 5)], "vec_id BIGINT"),
        "vec_id",
    )
    drain()
    twin.refresh(to_version=streamed.indexed_version())
    assert state(streamed) == state(twin)

    f0 = src.manifest(1)["files"][0]
    src.commit_delete_positions(
        spark.createDataFrame([(f0, 3), (f0, 7)], "file STRING, pos BIGINT")
    )
    moved = src.read().filter(F.col("vec_id") < 2).withColumn(
        "embedding", F.expr("transform(embedding, x -> -x)")
    )
    src.merge_upsert(moved.select(*src.read().columns), "vec_id")
    drain()
    twin.refresh()
    assert streamed.indexed_version() == src.latest_version()
    assert state(streamed) == state(twin)

    # the folded state equals the live corpus: every live id assigned
    # exactly once, every dead id gone
    live_ids = sorted(r.vec_id for r in src.read().select("vec_id").collect())
    assert sorted(x[0] for x in state(streamed)) == live_ids

    # crash-replay: re-running the sink on a stale batch no-ops
    before = state(streamed)
    stale = src.changes_with_type(0, 2).select(
        "*"
    )  # an already-folded window
    sink(stale, 99)
    assert state(streamed) == before
    # serve-path identity too
    q = vecs(0, 3)
    a = sorted(map(tuple, streamed.topk(q, k=3, nprobe=4).collect()))
    b = sorted(map(tuple, twin.topk(q, k=3, nprobe=4).collect()))
    assert a == b


def test_index_cdc_maintenance_sink_gram_index(spark, tmp_path):
    """The sink is index-agnostic: GramIndex (exact-substring dedup
    state) maintained from the same CDC stream — a GDPR-style source
    delete mid-stream leaves the dup report ≡ a batch twin's."""
    from unity_to_bigquery_spark.llm.gram_index import GramIndex
    from unity_to_bigquery_spark.plans.versioned import VersionedTable
    from unity_to_bigquery_spark.sources.versioned_stream import register
    from unity_to_bigquery_spark.streaming.stream import (
        index_cdc_maintenance_sink,
    )

    register(spark)
    src = VersionedTable(spark, str(tmp_path / "src"))
    def docs(lo, hi):
        rows = [
            (i, ("lorem ipsum dolor sit amet " * 4) + f"tail{i}")
            for i in range(lo, hi)
        ]
        return spark.createDataFrame(
            [(i, t, len(t)) for i, t in rows],
            "doc_id BIGINT, text STRING, n_chars BIGINT",
        ).coalesce(1)

    docs1 = docs(0, 8)
    src.commit_append(docs1)
    streamed = GramIndex(spark, str(tmp_path / "gx_stream"), src)
    twin = GramIndex(spark, str(tmp_path / "gx_twin"), src)
    sink = index_cdc_maintenance_sink(streamed)
    ckpt = str(tmp_path / "ckpt")

    def drain():
        q = (
            spark.readStream.format("versioned_table")
            .option("path", src.root)
            .option("emit_change_types", "true")
            .load()
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    twin.build()
    # append new docs AND delete some mid-stream, one drain
    src.commit_append(docs(8, 12))
    src.commit_delete_where(
        spark.createDataFrame([(2,), (5,)], "doc_id BIGINT"), "doc_id"
    )
    drain()
    twin.refresh()
    assert streamed.indexed_version() == src.latest_version()
    got = sorted(map(tuple, streamed.dup_report().collect()))
    want = sorted(map(tuple, twin.dup_report().collect()))
    assert got == want
    assert not any(r[0] in (2, 5) for r in got)  # deleted docs gone


def test_streaming_wap_ingest_branch_then_publish(spark, tmp_path):
    """Streaming write-audit-publish (round 9): micro-batches land on
    an AUDIT BRANCH via versioned_sink (main never sees in-flight
    data), the drained branch is audited and atomically published, and
    the txn map carried through publish keeps replays exactly-once
    ACROSS the publish — a re-delivered batch against the next
    window's branch no-ops."""
    import pyspark.sql.functions as F

    from unity_to_bigquery_spark.plans.versioned import VersionedTable
    from unity_to_bigquery_spark.streaming.stream import versioned_sink

    land = str(tmp_path / "land")
    ddl = "k INT, v STRING"
    spark.createDataFrame([(1, "a"), (2, "b")], ddl).coalesce(1).write.mode(
        "append"
    ).parquet(land)
    t = VersionedTable(spark, str(tmp_path / "tbl"))
    ckpt = str(tmp_path / "ckpt")

    def drain(branch_name):
        sink = versioned_sink(t.branch(branch_name), "wap-ingest")
        q = (
            spark.readStream.schema(ddl).parquet(land)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    t.create_branch("w0")
    drain("w0")
    # in-flight isolation: main is still empty, branch has the batch
    assert t.latest_version() == 0
    assert sorted(r.k for r in t.branch("w0").read().collect()) == [1, 2]
    # audit on the branch, then publish atomically
    assert t.branch("w0").read().filter(F.col("k").isNull()).count() == 0
    t.publish_branch("w0")
    assert sorted(r.k for r in t.read().collect()) == [1, 2]
    # window 2: new files, new branch forked from the published main
    spark.createDataFrame([(3, "c")], ddl).coalesce(1).write.mode(
        "append"
    ).parquet(land)
    t.create_branch("w1")
    drain("w1")  # same checkpoint: only the new file is delivered
    assert sorted(r.k for r in t.branch("w1").read().collect()) == [1, 2, 3]
    # exactly-once ACROSS publish: batch 0 re-delivered against the new
    # branch is a no-op (its txn id was carried through the publish)
    sink = versioned_sink(t.branch("w1"), "wap-ingest")
    sink(spark.createDataFrame([(1, "a"), (2, "b")], ddl), 0)
    assert sorted(r.k for r in t.branch("w1").read().collect()) == [1, 2, 3]
    t.publish_branch("w1")
    assert sorted(r.k for r in t.read().collect()) == [1, 2, 3]
    assert t.branches() == {}


def test_versioned_stream_reads_a_branch(spark, tmp_path):
    """Round 9: option('branch', name) streams a BRANCH's commit line —
    the audit-consumer half of write-audit-publish. The backlog is
    main-up-to-the-fork plus the branch's commits; main commits after
    the fork never appear; an unknown branch fails loudly."""
    import pytest as _pytest

    from unity_to_bigquery_spark.plans.versioned import VersionedTable
    from unity_to_bigquery_spark.sources.versioned_stream import register

    register(spark)
    t = VersionedTable(spark, str(tmp_path / "tbl"))
    t.commit_append(spark.sql("SELECT 1 AS k, 'a' AS v").coalesce(1))
    t.create_branch("audit")
    b = t.branch("audit")
    b.commit_append(spark.sql("SELECT 2 AS k, 'b' AS v").coalesce(1))
    t.commit_append(spark.sql("SELECT 9 AS k, 'z' AS v").coalesce(1))  # main moves
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    def drain():
        q = (
            spark.readStream.format("versioned_table")
            .option("path", str(tmp_path / "tbl"))
            .option("branch", "audit")
            .load()
            .writeStream.foreachBatch(
                lambda df, bid: df.write.mode("append").parquet(sink)
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    got = sorted((r.k, r.v) for r in spark.read.parquet(sink).collect())
    assert got == [(1, "a"), (2, "b")]  # fork base + branch, NOT main's 9
    # incremental: another branch commit, second drain delivers the delta
    b.commit_append(spark.sql("SELECT 3 AS k, 'c' AS v").coalesce(1))
    drain()
    got = sorted((r.k, r.v) for r in spark.read.parquet(sink).collect())
    assert got == [(1, "a"), (2, "b"), (3, "c")]
    # unknown branch: loud
    from unity_to_bigquery_spark.sources.versioned_stream import (
        VersionedTableStreamReader,
    )
    with _pytest.raises(ValueError, match="no branch"):
        VersionedTableStreamReader(
            {"path": str(tmp_path / "tbl"), "branch": "nope"},
            spark.createDataFrame([], "k INT, v STRING").schema,
        )


def test_dml_sink_streaming_deleter_exactly_once(spark, tmp_path):
    """Round 12: a foreachBatch GDPR-deleter through the SQL DML front
    door with txn exactly-once — per-batch DELETE statements apply
    once; a manual replay of an already-recorded batch no-ops even
    though new matching rows landed in between."""
    from unity_to_bigquery_spark.plans.versioned import VersionedTable
    from unity_to_bigquery_spark.streaming.stream import dml_sink

    t = VersionedTable(spark, str(tmp_path / "tbl"))
    t.commit_append(spark.createDataFrame(
        [(i, f"u{i % 5}") for i in range(50)], "k INT, user STRING"
    ))
    # erasure-request stream: 3 single-row files naming users to erase
    src = str(tmp_path / "requests")
    for i, u in enumerate(["u1", "u3", "u4"]):
        spark.createDataFrame([(u,)], "user STRING").coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def stmt(batch_df, batch_id):
        users = sorted(r.user for r in batch_df.collect())
        if not users:
            return None
        quoted = ", ".join(f"'{u}'" for u in users)
        return f"DELETE FROM t WHERE user IN ({quoted})"

    sink = dml_sink(t, "gdpr", stmt)
    q = (
        spark.readStream.schema("user STRING")
        .parquet(src)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert {r.user for r in t.read().collect()} == {"u0", "u2"}
    assert t.read().count() == 20
    # replay protection: new u1 rows land, then batch 0's statement
    # replays with its original txn id — must be a no-op
    t.commit_append(spark.createDataFrame(
        [(100, "u1")], "k INT, user STRING"
    ))
    last = t.manifest()["txns"]["gdpr"]
    v = t.latest_version()
    sink2 = dml_sink(t, "gdpr", lambda b, i: "DELETE FROM t WHERE user = 'u1'")
    sink2(spark.createDataFrame([("u1",)], "user STRING"), 0)
    assert t.latest_version() == v  # replay no-op
    assert t.read().filter("user = 'u1'").count() == 1
    # a NEW batch id applies
    sink2(spark.createDataFrame([("u1",)], "user STRING"), last + 1)
    assert t.read().filter("user = 'u1'").count() == 0


def test_dml_sink_blank_statement_skips(spark, tmp_path):
    """ADVICE r12 (low): an empty/whitespace statement from stmt_fn
    skips the batch like None instead of IndexError-ing the stream."""
    from unity_to_bigquery_spark.plans.versioned import VersionedTable
    from unity_to_bigquery_spark.streaming.stream import dml_sink

    t = VersionedTable(spark, str(tmp_path / "tbl"))
    t.commit_append(spark.createDataFrame([(1, "a")], "k INT, v STRING"))
    v0 = t.latest_version()
    batch = spark.createDataFrame([(1,)], "x INT")
    for stmt in (None, "", "   \n\t"):
        dml_sink(t, "app", lambda b, i, s=stmt: s)(batch, 0)
    assert t.latest_version() == v0


def test_stream_multi_file_partition_packing(spark, tmp_path):
    """Round 14 (VERDICT r13 #2): the stream planner bin-packs per-file
    specs into row-budgeted InputPartitions; the drained rows are the
    exact union of the per-file reads on BOTH the append-only and the
    CDC path, and pack_rows=0 restores the per-file layout."""
    from unity_to_bigquery_spark.plans.versioned import VersionedTable
    from unity_to_bigquery_spark.sources.versioned_stream import (
        VersionedTableDataSource,
        VersionedTableStreamReader,
        _PackedPartition,
    )

    root = str(tmp_path / "tbl")
    t = VersionedTable(spark, root)
    for c in range(5):
        t.commit_append(
            spark.createDataFrame(
                [(c * 10 + i, f"v{c * 10 + i}") for i in range(4)],
                "k INT, v STRING",
            ).coalesce(1)
        )
    hi = t.latest_version()

    # append path: default budget packs 5 tiny files into 1 partition
    opts = {"path": root}
    ds = VersionedTableDataSource(opts)
    struct = spark.createDataFrame([], ds.schema()).schema
    sr = VersionedTableStreamReader(opts, struct)
    parts = sr.partitions({"version": 0}, {"version": hi})
    assert len(parts) == 1 and isinstance(parts[0], _PackedPartition)
    got = set()
    for p in parts:
        for b in sr.read(p):
            got |= {tuple(r.values()) for r in b.to_pylist()}
    assert got == {tuple(r) for r in t.read().collect()}
    # pack_rows=0: pre-r14 one partition per file
    sr0 = VersionedTableStreamReader({"path": root, "pack_rows": "0"}, struct)
    assert len(sr0.partitions({"version": 0}, {"version": hi})) == 5
    # CDC path: delete commit in range, packed plan ≡ flat plan rows
    t.commit_delete_where(spark.createDataFrame([(11,), (31,)], "k INT"), "k")
    hi2 = t.latest_version()
    copts = {"path": root, "emit_change_types": "true"}
    cds = VersionedTableDataSource(copts)
    cstruct = spark.createDataFrame([], cds.schema()).schema
    csr = VersionedTableStreamReader(copts, cstruct)
    cparts = csr.partitions({"version": 0}, {"version": hi2})
    assert any(isinstance(p, _PackedPartition) for p in cparts)
    cgot = set()
    for p in cparts:
        for b in csr.read(p):
            cgot |= {tuple(r.values()) for r in b.to_pylist()}
    flat = VersionedTableStreamReader(
        {**copts, "pack_rows": "0"}, cstruct
    )
    fgot = set()
    fparts = flat.partitions({"version": 0}, {"version": hi2})
    assert len(fparts) > len(cparts)
    for p in fparts:
        for b in flat.read(p):
            fgot |= {tuple(r.values()) for r in b.to_pylist()}
    assert cgot == fgot and cgot


def test_stream_arrow_fast_path_no_fallback(spark, tmp_path):
    """The Arrow stream executor handles the CDC semantics set — insert
    frames, delete retractions (match_any), eq-anti exclusion,
    pos-delete ordinals, row-lineage ids (phys AND base+ordinal) — and
    the union of its partitions equals the batch changes_with_type
    feed, lineage ids and change columns included."""
    from unity_to_bigquery_spark.plans.versioned import VersionedTable
    from unity_to_bigquery_spark.sources.versioned_stream import (
        VersionedTableDataSource,
        VersionedTableStreamReader,
        _CDCFilePartition,
    )

    root = str(tmp_path / "tbl")
    t = VersionedTable(spark, root, row_lineage=True)
    t.commit_append(
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(20)], "k INT, v STRING"
        ).coalesce(1)
    )
    t.commit_delete_where(
        spark.createDataFrame([(3,), (7,)], "k INT"), "k"
    )
    t.delete_rows_where("k = 11", mode="mor")  # positional
    t.merge_upsert(
        spark.createDataFrame([(2, "V2"), (99, "new")], "k INT, v STRING"),
        key="k",
    )
    opts = {"path": root, "emit_change_types": "true", "emit_row_ids": "true"}
    ds = VersionedTableDataSource(opts)
    schema_ddl = ds.schema()
    struct = spark.createDataFrame([], schema_ddl).schema
    sr = VersionedTableStreamReader(opts, struct)
    parts = sr._cdc_partitions(0, t.latest_version(), t.manifest())
    assert any(isinstance(p, _CDCFilePartition) for p in parts)
    got = []
    for p in parts:
        for batch in sr.read(p):
            got += [tuple(r.values()) for r in batch.to_pylist()]
    want = t.changes_with_type(0)
    assert want.columns == struct.fieldNames()
    assert sorted(got, key=repr) == sorted(map(tuple, want.collect()), key=repr)
    assert {r[-2] for r in got} == {"insert", "delete"}
