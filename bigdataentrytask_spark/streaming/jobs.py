"""Streaming jobs: the reference's four Flink queries (Q1-Q4,
/root/reference/doc/temp.md:377-411) as Structured Streaming, each
runnable deterministically with an availableNow trigger.

| Job | Reference | Mode | Notes |
|---|---|---|---|
| tumble_minute      | Q2 :391-394 | append | watermarked 1-min tumble |
| user_totals        | Q3 :399-402 | update | keyed upsert via foreachBatch |
| channel_totals     | Q4 :407-410 | update | same shape, event_type key |
| daily_uv_payment   | Q1 :377-386 | foreachBatch | streaming COUNT(DISTINCT) |

Q1 is the documented hard part (SURVEY.md §7 risk 1): update-mode
streaming aggregation cannot contain COUNT(DISTINCT). The engine
follows the standard two-stage decomposition — the *stream* maintains
per-(date, user) partial aggregates (a supported keyed running agg);
the *sink* re-aggregates distinct users per date inside foreachBatch,
merging into the upsert target. State size is O(active keys), the same
bound Flink's changelog operator needs for the original query.
"""

from __future__ import annotations

import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from bigdataentrytask_spark.functions.time import day_bucket, minute_bucket
from bigdataentrytask_spark.operators import local_frame
from bigdataentrytask_spark.sinks import KeyedUpsertSink
from bigdataentrytask_spark.streaming.replay import events_file_stream


def tumble_minute(events: DataFrame) -> DataFrame:
    """Q2: COUNT(*) per 1-minute tumble (append mode plan)."""
    return (
        events.groupBy(F.window("ts", "1 minute").alias("w"))
        .agg(F.count(F.lit(1)).alias("buy_cnt"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "buy_cnt",
        )
    )


def user_totals(events: DataFrame) -> DataFrame:
    """Q3: unbounded running SUM per user (update mode plan)."""
    return events.groupBy("user_id").agg(
        F.round(F.sum("value"), 2).alias("payment")
    )


def channel_totals(events: DataFrame) -> DataFrame:
    """Q4: unbounded running SUM per channel (update mode plan)."""
    return events.groupBy(F.col("event_type").alias("channel")).agg(
        F.round(F.sum("value"), 2).alias("payment"), F.count(F.lit(1)).alias("cnt")
    )


def daily_user_partials(events: DataFrame) -> DataFrame:
    """Q1 stage 1: streaming-legal keyed partial agg per (date, user)."""
    return (
        events.select(
            day_bucket("ts").alias("date_str"),
            minute_bucket("ts").alias("time_str"),
            "user_id",
            "value",
        )
        .groupBy("date_str", "user_id")
        .agg(F.max("time_str").alias("time_str"), F.sum("value").alias("payment"))
    )


def reaggregate_daily(partials_sink: KeyedUpsertSink, spark: SparkSession) -> DataFrame:
    """Q1 stage 2: distinct users / payment per date from the upserted
    per-(date,user) state — run per micro-batch or on demand."""
    rows = partials_sink.snapshot()
    if not rows:
        return local_frame(
            spark, [], "date_str string, time_str string, uv long, payment double"
        )
    df = local_frame(
        spark,
        rows,
        "date_str string, user_id long, time_str string, payment double",
    )
    return (
        df.groupBy("date_str")
        .agg(
            F.max("time_str").alias("time_str"),
            F.count("user_id").alias("uv"),
            F.round(F.sum("payment"), 2).alias("payment"),
        )
        .orderBy("date_str")
    )


# ---------------------------------------------------------------------------
# Deterministic replay runners (availableNow): process the whole fixture
# as micro-batches, then stop. Used by tests and the queries() bridge.
# ---------------------------------------------------------------------------
def _run(query: StreamingQuery, timeout_s: int = 300) -> None:
    if not query.awaitTermination(timeout_s):
        query.stop()
        raise TimeoutError("streaming query did not finish replay in time")


def run_tumble_minute_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay Q2 end-to-end; returns the emitted (finalized) windows.

    Append mode only emits windows whose end the watermark has passed,
    so the final (max_ts - 5s) partial window is withheld — mirrored in
    the oracle's cutoff predicate.
    """
    events = events_file_stream(spark, sf_dir)
    name = f"tumble_replay_{uuid.uuid4().hex[:8]}"
    q = (
        tumble_minute(events)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ck_tumble_"))
        .start()
    )
    _run(q)
    return spark.table(name).orderBy("window_start")


def run_user_totals_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay Q3 through the keyed upsert sink; returns final state —
    the exact content the reference's MySQL table would hold."""
    sink = KeyedUpsertSink(["user_id"])
    events = events_file_stream(spark, sf_dir)
    q = (
        user_totals(events)
        .writeStream.outputMode("update")
        .foreachBatch(sink.upsert_batch)
        .trigger(availableNow=True)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ck_user_"))
        .start()
    )
    _run(q)
    rows = sink.snapshot()
    return local_frame(spark, rows, "user_id long, payment double").orderBy(
        "user_id"
    )


def run_daily_uv_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay Q1 (streaming distinct via two-stage decomposition)."""
    sink = KeyedUpsertSink(["date_str", "user_id"])
    events = events_file_stream(spark, sf_dir)
    q = (
        daily_user_partials(events)
        .writeStream.outputMode("update")
        .foreachBatch(sink.upsert_batch)
        .trigger(availableNow=True)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ck_daily_"))
        .start()
    )
    _run(q)
    return reaggregate_daily(sink, spark)


def ohlc_minute(events: DataFrame) -> DataFrame:
    """OHLC per (event_type, 1-min tumble): open/close via
    min_by/max_by over a (ts, event_id) tie-break struct — the
    streaming twin of the batch events_ohlc_hour downsample. All four
    aggregates are incrementally maintainable partial aggregates, so
    state per open window is O(1)."""
    key = F.struct("ts", "event_id")
    return (
        events.groupBy("event_type", F.window("ts", "1 minute").alias("w"))
        .agg(
            F.round(F.min_by("value", key), 4).alias("open"),
            F.round(F.max("value"), 4).alias("high"),
            F.round(F.min("value"), 4).alias("low"),
            F.round(F.max_by("value", key), 4).alias("close"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            "event_type",
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "open",
            "high",
            "low",
            "close",
            "n",
        )
    )


def run_ohlc_minute_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay the OHLC downsample; append mode emits only
    watermark-closed windows (same cutoff as run_tumble_minute_replay)."""
    events = events_file_stream(spark, sf_dir)
    name = f"ohlc_replay_{uuid.uuid4().hex[:8]}"
    q = (
        ohlc_minute(events)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ck_ohlc_"))
        .start()
    )
    _run(q)
    return spark.table(name).orderBy("event_type", "window_start")


def stream_stream_attribution(events: DataFrame) -> DataFrame:
    """Stream-stream interval join: purchases joined to same-user
    signups within the preceding 5 minutes — the streaming form of the
    batch `signup_purchase_within_5m` range join. Both sides carry the
    source watermark; the time-range condition bounds join state, so
    Spark can evict buffered rows once the watermark passes
    (state-size-safe for unbounded streams)."""
    s = events.select(
        F.col("user_id").alias("s_user"),
        F.col("event_id").alias("signup_id"),
        F.col("ts").alias("s_ts"),
        "event_type",
    ).filter(F.col("event_type") == "signup")
    p = events.select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("p_ts"),
        "event_type",
    ).filter(F.col("event_type") == "purchase")
    return (
        s.join(
            p,
            (F.col("s_user") == F.col("p_user"))
            & (F.col("p_ts") > F.col("s_ts"))
            & (F.col("p_ts") <= F.col("s_ts") + F.expr("INTERVAL 5 MINUTES")),
        )
        .select(
            F.col("s_user").alias("user_id"),
            "signup_id",
            "purchase_id",
            (F.unix_micros("p_ts") - F.unix_micros("s_ts")).alias("gap_us"),
        )
    )


def run_stream_stream_attribution_replay(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Deterministic replay of the stream-stream join."""
    import uuid

    events = events_file_stream(spark, sf_dir)
    name = f"ss_join_{uuid.uuid4().hex[:8]}"
    q = (
        stream_stream_attribution(events)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ck_ssj_"))
        .start()
    )
    _run(q)
    return spark.table(name).orderBy("user_id", "signup_id", "purchase_id")


def run_stream_dedup_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exactly-once dedup with BOUNDED state:
    `dropDuplicatesWithinWatermark` on the event key. Plain
    `dropDuplicates(["event_id"])` would never evict — state cleanup
    there requires the event-time column INSIDE the key subset, which
    changes the semantics (same id at two timestamps ≠ duplicate).
    WithinWatermark keeps the id-only semantics and ages each key out
    once the watermark passes its first sighting — the scale contract
    for unbounded streams (dupes in real pipelines arrive within
    retry/redelivery windows, i.e. within the watermark delay).
    Replay output must equal batch DISTINCT."""
    import uuid

    events = events_file_stream(spark, sf_dir)
    deduped = events.dropDuplicatesWithinWatermark(["event_id"]).select(
        "event_id", "user_id", "value"
    )
    name = f"dedup_replay_{uuid.uuid4().hex[:8]}"
    q = (
        deduped.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ck_dedup_"))
        .start()
    )
    _run(q)
    return spark.table(name).orderBy("event_id")


def sliding_5m(events: DataFrame) -> DataFrame:
    """Hopping window: 5-minute windows advancing every minute (append
    mode plan) — the generalization of Q2's tumble
    (/root/reference/doc/temp.md:391-394)."""
    return (
        events.groupBy(F.window("ts", "5 minutes", "1 minute").alias("w"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "cnt",
        )
    )


def run_sliding_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay the hopping-window agg; append mode withholds every
    window whose end the 5s watermark has not passed (same cutoff rule
    as run_tumble_minute_replay, applied per-hop)."""
    events = events_file_stream(spark, sf_dir)
    name = f"sliding_replay_{uuid.uuid4().hex[:8]}"
    q = (
        sliding_5m(events)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ck_slide_"))
        .start()
    )
    _run(q)
    return spark.table(name).orderBy("window_start")


def stream_static_enrichment(events: DataFrame, dim: DataFrame) -> DataFrame:
    """Stream-static join: enrich the event stream with a batch
    dimension (the canonical "fact stream ⋈ dim table" pattern the
    reference's star-schema gap implies, SURVEY.md §2.4). The static
    side re-resolves per micro-batch and broadcasts — no streaming
    state at all, unlike a stream-stream join. Running weighted
    revenue per channel, update mode."""
    return (
        events.join(F.broadcast(dim), "event_type")
        .groupBy(F.col("event_type").alias("channel"))
        .agg(
            F.round(F.sum(F.col("value") * F.col("weight")), 2).alias(
                "weighted_revenue"
            ),
            F.count(F.lit(1)).alias("cnt"),
        )
    )


def run_stream_static_enrichment_replay(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Deterministic replay through the keyed upsert sink."""
    from bigdataentrytask_spark.catalog import load_table

    # deterministic per-channel weight dim (stands in for a real
    # dimension table; derivation is pure column math)
    dim = (
        load_table(spark, sf_dir, "events")
        .select("event_type")
        .distinct()
        .withColumn(
            "weight",
            (F.length("event_type") % 3 + 1).cast("double") / 2.0,
        )
    )
    sink = KeyedUpsertSink(["channel"])
    events = events_file_stream(spark, sf_dir)
    q = (
        stream_static_enrichment(events, dim)
        .writeStream.outputMode("update")
        .foreachBatch(sink.upsert_batch)
        .trigger(availableNow=True)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ck_enrich_"))
        .start()
    )
    _run(q)
    rows = sink.snapshot()
    return local_frame(
        spark, rows, "channel string, weighted_revenue double, cnt long"
    ).orderBy("channel")


def session_window_stats(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Native session windows (F.session_window): per-user variable-
    length windows that extend while events arrive within `gap` of the
    last one; window end = last event + gap. This is the BUILT-IN
    session operator — the applyInPandasWithState sessionizer
    (streaming/stateful.py) remains the custom-kernel demonstration;
    production sessionization should prefer this form (JVM state
    store, no Python boundary). Spark merges half-open intervals, so
    an event at exactly last_ts + gap starts a NEW session — the
    oracle's island condition uses >= to match."""
    return (
        events.groupBy(
            "user_id", F.session_window("ts", gap).alias("w")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("session_value"),
        )
        .select(
            "user_id",
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias(
                "session_start"
            ),
            F.date_format("w.end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            "n_events",
            "session_value",
        )
    )


def run_session_window_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay the native-session-window agg; append mode emits only
    sessions whose end (last event + gap) the 5s watermark passed."""
    events = events_file_stream(spark, sf_dir)
    name = f"sesswin_replay_{uuid.uuid4().hex[:8]}"
    q = (
        session_window_stats(events)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ck_sesswin_"))
        .start()
    )
    _run(q)
    return spark.table(name).orderBy("user_id", "session_start")


def stream_stream_attribution_outer(events: DataFrame) -> DataFrame:
    """LEFT OUTER stream-stream interval join: every signup, with its
    within-5-minutes purchases when they exist and NULLs when they
    don't. The outer side is the hard streaming semantics: a signup's
    null row may only be emitted once the watermark proves no matching
    purchase can still arrive (state eviction time), so results
    trickle out as event time advances — availableNow replay emits
    every outer row whose eviction the final watermark has passed."""
    s = events.select(
        F.col("user_id").alias("s_user"),
        F.col("event_id").alias("signup_id"),
        F.col("ts").alias("s_ts"),
        "event_type",
    ).filter(F.col("event_type") == "signup")
    p = events.select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("p_ts"),
        "event_type",
    ).filter(F.col("event_type") == "purchase")
    return (
        s.join(
            p,
            (F.col("s_user") == F.col("p_user"))
            & (F.col("p_ts") > F.col("s_ts"))
            & (F.col("p_ts") <= F.col("s_ts") + F.expr("INTERVAL 5 MINUTES")),
            "left_outer",
        )
        .select(
            F.col("s_user").alias("user_id"),
            "signup_id",
            "purchase_id",
            (F.unix_micros("p_ts") - F.unix_micros("s_ts")).alias("gap_us"),
        )
    )


def run_stream_stream_outer_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic replay of the LEFT OUTER stream-stream join."""
    import uuid

    events = events_file_stream(spark, sf_dir)
    name = f"ss_outer_{uuid.uuid4().hex[:8]}"
    q = (
        stream_stream_attribution_outer(events)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ck_sso_"))
        .start()
    )
    _run(q)
    return spark.table(name).orderBy("user_id", "signup_id", "purchase_id")
