"""Bridge: streaming replays exposed as registry operators.

Each entry executes a real Structured Streaming job (file-source
replay, availableNow trigger, checkpointed) and returns the
materialized result — so the driver's differential harness exercises
the streaming path itself, not just its batch twin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from bigdataentrytask_spark.operators import (
    collect_bounded,
    local_frame,
    materialize,
    operator,
)
from bigdataentrytask_spark.streaming import jobs


# Q2 streamed: same agg as q2_tumble_minute, but through the streaming
# engine. Append mode withholds windows the watermark hasn't closed, so
# the oracle cuts at max(ts) - 5s (the reference's watermark bound,
# /root/reference/doc/temp.md:303).
@operator(
    "stream_tumble_minute",
    oracle="""
    SELECT strftime(date_trunc('minute', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           COUNT(*) AS buy_cnt
    FROM events
    WHERE date_trunc('minute', ts) + INTERVAL 1 MINUTE
          <= (SELECT MAX(ts) FROM events) - INTERVAL 5 SECOND
    GROUP BY 1
    ORDER BY window_start
    """,
)
def stream_tumble_minute(spark: SparkSession, sf_dir: str) -> DataFrame:
    return jobs.run_tumble_minute_replay(spark, sf_dir)


# Q3 streamed through the keyed-upsert sink; final sink state must equal
# the batch group-sum (same oracle as q3_user_payment).
@operator(
    "stream_user_totals",
    oracle="""
    SELECT user_id, ROUND(SUM(value),2) AS payment
    FROM events GROUP BY user_id ORDER BY user_id
    """,
)
def stream_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    return jobs.run_user_totals_replay(spark, sf_dir)


# Q1 streamed: COUNT(DISTINCT) via the two-stage decomposition.
@operator(
    "stream_daily_uv",
    oracle="""
    SELECT strftime(ts, '%Y-%m-%d') AS date_str,
           MAX(strftime(ts, '%H:%M')) AS time_str,
           COUNT(DISTINCT user_id)    AS uv,
           ROUND(SUM(value),2)        AS payment
    FROM events
    GROUP BY 1
    ORDER BY date_str
    """,
)
def stream_daily_uv(spark: SparkSession, sf_dir: str) -> DataFrame:
    return jobs.run_daily_uv_replay(spark, sf_dir)


# Hopping window streamed: the tumble generalization, append mode.
# Every hop whose window-end exceeds max(ts) - 5s is withheld by the
# watermark; the oracle applies the same per-hop cutoff.
@operator(
    "stream_sliding_5m",
    oracle="""
    SELECT strftime(date_trunc('minute', ts) - to_minutes(k),
                    '%Y-%m-%d %H:%M:%S') AS window_start,
           COUNT(*) AS cnt
    FROM events, range(0, 5) t(k)
    WHERE date_trunc('minute', ts) - to_minutes(k) + INTERVAL 5 MINUTE
          <= (SELECT MAX(ts) FROM events) - INTERVAL 5 SECOND
    GROUP BY 1
    ORDER BY window_start
    """,
)
def stream_sliding_5m(spark: SparkSession, sf_dir: str) -> DataFrame:
    return jobs.run_sliding_replay(spark, sf_dir)


# Stream-static enrichment join: per-batch broadcast of the dim side,
# zero streaming state. Oracle recomputes the deterministic weight dim
# inline.
@operator(
    "stream_channel_weighted",
    oracle="""
    SELECT event_type AS channel,
           ROUND(SUM(value * ((length(event_type) % 3 + 1) / 2.0)), 2)
               AS weighted_revenue,
           COUNT(*) AS cnt
    FROM events
    GROUP BY 1
    ORDER BY channel
    """,
)
def stream_channel_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    return jobs.run_stream_static_enrichment_replay(spark, sf_dir)


# OHLC downsample streamed: first/last/min/max per (type, minute)
# through the streaming engine — proves min_by/max_by argmax state is
# incrementally maintainable. Append mode withholds the final
# unclosed windows; the oracle applies the same watermark cutoff.
@operator(
    "stream_ohlc_minute",
    oracle="""
    WITH base AS (
      SELECT event_type, date_trunc('minute', ts) AS w, ts, event_id, value
      FROM events
      WHERE date_trunc('minute', ts) + INTERVAL 1 MINUTE
            <= (SELECT MAX(ts) FROM events) - INTERVAL 5 SECOND
    ), rn AS (
      SELECT *,
             ROW_NUMBER() OVER (PARTITION BY event_type, w
                                ORDER BY ts, event_id)           AS rf,
             ROW_NUMBER() OVER (PARTITION BY event_type, w
                                ORDER BY ts DESC, event_id DESC) AS rl
      FROM base
    )
    SELECT event_type,
           strftime(w, '%Y-%m-%d %H:%M:%S')               AS window_start,
           ROUND(MIN(CASE WHEN rf = 1 THEN value END), 4) AS open,
           ROUND(MAX(value), 4)                           AS high,
           ROUND(MIN(value), 4)                           AS low,
           ROUND(MIN(CASE WHEN rl = 1 THEN value END), 4) AS close,
           COUNT(*)                                       AS n
    FROM rn GROUP BY 1, 2
    ORDER BY event_type, window_start
    """,
)
def stream_ohlc_minute(spark: SparkSession, sf_dir: str) -> DataFrame:
    return jobs.run_ohlc_minute_replay(spark, sf_dir)


# Streaming exactly-once dedup: dropDuplicatesWithinWatermark on the
# event key — id-only dedup semantics WITH state ageout (plain
# dropDuplicates only evicts when the event-time column is inside the
# key subset). The fixture's event_ids are unique with deterministic
# payloads, so replay output must equal the batch projection exactly;
# the operator's value is the executed streaming machinery (keyed
# dedup state + ageout past the watermark).
@operator(
    "stream_dedup_exactly_once",
    oracle="""
    SELECT DISTINCT event_id, user_id, value
    FROM events
    ORDER BY event_id
    """,
)
def stream_dedup_exactly_once(spark: SparkSession, sf_dir: str) -> DataFrame:
    return jobs.run_stream_dedup_replay(spark, sf_dir)


# Custom stateful operator (applyInPandasWithState sessionizer) as a
# differential entry. Emission contract: a session is emitted when a
# successor event closes it (in-batch) or when the final watermark
# (max ts - 5s) passes its last event + the 30-minute gap (event-time
# timeout). The oracle states exactly that: every gaps-and-islands
# session EXCEPT a user's still-open last one unless the watermark
# provably closed it.
@operator(
    "stream_sessionize_stateful",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts, value,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       >= INTERVAL 30 MINUTE
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
    ),
    sess AS (
      SELECT user_id, ts, value,
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
      FROM marked
    ),
    agg AS (
      SELECT user_id, sess_id,
             MIN(ts) AS start_ts, MAX(ts) AS last_ts,
             COUNT(*) AS n_events, SUM(value) AS sum_value,
             MAX(sess_id) OVER (PARTITION BY user_id) AS last_sess
      FROM sess
      GROUP BY user_id, sess_id
    )
    SELECT user_id,
           strftime(start_ts, '%Y-%m-%d %H:%M:%S') AS session_start,
           n_events,
           ROUND(sum_value, 2) AS sum_value,
           epoch_us(last_ts) - epoch_us(start_ts) AS duration_us
    FROM agg
    WHERE sess_id < last_sess
       OR last_ts + INTERVAL 30 MINUTE
          <= (SELECT MAX(ts) FROM events) - INTERVAL 5 SECOND
    ORDER BY user_id, session_start
    """,
)
def stream_sessionize_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from bigdataentrytask_spark.streaming.stateful import (
        run_stateful_sessions_replay,
    )

    out = run_stateful_sessions_replay(spark, sf_dir)
    return out.select(
        "user_id",
        F.date_format("session_start", "yyyy-MM-dd HH:mm:ss").alias(
            "session_start"
        ),
        "n_events",
        F.round("sum_value", 2).alias("sum_value"),
        "duration_us",
    ).orderBy("user_id", "session_start")


# Stream-stream interval join as a differential entry: an inner join
# over a fully-replayed source emits every match, so the oracle is the
# exact batch range join (signup_purchase_within_5m's semantics).
@operator(
    "stream_signup_attribution",
    oracle="""
    SELECT s.user_id,
           s.event_id AS signup_id,
           p.event_id AS purchase_id,
           epoch_us(p.ts) - epoch_us(s.ts) AS gap_us
    FROM (SELECT * FROM events WHERE event_type = 'signup') s
    JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON p.user_id = s.user_id
     AND p.ts > s.ts
     AND p.ts <= s.ts + INTERVAL 5 MINUTE
    ORDER BY s.user_id, signup_id, purchase_id
    """,
)
def stream_signup_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdataentrytask_spark.streaming.jobs import (
        run_stream_stream_attribution_replay,
    )

    return run_stream_stream_attribution_replay(spark, sf_dir).orderBy(
        "user_id", "signup_id", "purchase_id"
    )


# Native session windows (F.session_window): variable-length per-user
# windows, end = last event + gap, merged as half-open intervals (an
# event at exactly last_ts + gap opens a NEW session — the oracle's
# island marker uses >= to match). Append mode withholds sessions the
# watermark has not closed; the oracle applies the same cutoff to
# MAX(ts) + gap. This is the built-in sessionizer; the
# applyInPandasWithState entry (stream_sessionize_stateful) remains
# the custom-kernel twin with its richer emission contract.
@operator(
    "stream_session_window",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       IS NULL
                    OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_s
      FROM events
    ),
    sess AS (
      SELECT user_id, ts, value,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM marked
    )
    SELECT user_id,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S')  AS session_start,
           strftime(MAX(ts) + INTERVAL 30 MINUTE,
                    '%Y-%m-%d %H:%M:%S')           AS session_end,
           COUNT(*)                                AS n_events,
           ROUND(SUM(value), 2)                    AS session_value
    FROM sess
    GROUP BY user_id, sid
    HAVING MAX(ts) + INTERVAL 30 MINUTE
           <= (SELECT MAX(ts) FROM events) - INTERVAL 5 SECOND
    ORDER BY user_id, session_start
    """,
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    return jobs.run_session_window_replay(spark, sf_dir)


# Q3 streamed INTO A REAL DATABASE: the reference's Flink -> MySQL
# changelog-upsert edge (doc/temp.md:317-371) end-to-end through a
# live JDBC sink. Update-mode micro-batches flow through foreachBatch
# -> staged MERGE into embedded Derby (one statement per batch, no
# per-row writes); the returned frame is the final DB table read back
# over JDBC. Same oracle as `stream_user_totals` — the sink must not
# change the answer, which is exactly the upsert contract.
@operator(
    "stream_user_totals_jdbc",
    oracle="""
    SELECT user_id, ROUND(SUM(value),2) AS payment
    FROM events GROUP BY user_id ORDER BY user_id
    """,
)
def stream_user_totals_jdbc(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from bigdataentrytask_spark.sinks import jdbc_upsert_batch
    from bigdataentrytask_spark.sources.jdbc import (
        jvm_jdbc_execute,
        read_jdbc_table,
    )
    from bigdataentrytask_spark.streaming.replay import events_file_stream

    url = "jdbc:derby:memory:stream_upsert;create=true"
    execute = jvm_jdbc_execute(spark, url)
    for tbl in ("stream_user_totals", "stream_user_totals__stage"):
        try:
            execute(f"DROP TABLE {tbl}")
        except Exception as ex:
            # Derby has no DROP TABLE IF EXISTS; SQLState 42Y55
            # (table does not exist) is the only expected failure —
            # anything else (lock timeout, connection error) must
            # surface HERE, not as a misleading "already exists"
            # on the CREATE that follows.
            state = ""
            jex = getattr(ex, "java_exception", None)
            if jex is not None:
                try:
                    state = jex.getSQLState() or ""
                except Exception:
                    state = ""
            if state != "42Y55" and "42Y55" not in str(ex):
                raise
    execute(
        'CREATE TABLE stream_user_totals '
        '("user_id" BIGINT PRIMARY KEY, "payment" DOUBLE)'
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        jdbc_upsert_batch(
            batch_df,
            url,
            "stream_user_totals",
            key_cols=["user_id"],
            execute=execute,
            dialect="merge",
        )

    events = events_file_stream(spark, sf_dir)
    q = (
        jobs.user_totals(events)
        .writeStream.outputMode("update")
        .foreachBatch(sink)
        .trigger(availableNow=True)
        .option(
            "checkpointLocation", tempfile.mkdtemp(prefix="ck_user_jdbc_")
        )
        .start()
    )
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError("streaming JDBC upsert did not finish replay")
    back = read_jdbc_table(spark, url, "stream_user_totals")
    return back.select("user_id", "payment").orderBy("user_id")


# LEFT OUTER stream-stream join: every (sufficiently old) signup with
# its within-5-minute purchases, or NULLs once the watermark proves no
# match can arrive. Outer-row emission happens at STATE EVICTION time,
# which trails the event-time watermark by an engine-internal margin
# (measured ~30 min on this corpus/batching); the operator therefore
# closes the books explicitly at max(ts) - _OUTER_CLOSE on BOTH
# engines — the same determinism-bound pattern as the windowed stream
# oracles' max(ts) - 5s cut, with margin for the eviction lag.
# _OUTER_CLOSE is a TUNABLE: it must exceed the eviction lag, which
# depends on the corpus's event-time spread and micro-batch sizing
# (~30 min here). If a corpus/batching change pushes the lag past it,
# the operator fails FAST below (every closed signup is asserted
# present in the replay output) instead of shipping a silent
# row-count mismatch. Emission verified stable across repeated
# replays (tests).
_OUTER_CLOSE = "2 hours"


@operator(
    "stream_signup_attribution_outer",
    oracle="""
    WITH closed AS (
      SELECT user_id, event_id AS signup_id, ts AS s_ts
      FROM events
      WHERE event_type = 'signup'
        AND ts <= (SELECT MAX(ts) FROM events) - INTERVAL 2 HOUR
    ),
    p AS (
      SELECT user_id, event_id AS purchase_id, ts AS p_ts
      FROM events WHERE event_type = 'purchase'
    )
    SELECT c.user_id, c.signup_id, p.purchase_id,
           epoch_us(p.p_ts) - epoch_us(c.s_ts) AS gap_us
    FROM closed c
    LEFT JOIN p
      ON p.user_id = c.user_id
     AND p.p_ts > c.s_ts
     AND p.p_ts <= c.s_ts + INTERVAL 5 MINUTE
    ORDER BY c.user_id, c.signup_id, p.purchase_id
    """,
)
def stream_signup_attribution_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from bigdataentrytask_spark.catalog import load_table

    out = jobs.run_stream_stream_outer_replay(spark, sf_dir)
    ev = load_table(spark, sf_dir, "events")
    closed = (
        ev.filter(F.col("event_type") == "signup")
        .crossJoin(
            F.broadcast(ev.agg(F.max("ts").alias("mx")))
        )
        .filter(F.col("ts") <= F.col("mx") - F.expr(f"INTERVAL {_OUTER_CLOSE}"))
        .select(F.col("event_id").alias("signup_id"))
    )
    # Fail fast if state eviction lagged past _OUTER_CLOSE: a closed
    # signup with no replay row means the engine never emitted its
    # outer row, and the differential would red-out with an opaque
    # row-count diff. The check is one broadcast anti-join over the
    # (dimension-sized) closed-signup set.
    missing = (
        closed.join(
            out.select("signup_id").distinct(), "signup_id", "left_anti"
        ).count()
    )
    if missing:
        raise AssertionError(
            f"stream_signup_attribution_outer: {missing} closed signups "
            f"missing from replay output — state eviction lag exceeded "
            f"_OUTER_CLOSE ({_OUTER_CLOSE}); raise the margin for this "
            f"corpus/batching"
        )
    return (
        out.join(F.broadcast(closed), "signup_id")
        .select("user_id", "signup_id", "purchase_id", "gap_us")
        .orderBy("user_id", "signup_id", "purchase_id")
    )


# --------------------------------------------------------------------------
# ST6: the reference's real-time topology — 4 concurrent streaming
# INSERT jobs in ONE engine (the reference needed 5 Flink task slots,
# /root/reference/doc/temp.md:259-268; the queries are Q1-Q4,
# :377-411). `pipelines.realtime_topology` starts all four
# availableNow replays concurrently in one SparkSession, each feeding
# its keyed upsert sink; the operator emits one row per sink with its
# final row count and value checksum, so the differential pins the
# final state of EVERY sink of the concurrent run at once. The append
# sink (buy_cnt_per_min) carries the watermark cut; the three update
# sinks must converge to the batch group-totals regardless of
# micro-batch interleaving across the four threads.
# --------------------------------------------------------------------------
@operator(
    "stream_concurrent_topology",
    oracle="""
    WITH wins AS (
      SELECT date_trunc('minute', ts) AS w, COUNT(*) AS cnt
      FROM events
      WHERE date_trunc('minute', ts) + INTERVAL 1 MINUTE
            <= (SELECT MAX(ts) FROM events) - INTERVAL 5 SECOND
      GROUP BY 1
    ),
    users AS (
      SELECT user_id, ROUND(SUM(value), 2) AS payment
      FROM events GROUP BY 1
    ),
    chans AS (
      SELECT event_type, ROUND(SUM(value), 2) AS payment
      FROM events GROUP BY 1
    ),
    du AS (
      SELECT strftime(ts, '%Y-%m-%d') AS d, user_id, SUM(value) AS payment
      FROM events GROUP BY 1, 2
    )
    SELECT * FROM (
      SELECT 'buy_cnt_per_min' AS sink,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(CAST(ROUND(cnt * 100) AS BIGINT)) AS BIGINT)
               AS total_cents
      FROM wins
      UNION ALL
      SELECT 'payment_user_list', CAST(COUNT(*) AS BIGINT),
             CAST(SUM(CAST(ROUND(payment * 100) AS BIGINT)) AS BIGINT)
      FROM users
      UNION ALL
      SELECT 'payment_channels_list', CAST(COUNT(*) AS BIGINT),
             CAST(SUM(CAST(ROUND(payment * 100) AS BIGINT)) AS BIGINT)
      FROM chans
      UNION ALL
      SELECT 'cumulative_payment_uv_partials', CAST(COUNT(*) AS BIGINT),
             CAST(SUM(CAST(ROUND(payment * 100) AS BIGINT)) AS BIGINT)
      FROM du
    ) ORDER BY sink
    """,
)
def stream_concurrent_topology(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the 4-query concurrent topology and summarize every sink.

    Each snapshot value is rounded to integer CENTS (half-up, the
    warehouse integer-cents pattern) before summing, so the totals
    accumulate exactly in int64 on both engines — no double-addition
    order sensitivity and no ROUND(...,2) boundary flips on the sum.
    """
    import math

    from bigdataentrytask_spark.pipelines import realtime_topology

    sinks = realtime_topology(spark, sf_dir)
    rows = []
    for name, value_col in (
        ("buy_cnt_per_min", "buy_cnt"),
        ("payment_user_list", "payment"),
        ("payment_channels_list", "payment"),
        ("cumulative_payment_uv_partials", "payment"),
    ):
        snap = sinks[name].snapshot()
        # floor(x*100 + 0.5) == DuckDB's ROUND-half-away-from-zero for
        # the non-negative payments here; integer addition is exact in
        # any order, so concurrent micro-batch arrival order is moot
        cents = (
            int(math.floor(r[value_col] * 100 + 0.5)) for r in snap
        )
        rows.append((name, len(snap), sum(cents)))
    return (
        local_frame(
            spark, rows, "sink string, n_rows long, total_cents long"
        )
        .orderBy("sink")
    )


# --------------------------------------------------------------------------
# ST7: micro-batch durability across a KILL + RESTART. The reference
# leans on Flume's file-channel transactions for this guarantee
# (/root/reference/doc/temp.md:695-700); Structured Streaming's
# equivalent is the checkpoint + file-sink metadata log. The operator
# proves it end-to-end: land the first half of the corpus through a
# checkpointed streaming file sink, let the query TERMINATE, append
# new source files, then start a SECOND query on the SAME checkpoint
# and landing path. Exactly-once across the restart means the second
# run must pick up only the unseen files and the landed table must
# equal the full corpus — a re-processed first half would double
# `cnt` against `n_distinct`, a lost batch would drop both.
# --------------------------------------------------------------------------
@operator(
    "stream_restart_recovery",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT)                AS cnt,
           CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_distinct,
           ROUND(SUM(value), 2)                    AS total_value
    FROM events GROUP BY 1 ORDER BY event_type
    """,
)
def stream_restart_recovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from bigdataentrytask_spark.catalog import load_table
    from bigdataentrytask_spark.session import ensure_session_confs

    ensure_session_confs(spark)
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    # one per-run root so the finally-cleanup removes src+land+ck in a
    # single rmtree — src and land each hold a fact-sized copy, and
    # repeated sweeps must not accumulate orphans in /tmp
    root = tempfile.mkdtemp(prefix="restart_recovery_")
    src = f"{root}/src"
    land = f"{root}/land"
    ck = f"{root}/ck"

    try:
        # phase 1: only the first month-half exists; 4 files → real
        # micro-batching inside the run
        ev.filter(F.dayofmonth("ts") <= 15).repartition(4).write.mode(
            "append"
        ).parquet(src)
        schema = spark.read.parquet(src).schema

        def start_landing():
            raw = (
                spark.readStream.schema(schema)
                .option("pathGlobFilter", "*.parquet")
                .parquet(src)
            )
            return (
                raw.writeStream.format("parquet")
                .option("path", land)
                .option("checkpointLocation", ck)
                .trigger(availableNow=True)
                .start()
            )

        q1 = start_landing()
        if not q1.awaitTermination(300):
            q1.stop()
            raise TimeoutError("restart-recovery phase 1 did not drain")

        # the process "dies" here (q1 has terminated); more data arrives
        ev.filter(F.dayofmonth("ts") > 15).repartition(4).write.mode(
            "append"
        ).parquet(src)

        # phase 2: a NEW query resumes from the same checkpoint — it
        # must skip every file the checkpoint already committed
        q2 = start_landing()
        if not q2.awaitTermination(300):
            q2.stop()
            raise TimeoutError("restart-recovery phase 2 did not drain")

        agg = (
            spark.read.parquet(land)
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("cnt"),
                F.count_distinct("event_id").alias("n_distinct"),
                F.round(F.sum("value"), 2).alias("total_value"),
            )
            .orderBy("event_type")
        )
        # materialize the (event-type-sized) summary BEFORE the temp
        # dirs are removed — the caller collects lazily after return
        return materialize(agg)
    finally:
        shutil.rmtree(root, ignore_errors=True)


# --------------------------------------------------------------------------
# foreachBatch CONDITIONAL merge (CDC latest-image materialization):
# the raw stream lands through a merge that keeps, per user, the event
# with the greatest (ts, event_id) — MERGE INTO ... WHEN MATCHED AND
# source.ts > target.ts THEN UPDATE, the standard lakehouse pattern
# for out-of-order upserts (plain last-write-wins would be wrong
# because micro-batches are ordered by FILE, not by event time). The
# source is split into 4 files with maxFilesPerTrigger=1, so the
# conditional path is genuinely exercised across batches.
# --------------------------------------------------------------------------
@operator(
    "stream_latest_image_merge",
    oracle="""
    SELECT user_id, event_type AS last_type,
           strftime(ts, '%Y-%m-%d %H:%M:%S')      AS last_ts,
           CAST(ROUND(value * 100) AS BIGINT)     AS last_cents
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
               ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1 ORDER BY user_id
    """,
)
def stream_latest_image_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from bigdataentrytask_spark.catalog import load_table
    from bigdataentrytask_spark.session import ensure_session_confs

    ensure_session_confs(spark)
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    root = tempfile.mkdtemp(prefix="latest_image_")
    src = f"{root}/src"
    try:
        ev.repartition(4).write.mode("append").parquet(src)
        schema = spark.read.parquet(src).schema

        # target state: user_id -> row dict; merge condition on the
        # (ts, event_id) version key
        state: dict = {}

        def merge_batch(batch_df, batch_id):
            # reduce the batch FIRST (per-user argmax inside the plan),
            # then apply the conditional merge on the bounded result —
            # exactly what MERGE INTO executes against a keyed table
            top = (
                batch_df.groupBy("user_id")
                .agg(
                    F.max(
                        F.struct("ts", "event_id", "event_type", "value")
                    ).alias("s")
                )
                .select("user_id", "s.*")
            )
            for r in collect_bounded(top):
                cur = state.get(r["user_id"])
                if cur is None or (r["ts"], r["event_id"]) > (
                    cur["ts"],
                    cur["event_id"],
                ):
                    state[r["user_id"]] = {
                        "ts": r["ts"],
                        "event_id": r["event_id"],
                        "event_type": r["event_type"],
                        "value": r["value"],
                    }

        q = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .writeStream.outputMode("update")
            .foreachBatch(merge_batch)
            .trigger(availableNow=True)
            .option("checkpointLocation", f"{root}/ck")
            .start()
        )
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError("latest-image merge did not drain")

        rows = [
            (
                uid,
                s["event_type"],
                s["ts"].strftime("%Y-%m-%d %H:%M:%S"),
                int(math.floor(s["value"] * 100 + 0.5)),
            )
            for uid, s in sorted(state.items())
        ]
        return local_frame(
            spark, rows,
            "user_id long, last_type string, last_ts string, last_cents long",
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


# --------------------------------------------------------------------------
# Streamed hourly leaderboard: tumbling (hour, channel) counts flow
# update-mode into the keyed upsert sink; the post-sink finish picks
# each hour's top channel. Sink state is the full (hour, channel)
# count table — the argmax runs on the LANDED state, proving the
# update-mode counts converge to the batch truth before the
# leaderboard reads them.
# --------------------------------------------------------------------------
@operator(
    "stream_hourly_channel_argmax",
    oracle="""
    WITH counts AS (
      SELECT date_trunc('hour', ts) AS h, event_type,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY h
               ORDER BY cnt DESC, event_type) AS rn
      FROM counts
    )
    SELECT strftime(h, '%Y-%m-%d %H:%M:%S') AS hour,
           event_type AS top_channel,
           cnt        AS top_cnt
    FROM ranked WHERE rn = 1 ORDER BY hour
    """,
)
def stream_hourly_channel_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from bigdataentrytask_spark.sinks import KeyedUpsertSink
    from bigdataentrytask_spark.streaming.replay import events_file_stream

    sink = KeyedUpsertSink(["h", "event_type"])
    events = events_file_stream(spark, sf_dir)
    agg = (
        events.groupBy(
            F.window("ts", "1 hour").alias("w"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col("w.start").alias("h"), "event_type", "cnt")
    )
    ck = tempfile.mkdtemp(prefix="ck_hca_")
    try:
        q = (
            agg.writeStream.outputMode("update")
            .foreachBatch(sink.upsert_batch)
            .trigger(availableNow=True)
            .option("checkpointLocation", ck)
            .start()
        )
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError("hourly argmax stream did not drain")
    finally:
        shutil.rmtree(ck, ignore_errors=True)
    rows = [
        (r["h"], r["event_type"], r["cnt"]) for r in sink.snapshot()
    ]
    landed = local_frame(
        spark, rows, "h timestamp_ntz, event_type string, cnt long"
    )
    return (
        landed.groupBy("h")
        .agg(
            F.min_by(
                F.struct(
                    F.col("event_type").alias("top_channel"),
                    F.col("cnt").alias("top_cnt"),
                ),
                F.struct(-F.col("cnt"), F.col("event_type")),
            ).alias("t")
        )
        .select(
            F.date_format("h", "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "t.top_channel",
            "t.top_cnt",
        )
        .orderBy("hour")
    )


# --------------------------------------------------------------------------
# Watermark-lag histogram over the replay source: per event, lag =
# (running max event-time over the ARRIVAL order) - (its own
# event-time) — the exact quantity Structured Streaming's watermark
# compares against its delay threshold when it
# decides to drop a late row. Arrival order is the generator's emit
# order (event_id; unique over the fixture), the deterministic proxy
# for processing order that a wall-clock-based histogram can't give an
# oracle. Buckets: on-front / within the reference's 5s watermark /
# <=1m / <=5m / >5m, plus the would-drop share — the table that says
# whether the reference's `ts - INTERVAL '5' SECOND` bound
# (streaming/replay.py WATERMARK) loses data on this stream.
#
# Determinism/scale: the running max is a global window over arrival
# order — honest for a WATERMARK audit because the engine's watermark
# is itself a GLOBAL min-of-max across partitions per batch; the
# per-event running front is its finest-grained (availableNow) bound.
# At 100 TB the same audit runs per shard/day slice (the front only
# needs the slice prefix); lag arithmetic is exact integer
# microseconds.
# --------------------------------------------------------------------------
_WM_LAG_US = 5_000_000  # the reference's 5s watermark, in microseconds

_WATERMARK_LAG_ORACLE = f"""
    WITH lagged AS (
      SELECT event_id,
             epoch_us(MAX(ts) OVER (ORDER BY event_id
                                    ROWS UNBOUNDED PRECEDING))
             - epoch_us(ts) AS lag_us
      FROM events
    ),
    bucketed AS (
      SELECT CASE
               WHEN lag_us = 0 THEN 'a_on_front'
               WHEN lag_us <= {_WM_LAG_US} THEN 'b_within_5s_watermark'
               WHEN lag_us <= 60000000 THEN 'c_under_1m'
               WHEN lag_us <= 300000000 THEN 'd_under_5m'
               ELSE 'e_over_5m'
             END AS lag_bucket,
             lag_us,
             CASE WHEN lag_us > {_WM_LAG_US} THEN 1 ELSE 0 END AS dropped
      FROM lagged
    )
    SELECT lag_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(ROUND(COUNT(*) * 1000000.0 /
                      (SELECT COUNT(*) FROM events)) AS BIGINT) AS share_ppm,
           CAST(MAX(lag_us) AS BIGINT) AS max_lag_us,
           CAST(SUM(dropped) AS BIGINT) AS n_would_drop
    FROM bucketed
    GROUP BY lag_bucket
    ORDER BY lag_bucket
    """


@operator("watermark_lag_histogram", oracle=_WATERMARK_LAG_ORACLE)
def watermark_lag_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-data lag census against the replay watermark (see
    block comment). Loads through the catalog so the events.ts
    physical-layout canonicalization applies."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from bigdataentrytask_spark.catalog import load_table

    ev = load_table(spark, sf_dir, "events").select("event_id", "ts")
    w = Window.orderBy("event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    lag_us = F.unix_micros(F.max("ts").over(w)) - F.unix_micros(F.col("ts"))
    lagged = ev.select(lag_us.alias("lag_us"))
    bucket = (
        F.when(F.col("lag_us") == 0, "a_on_front")
        .when(F.col("lag_us") <= _WM_LAG_US, "b_within_5s_watermark")
        .when(F.col("lag_us") <= 60_000_000, "c_under_1m")
        .when(F.col("lag_us") <= 300_000_000, "d_under_5m")
        .otherwise("e_over_5m")
    )
    n_total = ev.count()
    return (
        lagged.select(
            bucket.alias("lag_bucket"),
            "lag_us",
            F.when(F.col("lag_us") > _WM_LAG_US, 1).otherwise(0).alias(
                "dropped"
            ),
        )
        .groupBy("lag_bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.round(F.count(F.lit(1)) * 1000000.0 / F.lit(n_total))
            .cast("bigint")
            .alias("share_ppm"),
            F.max("lag_us").cast("bigint").alias("max_lag_us"),
            F.sum("dropped").cast("bigint").alias("n_would_drop"),
        )
        .orderBy("lag_bucket")
    )


# --------------------------------------------------------------------------
# Trigger-interval advisor — watermark_lag_histogram's sibling on the
# THROUGHPUT axis. For candidate processing-time triggers (1m/5m/15m/60m)
# it buckets the replay stream by event-time window and reports the
# micro-batch size distribution a job at that trigger would see: batch
# count, mean and max batch size, and the max/mean burst ratio (ppm) — the
# number that decides whether a trigger choice needs autoscaling headroom.
# Exact integer counts; one scan, one agg per interval via a generator
# explode.
# --------------------------------------------------------------------------
_TRIGGER_INTERVALS_S = [60, 300, 900, 3600]

_TRIGGER_ADVISOR_ORACLE = f"""
    WITH iv AS (
      SELECT UNNEST([{", ".join(map(str, _TRIGGER_INTERVALS_S))}])
        AS interval_s
    ),
    batches AS (
      SELECT iv.interval_s,
             CAST(FLOOR(epoch(ts) / iv.interval_s) AS BIGINT) AS b,
             COUNT(*) AS c
      FROM events, iv
      GROUP BY 1, 2
    )
    SELECT CAST(interval_s AS BIGINT) AS interval_s,
           CAST(COUNT(*) AS BIGINT) AS n_batches,
           CAST(SUM(c) AS BIGINT) AS n_events,
           CAST(ROUND(SUM(c) * 1000000.0 / COUNT(*)) AS BIGINT)
             AS mean_batch_ppm,
           CAST(MAX(c) AS BIGINT) AS max_batch,
           CAST(ROUND(MAX(c) * COUNT(*) * 1000000.0 / SUM(c)) AS BIGINT)
             AS burst_ratio_ppm
    FROM batches
    GROUP BY interval_s
    ORDER BY interval_s
    """


@operator("trigger_interval_advisor", oracle=_TRIGGER_ADVISOR_ORACLE)
def trigger_interval_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Micro-batch size distribution per candidate trigger interval
    (see block comment)."""
    from pyspark.sql import functions as F

    from bigdataentrytask_spark.catalog import load_table

    ev = load_table(spark, sf_dir, "events").select(
        F.unix_timestamp("ts").alias("es")
    )
    ivs = F.array(*[F.lit(i) for i in _TRIGGER_INTERVALS_S])
    batches = (
        ev.select(F.explode(ivs).alias("interval_s"), "es")
        .select(
            "interval_s",
            F.floor(F.col("es") / F.col("interval_s")).alias("b"),
        )
        .groupBy("interval_s", "b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return (
        batches.groupBy("interval_s")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_batches"),
            F.sum("c").cast("bigint").alias("n_events"),
            F.max("c").cast("bigint").alias("max_batch"),
        )
        .select(
            F.col("interval_s").cast("bigint").alias("interval_s"),
            "n_batches",
            "n_events",
            F.round(F.col("n_events") * 1000000.0 / F.col("n_batches"))
            .cast("bigint")
            .alias("mean_batch_ppm"),
            "max_batch",
            F.round(
                F.col("max_batch")
                * F.col("n_batches")
                * 1000000.0
                / F.col("n_events")
            )
            .cast("bigint")
            .alias("burst_ratio_ppm"),
        )
        .orderBy("interval_s")
    )


# --------------------------------------------------------------------------
# Streaming state-size projection — the MEMORY-capacity sibling of
# trigger_interval_advisor. A streaming dedup / sessionizer holds one
# state row per distinct key inside its watermark horizon; this audit
# replays the stream on a minute grid and reports, per candidate horizon
# (1m/5m/1h), the maximum and mean trailing-window distinct user count —
# the executor state-store budget a horizon choice implies, BEFORE any
# stateful job is deployed.
#
# Plan shape (the first draft was a grid x stream THETA join — the
# CONTRIBUTING §4 BroadcastNestedLoopJoin trap, measured minutes at
# sf0.1): each event EXPLODES to the h/60 grid buckets whose trailing
# window contains it (bucket b covers (b*60-h, b*60] <=> b in
# [ceil(es/60), ceil((es+h)/60) - 1]), distinct (horizon, bucket,
# user) hits are counted with keyed shuffles, and zero-state buckets
# come back via a left join from the bounded grid — no nested loop
# anywhere. NOTE the grid side must NOT share the horizon frame's
# lineage with the hit side: a shared frame makes the equi keys
# resolve to the same attribute ids and the join degrades to
# BroadcastNestedLoopJoin again (a fresh createDataFrame per side).
#
# Determinism: event seconds are floor(epoch) INTEGERS on both
# engines (DuckDB's fractional epoch() is floored explicitly — the
# boundary-membership class); bucket ranges are exact integer
# arithmetic; counts are exact distincts.
# --------------------------------------------------------------------------
_STATE_HORIZONS_S = [60, 300, 3600]

_STATE_PROJECTION_ORACLE = f"""
    WITH ev AS (
      SELECT CAST(FLOOR(epoch(ts)) AS BIGINT) AS es, user_id FROM events
    ),
    bounds AS (
      SELECT CAST(FLOOR(MIN(es) / 60) AS BIGINT) AS mn,
             CAST(FLOOR(MAX(es) / 60) AS BIGINT) AS mx
      FROM ev
    ),
    grid AS (
      SELECT UNNEST(range(mn, mx + 1)) AS b FROM bounds
    ),
    hz AS (
      SELECT UNNEST([{", ".join(map(str, _STATE_HORIZONS_S))}])
        AS horizon_s
    ),
    spans AS (
      SELECT DISTINCT h.horizon_s, e.user_id,
             CAST(CEIL(e.es / 60.0) AS BIGINT) AS b_lo,
             CAST(CEIL((e.es + h.horizon_s) / 60.0) AS BIGINT) - 1 AS b_hi
      FROM ev e CROSS JOIN hz h
    ),
    hit AS (
      SELECT DISTINCT s.horizon_s, u.b, s.user_id
      FROM spans s CROSS JOIN UNNEST(range(s.b_lo, s.b_hi + 1)) AS u(b)
    ),
    st AS (
      SELECT h.horizon_s, g.b, COUNT(t.user_id) AS state
      FROM grid g
      CROSS JOIN hz h
      LEFT JOIN hit t ON t.horizon_s = h.horizon_s AND t.b = g.b
      GROUP BY 1, 2
    )
    SELECT CAST(horizon_s AS BIGINT) AS horizon_s,
           CAST(COUNT(*) AS BIGINT) AS n_buckets,
           CAST(MAX(state) AS BIGINT) AS max_state,
           CAST(ROUND(SUM(state) * 1000000.0 / COUNT(*)) AS BIGINT)
             AS mean_state_ppm
    FROM st
    GROUP BY horizon_s
    ORDER BY horizon_s
    """


@operator("stream_state_projection", oracle=_STATE_PROJECTION_ORACLE)
def stream_state_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-window distinct-key census per candidate horizon (see
    staged block comment for the keyed-explode plan shape)."""
    from pyspark.sql import functions as F

    from bigdataentrytask_spark.catalog import load_table

    ev = load_table(spark, sf_dir, "events").select(
        F.unix_timestamp("ts").alias("es"), "user_id"
    )
    hz = local_frame(
        spark, [(h,) for h in _STATE_HORIZONS_S], "horizon_s long"
    )
    spans = (
        ev.crossJoin(F.broadcast(hz))
        .select(
            "horizon_s",
            "user_id",
            F.ceil(F.col("es") / 60.0).cast("bigint").alias("b_lo"),
            (
                F.ceil((F.col("es") + F.col("horizon_s")) / 60.0)
                .cast("bigint")
                - 1
            ).alias("b_hi"),
        )
        .distinct()
    )
    hit = spans.select(
        "horizon_s",
        "user_id",
        F.explode(F.sequence(F.col("b_lo"), F.col("b_hi"))).alias("b"),
    ).distinct()
    bounds = ev.agg(
        F.floor(F.min("es") / 60).cast("bigint").alias("mn"),
        F.floor(F.max("es") / 60).cast("bigint").alias("mx"),
    )
    grid = bounds.select(
        F.explode(F.sequence(F.col("mn"), F.col("mx"))).alias("b")
    )
    # independent horizon frame for the grid side (see block comment)
    hz_cells = local_frame(
        spark, [(h,) for h in _STATE_HORIZONS_S], "horizon_s long"
    )
    cells = grid.crossJoin(F.broadcast(hz_cells))
    st = (
        cells.join(hit, ["horizon_s", "b"], "left")
        .groupBy("horizon_s", "b")
        .agg(F.count("user_id").alias("state"))
    )
    return (
        st.groupBy("horizon_s")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
            F.max("state").cast("bigint").alias("max_state"),
            F.round(F.sum("state") * 1000000.0 / F.count(F.lit(1)))
            .cast("bigint")
            .alias("mean_state_ppm"),
        )
        .orderBy("horizon_s")
    )


# --------------------------------------------------------------------------
# Allowed-lateness sweep — watermark_lag_histogram's sibling on the
# POLICY axis: for each candidate watermark delay D, what the operator
# would (a) DROP (lag > D — data loss) and (b) RE-EMIT (late-but-kept
# rows: every one forces an update-mode re-fire of its minute window,
# and keeps that window's state alive — the downstream-churn and
# state-retention cost). The drop column falls and the re-emit column
# rises with D: this table is where a platform picks the delay instead
# of folklore-defaulting to 5s. Arrival order = event_id (the module's
# deterministic processing-order proxy, see watermark_lag_histogram).
#
# Scale: the running front is the same per-shard prefix computation as
# watermark_lag_histogram; everything after it is one pass with a
# stacked candidate column (no per-candidate rescan) and domain-sized
# aggregation. Exact integer microseconds throughout.
# --------------------------------------------------------------------------
_LATENESS_CANDIDATES_US = [
    ("a_0s", 0),
    ("b_5s", 5_000_000),
    ("c_30s", 30_000_000),
    ("d_5m", 300_000_000),
]

_LATENESS_SWEEP_ORACLE = f"""
    WITH lagged AS (
      SELECT event_id,
             date_trunc('minute', ts) AS win,
             epoch_us(MAX(ts) OVER (ORDER BY event_id
                                    ROWS UNBOUNDED PRECEDING))
             - epoch_us(ts) AS lag_us
      FROM events
    ),
    cands(delay_label, delay_us) AS (VALUES
      {", ".join(f"('{lbl}', {us})" for lbl, us in _LATENESS_CANDIDATES_US)}
    )
    SELECT c.delay_label,
           CAST(c.delay_us AS BIGINT) AS delay_us,
           CAST(count_if(l.lag_us > c.delay_us) AS BIGINT) AS n_dropped,
           CAST(ROUND(count_if(l.lag_us > c.delay_us) * 1000000.0
                      / COUNT(*)) AS BIGINT) AS drop_ppm,
           CAST(count_if(l.lag_us > 0 AND l.lag_us <= c.delay_us)
                AS BIGINT) AS n_late_kept,
           CAST(COUNT(DISTINCT CASE WHEN l.lag_us > 0
                                     AND l.lag_us <= c.delay_us
                                    THEN l.win END) AS BIGINT)
             AS n_windows_updated
    FROM lagged l CROSS JOIN cands c
    GROUP BY c.delay_label, c.delay_us
    ORDER BY c.delay_label
    """


@operator("allowed_lateness_sweep", oracle=_LATENESS_SWEEP_ORACLE)
def allowed_lateness_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drop-vs-re-emit cost per candidate watermark delay (see block
    comment)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from bigdataentrytask_spark.catalog import load_table

    ev = load_table(spark, sf_dir, "events").select("event_id", "ts")
    w = Window.orderBy("event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    lagged = ev.select(
        F.date_trunc("minute", "ts").alias("win"),
        (
            F.unix_micros(F.max("ts").over(w)) - F.unix_micros(F.col("ts"))
        ).alias("lag_us"),
    )
    cands = local_frame(
        spark, _LATENESS_CANDIDATES_US, "delay_label string, delay_us long"
    )
    j = lagged.crossJoin(F.broadcast(cands))
    late_kept = (F.col("lag_us") > 0) & (F.col("lag_us") <= F.col("delay_us"))
    return (
        j.groupBy("delay_label", "delay_us")
        .agg(
            F.sum((F.col("lag_us") > F.col("delay_us")).cast("long"))
            .cast("bigint")
            .alias("n_dropped"),
            F.round(
                F.sum((F.col("lag_us") > F.col("delay_us")).cast("long"))
                * 1000000.0
                / F.count(F.lit(1))
            )
            .cast("bigint")
            .alias("drop_ppm"),
            F.sum(late_kept.cast("long")).cast("bigint").alias("n_late_kept"),
            F.count_distinct(F.when(late_kept, F.col("win")))
            .cast("bigint")
            .alias("n_windows_updated"),
        )
        .select(
            "delay_label",
            F.col("delay_us").cast("bigint").alias("delay_us"),
            "n_dropped",
            "drop_ppm",
            "n_late_kept",
            "n_windows_updated",
        )
        .orderBy("delay_label")
    )


# --------------------------------------------------------------------------
# Trigger x lateness joint cost (ROADMAP round-12, pulled forward):
# the two per-axis advisors (trigger_interval_advisor,
# allowed_lateness_sweep) bound update-mode churn separately; this
# table counts the ACTUAL re-emissions for each (trigger, delay)
# candidate. In update mode a minute window writes once per
# micro-batch in which it receives any surviving row, so with
# batch := the running event-time FRONT (arrival order = event_id,
# the module's deterministic processing-order proxy) truncated to the
# trigger interval:
#   total_emits = COUNT(DISTINCT (batch, window)) over kept rows,
#   re_emits    = total_emits - n_windows  (every window fires once),
#   write_amp   = total_emits / n_windows  (the sink's churn factor).
# Longer triggers batch late rows into fewer re-fires; longer delays
# keep more late rows alive to re-fire at all — the joint table is
# where the two knobs trade off.
# Scale: the front is the same per-shard prefix computation as
# watermark_lag_histogram; one stacked pass over (trigger x delay)
# candidates, two domain-bounded distinct aggregations.
# --------------------------------------------------------------------------
_JOINT_TRIGGERS_S = [60, 300]
_JOINT_DELAYS_US = [("a_0s", 0), ("b_5s", 5_000_000), ("c_30s", 30_000_000)]

_TRIGGER_LATENESS_ORACLE = f"""
    WITH lagged AS (
      SELECT event_id, ts,
             date_trunc('minute', ts) AS win,
             MAX(ts) OVER (ORDER BY event_id
                           ROWS UNBOUNDED PRECEDING) AS front
      FROM events
    ),
    tr(trigger_s) AS (VALUES {", ".join(f"({t})" for t in _JOINT_TRIGGERS_S)}),
    dl(delay_label, delay_us) AS (VALUES
      {", ".join(f"('{lbl}', {us})" for lbl, us in _JOINT_DELAYS_US)}
    ),
    kept AS (
      SELECT tr.trigger_s, dl.delay_label, dl.delay_us,
             CAST(FLOOR(epoch(l.front) / tr.trigger_s) AS BIGINT) AS b,
             l.win
      FROM lagged l CROSS JOIN tr CROSS JOIN dl
      WHERE epoch_us(l.front) - epoch_us(l.ts) <= dl.delay_us
    ),
    emits AS (
      SELECT trigger_s, delay_label, delay_us,
             CAST(COUNT(DISTINCT (b, win)) AS BIGINT) AS total_emits,
             CAST(COUNT(DISTINCT win) AS BIGINT) AS n_windows,
             CAST(COUNT(*) AS BIGINT) AS n_kept
      FROM kept GROUP BY 1, 2, 3
    )
    SELECT CAST(trigger_s AS BIGINT) AS trigger_s,
           delay_label,
           n_kept, n_windows, total_emits,
           total_emits - n_windows AS re_emits,
           CAST(ROUND(total_emits * 1000000.0 / n_windows) AS BIGINT)
             AS write_amp_ppm
    FROM emits
    ORDER BY trigger_s, delay_label
    """


@operator("trigger_lateness_joint_cost", oracle=_TRIGGER_LATENESS_ORACLE)
def trigger_lateness_joint_cost(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Update-mode re-emission count per (trigger, delay) candidate
    (see block comment)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from bigdataentrytask_spark.catalog import load_table

    ev = load_table(spark, sf_dir, "events").select("event_id", "ts")
    w = Window.orderBy("event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    lagged = ev.select(
        "ts",
        F.date_trunc("minute", "ts").alias("win"),
        F.max("ts").over(w).alias("front"),
    )
    tr = local_frame(
        spark, [(t,) for t in _JOINT_TRIGGERS_S], "trigger_s long"
    )
    dl = local_frame(
        spark, _JOINT_DELAYS_US, "delay_label string, delay_us long"
    )
    kept = (
        lagged.crossJoin(F.broadcast(tr))
        .crossJoin(F.broadcast(dl))
        .filter(
            F.unix_micros(F.col("front")) - F.unix_micros(F.col("ts"))
            <= F.col("delay_us")
        )
        .select(
            "trigger_s",
            "delay_label",
            F.floor(
                F.unix_seconds(F.col("front")) / F.col("trigger_s")
            ).alias("b"),
            "win",
        )
    )
    emits = kept.groupBy("trigger_s", "delay_label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_kept"),
        F.count_distinct("win").cast("bigint").alias("n_windows"),
        F.count_distinct("b", "win").cast("bigint").alias("total_emits"),
    )
    return (
        emits.select(
            F.col("trigger_s").cast("bigint").alias("trigger_s"),
            "delay_label",
            "n_kept",
            "n_windows",
            "total_emits",
            (F.col("total_emits") - F.col("n_windows"))
            .cast("bigint")
            .alias("re_emits"),
            F.round(
                F.col("total_emits") * 1000000.0 / F.col("n_windows")
            )
            .cast("bigint")
            .alias("write_amp_ppm"),
        )
        .orderBy("trigger_s", "delay_label")
    )


# --------------------------------------------------------------------------
# Session-gap state cost (ROADMAP round-12, pulled forward): the
# session-window sibling of stream_state_projection. For each gap
# candidate G, per-user sessions form by event-time islands
# (gap > G splits); a session OCCUPIES state-store memory from its
# first event until watermark passes last_event + G — so the
# capacity-planning number is the MAX CONCURRENT open sessions over
# the whole timeline, computed by the classic endpoint sweep:
# +1 at session start, -1 at (end + G), running sum over a DEFINED
# total order (time, starts-before-ends, session id) so boundary
# ties resolve identically in both engines.
# Scale: islands are per-user windows (keyed state, bounded); the
# sweep is a global running sum over 2 x n_sessions DOMAIN rows —
# the audit-scale census form; at 100 TB the same sweep runs
# per-shard and takes the max of shard maxima (a session never spans
# users, so sharding by user is exact).
# --------------------------------------------------------------------------
_SESSION_GAPS_S = [300, 1800]

_SESSION_STATE_ORACLE = f"""
    WITH ev AS (
      SELECT user_id, epoch_us(ts) AS t FROM events
    ),
    gp(gap_s) AS (VALUES {", ".join(f"({g})" for g in _SESSION_GAPS_S)}),
    lagged AS (
      SELECT gp.gap_s, e.user_id, e.t,
             LAG(e.t) OVER (PARTITION BY gp.gap_s, e.user_id
                            ORDER BY e.t) AS prev_t
      FROM ev e CROSS JOIN gp
    ),
    isl AS (
      SELECT gap_s, user_id, t,
             SUM(CASE WHEN prev_t IS NULL
                       OR t - prev_t > gap_s * 1000000
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY gap_s, user_id ORDER BY t) AS sid
      FROM lagged
    ),
    sess AS (
      SELECT gap_s, user_id, sid,
             MIN(t) AS t0, MAX(t) AS t1,
             CAST(COUNT(*) AS BIGINT) AS n_ev
      FROM isl GROUP BY 1, 2, 3
    ),
    pts AS (
      SELECT gap_s, t0 AS t, 1 AS delta, user_id, sid FROM sess
      UNION ALL
      SELECT gap_s, t1 + gap_s * 1000000, -1, user_id, sid FROM sess
    ),
    sweep AS (
      SELECT gap_s,
             SUM(delta) OVER (PARTITION BY gap_s
                              ORDER BY t, delta DESC, user_id, sid
                              ROWS UNBOUNDED PRECEDING) AS open_now
      FROM pts
    )
    SELECT CAST(s.gap_s AS BIGINT) AS gap_s,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM sess
             WHERE sess.gap_s = s.gap_s) AS n_sessions,
           (SELECT CAST(ROUND(AVG(n_ev) * 1000000) AS BIGINT) FROM sess
             WHERE sess.gap_s = s.gap_s) AS mean_events_ppm,
           (SELECT CAST(ROUND(AVG((t1 - t0) / 1000000.0) * 1000000)
                   AS BIGINT) FROM sess
             WHERE sess.gap_s = s.gap_s) AS mean_span_s_ppm,
           CAST(MAX(s.open_now) AS BIGINT) AS max_concurrent_state
    FROM sweep s
    GROUP BY s.gap_s
    ORDER BY gap_s
    """


@operator("session_gap_state_cost", oracle=_SESSION_STATE_ORACLE)
def session_gap_state_cost(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Max-concurrent-session state census per gap candidate (see
    block comment)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from bigdataentrytask_spark.catalog import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.unix_micros("ts").alias("t")
    )
    gp = local_frame(
        spark, [(g,) for g in _SESSION_GAPS_S], "gap_s long"
    )
    j = ev.crossJoin(F.broadcast(gp))
    wl = Window.partitionBy("gap_s", "user_id").orderBy("t")
    isl = j.withColumn("prev_t", F.lag("t").over(wl)).withColumn(
        "sid",
        F.sum(
            F.when(
                F.col("prev_t").isNull()
                | (F.col("t") - F.col("prev_t") > F.col("gap_s") * 1_000_000),
                1,
            ).otherwise(0)
        ).over(wl),
    )
    sess = isl.groupBy("gap_s", "user_id", "sid").agg(
        F.min("t").alias("t0"),
        F.max("t").alias("t1"),
        F.count(F.lit(1)).cast("bigint").alias("n_ev"),
    )
    pts = sess.select(
        "gap_s", F.col("t0").alias("t"), F.lit(1).alias("delta"),
        "user_id", "sid",
    ).unionByName(
        sess.select(
            "gap_s",
            (F.col("t1") + F.col("gap_s") * 1_000_000).alias("t"),
            F.lit(-1).alias("delta"),
            "user_id",
            "sid",
        )
    )
    ws = Window.partitionBy("gap_s").orderBy(
        "t", F.col("delta").desc(), "user_id", "sid"
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sweep = pts.select("gap_s", F.sum("delta").over(ws).alias("open_now"))
    peak = sweep.groupBy("gap_s").agg(
        F.max("open_now").cast("bigint").alias("max_concurrent_state")
    )
    stats = sess.groupBy("gap_s").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
        F.round(F.avg("n_ev") * 1_000_000).cast("bigint").alias(
            "mean_events_ppm"
        ),
        F.round(F.avg((F.col("t1") - F.col("t0")) / 1_000_000.0) * 1_000_000)
        .cast("bigint")
        .alias("mean_span_s_ppm"),
    )
    return (
        stats.join(peak, "gap_s")
        .select(
            F.col("gap_s").cast("bigint").alias("gap_s"),
            "n_sessions",
            "mean_events_ppm",
            "mean_span_s_ppm",
            "max_concurrent_state",
        )
        .orderBy("gap_s")
    )


# --------------------------------------------------------------------------
# Session state at batch boundaries (ROADMAP round-12 "Streaming"):
# session_gap_state_cost's continuous endpoint sweep gives the true
# state peak, but a micro-batch engine only OBSERVES (checkpoints,
# reports, evicts) state at trigger boundaries — so the operational
# number a state-store dashboard shows is the peak SAMPLED at batch
# times. Per (gap, trigger): open sessions counted at every sample
# time s*T over the job's lifetime, with the max and the grid mean.
# Sampled peak <= continuous peak always (pinned in tests via the
# verified session_gap_state_cost row); the gap between them is the
# burst a trigger choice hides.
# Session occupancy [t0, t1 + G) sampled at s*T uses the keyed
# explode-to-covering-samples pattern (stream_state_projection) —
# integer floor/ceil arithmetic on BIGINT microseconds, no theta
# join; the zero-state grid comes back via a left join from a FRESH
# bounds frame (the BroadcastNestedLoopJoin trap note at
# stream_state_projection applies verbatim).
# Scale: islands are per-user keyed windows; sample hits shuffle on
# (gap, trigger, s) — bounded by lifetime/T rows per combo.
# --------------------------------------------------------------------------
_BATCH_PEAK_TRIGGERS_S = [60, 300]

_BATCH_PEAKS_ORACLE = f"""
    WITH ev AS (
      SELECT user_id, epoch_us(ts) AS t FROM events
    ),
    gp(gap_s) AS (VALUES {", ".join(f"({g})" for g in _SESSION_GAPS_S)}),
    tr(trigger_s) AS (VALUES
      {", ".join(f"({t})" for t in _BATCH_PEAK_TRIGGERS_S)}),
    lagged AS (
      SELECT gp.gap_s, e.user_id, e.t,
             LAG(e.t) OVER (PARTITION BY gp.gap_s, e.user_id
                            ORDER BY e.t) AS prev_t
      FROM ev e CROSS JOIN gp
    ),
    isl AS (
      SELECT gap_s, user_id, t,
             SUM(CASE WHEN prev_t IS NULL
                       OR t - prev_t > gap_s * 1000000
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY gap_s, user_id ORDER BY t) AS sid
      FROM lagged
    ),
    sess AS (
      SELECT gap_s, user_id, sid, MIN(t) AS t0, MAX(t) AS t1
      FROM isl GROUP BY 1, 2, 3
    ),
    spans AS (
      SELECT s.gap_s, tr.trigger_s,
             (s.t0 + tr.trigger_s * 1000000 - 1)
               // (tr.trigger_s * 1000000) AS s_lo,
             (s.t1 + s.gap_s * 1000000 - 1)
               // (tr.trigger_s * 1000000) AS s_hi
      FROM sess s CROSS JOIN tr
    ),
    hits AS (
      SELECT gap_s, trigger_s, u.s, CAST(COUNT(*) AS BIGINT) AS state
      FROM spans, LATERAL unnest(range(s_lo, s_hi + 1)) AS u(s)
      GROUP BY 1, 2, 3
    ),
    bounds AS (
      SELECT gap_s, MIN(t0) AS mn_t0, MAX(t1) AS mx_t1
      FROM sess GROUP BY 1
    ),
    grid AS (
      SELECT b.gap_s, tr.trigger_s, u.s
      FROM bounds b CROSS JOIN tr, LATERAL unnest(range(
        (b.mn_t0 + tr.trigger_s * 1000000 - 1)
          // (tr.trigger_s * 1000000),
        (b.mx_t1 + b.gap_s * 1000000 - 1)
          // (tr.trigger_s * 1000000) + 1)) AS u(s)
    ),
    st AS (
      SELECT g.gap_s, g.trigger_s, g.s,
             COALESCE(h.state, 0) AS state
      FROM grid g
      LEFT JOIN hits h ON h.gap_s = g.gap_s
                      AND h.trigger_s = g.trigger_s AND h.s = g.s
    )
    SELECT CAST(gap_s AS BIGINT) AS gap_s,
           CAST(trigger_s AS BIGINT) AS trigger_s,
           CAST(COUNT(*) AS BIGINT) AS n_batches,
           CAST(MAX(state) AS BIGINT) AS max_state_at_batch,
           CAST(ROUND(SUM(state) * 1000000.0 / COUNT(*)) AS BIGINT)
             AS mean_state_ppm
    FROM st
    GROUP BY 1, 2
    ORDER BY gap_s, trigger_s
    """


@operator("session_state_batch_peaks", oracle=_BATCH_PEAKS_ORACLE)
def session_state_batch_peaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-session state sampled at trigger-batch boundaries per
    (gap, trigger) candidate (see block comment)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from bigdataentrytask_spark.catalog import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.unix_micros("ts").alias("t")
    )
    gp = local_frame(
        spark, [(g,) for g in _SESSION_GAPS_S], "gap_s long"
    )
    wl = Window.partitionBy("gap_s", "user_id").orderBy("t")
    isl = (
        ev.crossJoin(F.broadcast(gp))
        .withColumn("prev_t", F.lag("t").over(wl))
        .withColumn(
            "sid",
            F.sum(
                F.when(
                    F.col("prev_t").isNull()
                    | (
                        F.col("t") - F.col("prev_t")
                        > F.col("gap_s") * 1_000_000
                    ),
                    1,
                ).otherwise(0)
            ).over(wl),
        )
    )
    sess = isl.groupBy("gap_s", "user_id", "sid").agg(
        F.min("t").alias("t0"), F.max("t").alias("t1")
    )
    tr = local_frame(
        spark, [(t,) for t in _BATCH_PEAK_TRIGGERS_S], "trigger_s long"
    )
    p_us = F.col("trigger_s") * 1_000_000
    spans = sess.crossJoin(F.broadcast(tr)).select(
        "gap_s",
        "trigger_s",
        F.floor((F.col("t0") + p_us - 1) / p_us).alias("s_lo"),
        F.floor(
            (F.col("t1") + F.col("gap_s") * 1_000_000 - 1) / p_us
        ).alias("s_hi"),
    )
    # guard the explode: a session shorter than the distance to the
    # next sample point has s_hi < s_lo, and Spark's sequence() would
    # DESCEND (the cross_source_duplicate_flow lesson) — emit nothing
    hits = (
        spans.select(
            "gap_s",
            "trigger_s",
            F.explode(
                F.when(
                    F.col("s_hi") >= F.col("s_lo"),
                    F.sequence(F.col("s_lo"), F.col("s_hi")),
                ).otherwise(F.expr("CAST(array() AS array<bigint>)"))
            ).alias("s"),
        )
        .groupBy("gap_s", "trigger_s", "s")
        .agg(F.count(F.lit(1)).cast("bigint").alias("state"))
    )
    bounds = sess.groupBy("gap_s").agg(
        F.min("t0").alias("mn_t0"), F.max("t1").alias("mx_t1")
    )
    # independent trigger frame for the grid side (BNLJ trap note)
    tr_grid = local_frame(
        spark, [(t,) for t in _BATCH_PEAK_TRIGGERS_S], "trigger_s long"
    )
    pg_us = F.col("trigger_s") * 1_000_000
    # same descending-sequence guard as the hits side (ADVICE r11):
    # DuckDB's range() is empty when hi < lo, Spark's sequence()
    # DESCENDS — safe today only because min(gap) >= max(trigger)
    # guarantees a sample point, but a longer trigger candidate must
    # degrade to an empty grid in BOTH engines, not diverge.
    g_lo = F.floor((F.col("mn_t0") + pg_us - 1) / pg_us)
    g_hi = F.floor(
        (F.col("mx_t1") + F.col("gap_s") * 1_000_000 - 1) / pg_us
    )
    grid = bounds.crossJoin(F.broadcast(tr_grid)).select(
        "gap_s",
        "trigger_s",
        F.explode(
            F.when(g_hi >= g_lo, F.sequence(g_lo, g_hi)).otherwise(
                F.expr("CAST(array() AS array<bigint>)")
            )
        ).alias("s"),
    )
    st = grid.join(hits, ["gap_s", "trigger_s", "s"], "left").select(
        "gap_s",
        "trigger_s",
        F.coalesce("state", F.lit(0)).alias("state"),
    )
    return (
        st.groupBy("gap_s", "trigger_s")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_batches"),
            F.max("state").cast("bigint").alias("max_state_at_batch"),
            F.round(F.sum("state") * 1000000.0 / F.count(F.lit(1)))
            .cast("bigint")
            .alias("mean_state_ppm"),
        )
        .select(
            F.col("gap_s").cast("bigint").alias("gap_s"),
            F.col("trigger_s").cast("bigint").alias("trigger_s"),
            "n_batches",
            "max_state_at_batch",
            "mean_state_ppm",
        )
        .orderBy("gap_s", "trigger_s")
    )


# --------------------------------------------------------------------------
# Watermark-vs-state joint projection (ROADMAP round-12 "Streaming"):
# allowed_lateness_sweep prices a delay D in dropped/re-emitted ROWS;
# this prices it in STATE BYTES — the dimension that actually sizes
# executors. Under watermark delay D a minute window's aggregation
# state is created at its first KEPT arrival (front <= ts + D
# guarantees creation strictly before expiry) and evicted when the
# watermark (front - D) passes the window end, i.e. at front
# = win_end + D. Max simultaneously-open windows over the arrival
# timeline comes from the endpoint sweep (+1 at the window's first
# kept arrival front, -1 at win_end + D), in FRONT coordinates —
# arrival order is event_id (the module's deterministic processing-
# order proxy, see watermark_lag_histogram). peak_state_bytes uses
# the _WIN_STATE_BYTES projection constant (window key + count/sum
# aggregation record) — a projection, not a measurement.
# Scale: one running-max prefix (per-shard at 100 TB, as
# watermark_lag_histogram documents), one (delay, win) keyed agg, and
# a domain-sized sweep over 2 x n_windows endpoint rows per delay.
# --------------------------------------------------------------------------
_WIN_STATE_BYTES = 40  # 8 B window-start key + 32 B agg record

_WM_STATE_ORACLE = f"""
    WITH lagged AS (
      SELECT epoch_us(date_trunc('minute', ts)) AS win_us,
             epoch_us(ts) AS t_us,
             epoch_us(MAX(ts) OVER (ORDER BY event_id
                                    ROWS UNBOUNDED PRECEDING)) AS front_us
      FROM events
    ),
    cands(delay_label, delay_us) AS (VALUES
      {", ".join(f"('{lbl}', {us})" for lbl, us in _LATENESS_CANDIDATES_US)}
    ),
    wins AS (
      SELECT c.delay_label, c.delay_us, l.win_us,
             MIN(l.front_us) AS open_t,
             MIN(l.win_us) + 60000000 + c.delay_us AS close_t
      FROM lagged l CROSS JOIN cands c
      WHERE l.front_us - l.t_us <= c.delay_us
      GROUP BY 1, 2, 3
    ),
    pts AS (
      SELECT delay_label, open_t AS t, 1 AS delta, win_us FROM wins
      UNION ALL
      SELECT delay_label, close_t, -1, win_us FROM wins
    ),
    sweep AS (
      SELECT delay_label,
             SUM(delta) OVER (PARTITION BY delay_label
                              ORDER BY t, delta DESC, win_us
                              ROWS UNBOUNDED PRECEDING) AS open_now
      FROM pts
    )
    SELECT w.delay_label,
           CAST(MAX(w.delay_us) AS BIGINT) AS delay_us,
           CAST(COUNT(*) AS BIGINT) AS n_windows_open,
           (SELECT CAST(MAX(open_now) AS BIGINT) FROM sweep s
             WHERE s.delay_label = w.delay_label) AS max_open_windows,
           CAST(ROUND(SUM(w.close_t - w.open_t) * 1.0 / COUNT(*))
                AS BIGINT) AS mean_open_span_s_ppm,
           (SELECT CAST(MAX(open_now) * {_WIN_STATE_BYTES} AS BIGINT)
              FROM sweep s WHERE s.delay_label = w.delay_label)
             AS peak_state_bytes
    FROM wins w
    GROUP BY w.delay_label
    ORDER BY w.delay_label
    """


@operator("watermark_state_bytes_joint", oracle=_WM_STATE_ORACLE)
def watermark_state_bytes_joint(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Projected peak windowed-aggregation state per watermark-delay
    candidate (see block comment: endpoint sweep over window
    open/evict times in front coordinates)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from bigdataentrytask_spark.catalog import load_table

    ev = load_table(spark, sf_dir, "events").select("event_id", "ts")
    w = Window.orderBy("event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    lagged = ev.select(
        F.unix_micros(F.date_trunc("minute", "ts")).alias("win_us"),
        F.unix_micros("ts").alias("t_us"),
        F.unix_micros(F.max("ts").over(w)).alias("front_us"),
    )
    dl = local_frame(
        spark, _LATENESS_CANDIDATES_US, "delay_label string, delay_us long"
    )
    wins = (
        lagged.crossJoin(F.broadcast(dl))
        .filter(F.col("front_us") - F.col("t_us") <= F.col("delay_us"))
        .groupBy("delay_label", "delay_us", "win_us")
        .agg(F.min("front_us").alias("open_t"))
        .select(
            "delay_label",
            "delay_us",
            "win_us",
            "open_t",
            (F.col("win_us") + 60_000_000 + F.col("delay_us")).alias(
                "close_t"
            ),
        )
    )
    pts = wins.select(
        "delay_label", F.col("open_t").alias("t"),
        F.lit(1).alias("delta"), "win_us",
    ).unionByName(
        wins.select(
            "delay_label", F.col("close_t").alias("t"),
            F.lit(-1).alias("delta"), "win_us",
        )
    )
    ws = Window.partitionBy("delay_label").orderBy(
        "t", F.col("delta").desc(), "win_us"
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    peak = (
        pts.select(
            "delay_label", F.sum("delta").over(ws).alias("open_now")
        )
        .groupBy("delay_label")
        .agg(F.max("open_now").cast("bigint").alias("max_open_windows"))
    )
    stats = wins.groupBy("delay_label").agg(
        F.max("delay_us").cast("bigint").alias("delay_us"),
        F.count(F.lit(1)).cast("bigint").alias("n_windows_open"),
        # exact-integer accumulation (ADVICE r11): sum the integral
        # microsecond spans first, divide once — per-row division
        # makes non-representable doubles whose sum is accumulation-
        # order-dependent (Spark partial aggs vs DuckDB sequential);
        # span_us IS span_s expressed in ppm, so no unit factor.
        F.round(
            F.sum(F.col("close_t") - F.col("open_t"))
            * 1.0
            / F.count(F.lit(1))
        )
        .cast("bigint")
        .alias("mean_open_span_s_ppm"),
    )
    return (
        stats.join(peak, "delay_label")
        .select(
            "delay_label",
            "delay_us",
            "n_windows_open",
            "max_open_windows",
            "mean_open_span_s_ppm",
            (F.col("max_open_windows") * _WIN_STATE_BYTES)
            .cast("bigint")
            .alias("peak_state_bytes"),
        )
        .orderBy("delay_label")
    )


# --------------------------------------------------------------------------
# Stateful-dedup TTL state projection (ROADMAP round-13 "Streaming"):
# the dedup sibling of the state-sizing family. An exactly-once
# streaming dedup keeps one state row per key and answers "seen
# already?"; the knob is the key-retention TTL, and the trade it
# prices is state bytes vs duplicates leaked. This table sweeps TTL
# candidates under SLIDING-TTL semantics (every hit refreshes
# retention — the cache-style policy; a run of occurrences each
# within TTL of the last is ONE admission): per TTL, keys, events,
# admissions (state inserts), duplicates caught, re-admissions of a
# previously-evicted key, peak simultaneously-retained keys from the
# endpoint sweep over [first_hit, last_hit + TTL) retention
# intervals, and the projected peak state bytes. Sliding-TTL islands
# are the per-key gap sessionization (gap > TTL starts a new
# admission) in event time, so both engines share the closed form;
# the fixed-TTL (no-refresh) variant is a jump recurrence with no
# single-pass form and is documented as the kernel-based follow-up.
# Dedup key = (user_id, event_type): the at-least-once redelivery
# unit this corpus actually repeats.
# Pinned frontier, both directions monotone in TTL: admissions and
# re-admissions fall (longer memory catches more repeats), peak
# retained keys and caught-duplicate share rise.
# Exact math: integer microseconds throughout; the only doubles are
# the two final ppm roundings of exact integer ratios.
# Scale: per-key lag/island windows are keyed (bounded state); the
# endpoint sweep is the module's documented global-prefix audit form
# (per-shard at 100 TB, as watermark_lag_histogram records);
# everything else is a |TTL|-keyed domain rollup.
# --------------------------------------------------------------------------
_DEDUP_TTL_CANDS_S = [300, 1800, 7200]
_DEDUP_KEY_BYTES = 48  # 8 B user + ~24 B type + 8 B ts + row overhead

_DEDUP_TTL_ORACLE = f"""
    WITH ev AS (
      SELECT user_id, event_type, event_id, epoch_us(ts) AS t
      FROM events
    ),
    ttl(ttl_s) AS (VALUES
      {", ".join(f"({s})" for s in _DEDUP_TTL_CANDS_S)}),
    lagged AS (
      SELECT ttl.ttl_s, e.user_id, e.event_type, e.t, e.event_id,
             LAG(e.t) OVER (PARTITION BY ttl.ttl_s, e.user_id,
                                         e.event_type
                            ORDER BY e.t, e.event_id) AS prev_t
      FROM ev e CROSS JOIN ttl
    ),
    isl AS (
      SELECT ttl_s, user_id, event_type, t,
             SUM(CASE WHEN prev_t IS NULL
                       OR t - prev_t > CAST(ttl_s AS BIGINT) * 1000000
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY ttl_s, user_id, event_type
                     ORDER BY t, event_id) AS aid
      FROM lagged
    ),
    adm AS (
      SELECT ttl_s, user_id, event_type, aid,
             MIN(t) AS t0, MAX(t) AS t1,
             CAST(COUNT(*) AS BIGINT) AS n_hits
      FROM isl GROUP BY 1, 2, 3, 4
    ),
    pts AS (
      SELECT ttl_s, t0 AS t, 1 AS delta FROM adm
      UNION ALL
      SELECT ttl_s, t1 + CAST(ttl_s AS BIGINT) * 1000000, -1 FROM adm
    ),
    sweep AS (
      SELECT ttl_s,
             SUM(delta) OVER (PARTITION BY ttl_s
                              ORDER BY t, delta
                              ROWS UNBOUNDED PRECEDING) AS open_now
      FROM pts
    ),
    keys AS (
      SELECT ttl_s, CAST(COUNT(*) AS BIGINT) AS n_keys,
             CAST(SUM(n_adm) AS BIGINT) AS n_admitted,
             CAST(SUM(n_ev) AS BIGINT) AS n_events
      FROM (
        SELECT ttl_s, user_id, event_type,
               CAST(COUNT(DISTINCT aid) AS BIGINT) AS n_adm,
               CAST(COUNT(*) AS BIGINT) AS n_ev
        FROM isl GROUP BY 1, 2, 3
      ) GROUP BY ttl_s
    )
    SELECT CAST(k.ttl_s AS BIGINT) AS ttl_s,
           k.n_keys, k.n_events, k.n_admitted,
           k.n_events - k.n_admitted AS dups_caught,
           k.n_admitted - k.n_keys AS readmissions,
           CAST(ROUND((k.n_events - k.n_admitted) * 1000000.0
                      / k.n_events) AS BIGINT) AS caught_ppm,
           (SELECT CAST(MAX(open_now) AS BIGINT) FROM sweep s
             WHERE s.ttl_s = k.ttl_s) AS peak_state_keys,
           (SELECT CAST(MAX(open_now) * {_DEDUP_KEY_BYTES} AS BIGINT)
              FROM sweep s WHERE s.ttl_s = k.ttl_s)
             AS peak_state_bytes
    FROM keys k
    ORDER BY ttl_s
    """


@operator("dedup_ttl_state_projection", oracle=_DEDUP_TTL_ORACLE)
def dedup_ttl_state_projection(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Sliding-TTL streaming-dedup state/leakage frontier per TTL
    candidate (see block comment: per-key gap islands in event time,
    endpoint sweep over retention intervals)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from bigdataentrytask_spark.catalog import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id",
        F.unix_micros("ts").alias("t"),
    )
    ttl = local_frame(
        spark, [(s,) for s in _DEDUP_TTL_CANDS_S], "ttl_s long"
    )
    wl = Window.partitionBy("ttl_s", "user_id", "event_type").orderBy(
        "t", "event_id"
    )
    lagged = ev.crossJoin(F.broadcast(ttl)).withColumn(
        "prev_t", F.lag("t").over(wl)
    )
    # island-sum tiebreak on event_id, NOT prev_t: prev_t is NULL on
    # first rows and the engines disagree on NULL sort position
    wi = Window.partitionBy("ttl_s", "user_id", "event_type").orderBy(
        "t", "event_id"
    )
    isl = lagged.withColumn(
        "aid",
        F.sum(
            F.when(
                F.col("prev_t").isNull()
                | (F.col("t") - F.col("prev_t") > F.col("ttl_s") * 1_000_000),
                1,
            ).otherwise(0)
        ).over(wi),
    )
    adm = isl.groupBy("ttl_s", "user_id", "event_type", "aid").agg(
        F.min("t").alias("t0"), F.max("t").alias("t1")
    )
    pts = adm.select(
        "ttl_s", F.col("t0").alias("t"), F.lit(1).alias("delta")
    ).unionByName(
        adm.select(
            "ttl_s",
            (F.col("t1") + F.col("ttl_s") * 1_000_000).alias("t"),
            F.lit(-1).alias("delta"),
        )
    )
    ws = Window.partitionBy("ttl_s").orderBy("t", "delta").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    peak = (
        pts.select("ttl_s", F.sum("delta").over(ws).alias("open_now"))
        .groupBy("ttl_s")
        .agg(F.max("open_now").cast("bigint").alias("peak_state_keys"))
    )
    per_key = isl.groupBy("ttl_s", "user_id", "event_type").agg(
        F.count_distinct("aid").alias("n_adm"),
        F.count(F.lit(1)).alias("n_ev"),
    )
    keys = per_key.groupBy("ttl_s").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
        F.sum("n_adm").cast("bigint").alias("n_admitted"),
        F.sum("n_ev").cast("bigint").alias("n_events"),
    )
    return (
        keys.join(peak, "ttl_s")
        .select(
            F.col("ttl_s").cast("bigint").alias("ttl_s"),
            "n_keys",
            "n_events",
            "n_admitted",
            (F.col("n_events") - F.col("n_admitted")).alias("dups_caught"),
            (F.col("n_admitted") - F.col("n_keys")).alias("readmissions"),
            F.round(
                (F.col("n_events") - F.col("n_admitted"))
                * 1000000.0
                / F.col("n_events")
            )
            .cast("bigint")
            .alias("caught_ppm"),
            "peak_state_keys",
            (F.col("peak_state_keys") * _DEDUP_KEY_BYTES)
            .cast("bigint")
            .alias("peak_state_bytes"),
        )
        .orderBy("ttl_s")
    )


# --------------------------------------------------------------------------
# Trigger x gap x delay three-way state joint (ROADMAP round-13
# "Streaming"): session_state_batch_peaks sizes the SESSION store per
# (gap, trigger); watermark_state_bytes_joint sizes the WINDOW-AGG
# store per delay. A real job runs both operators in one topology
# against one state backend, and the executor must be sized for the
# JOINT peak — which is <= the sum of the marginal peaks exactly when
# the two stores peak at different times. This table samples BOTH
# stores on one shared trigger grid per (gap_s, trigger_s,
# delay_label): session intervals are the per-user gap islands
# [t0, t1 + gap) (the batch-peaks convention), window intervals are
# the watermark op's [first_kept_front, win_end + delay) rows, and
# every batch point carries sess_rows * 56 B + win_rows * 40 B. Reported: marginal sampled peaks for both stores, the joint
# peak bytes, and the co-scheduling slack (sum-of-marginals minus
# joint — the bytes a sum-sized executor over-provisions).
# Cross-pins: peak_session_rows equals session_state_batch_peaks'
# max_state_at_batch on the shared (gap, trigger) grid (same phase,
# superset span, zeros beyond); peak_window_rows is bounded above by
# watermark_state_bytes_joint's continuous max_open_windows.
# Scale: three keyed windows (per-user lag, arrival running max),
# two bounded interval explodes onto the trigger grid, one
# (gap, trigger, delay, s)-keyed rollup. Grid rows are span/trigger
# per combo — domain-sized, not data-sized.
# --------------------------------------------------------------------------
_SESS_STATE_BYTES = 56  # 8 B user key + 16 B session window + 32 B agg

_THREEWAY_ORACLE = f"""
    WITH ev AS (
      SELECT user_id, event_id, epoch_us(ts) AS t FROM events
    ),
    gp(gap_s) AS (VALUES {", ".join(f"({g})" for g in _SESSION_GAPS_S)}),
    tr(trigger_s) AS (VALUES
      {", ".join(f"({t})" for t in _BATCH_PEAK_TRIGGERS_S)}),
    cands(delay_label, delay_us) AS (VALUES
      {", ".join(f"('{lbl}', {us})" for lbl, us in _LATENESS_CANDIDATES_US)}
    ),
    lagged AS (
      SELECT gp.gap_s, e.user_id, e.t,
             LAG(e.t) OVER (PARTITION BY gp.gap_s, e.user_id
                            ORDER BY e.t, e.event_id) AS prev_t
      FROM ev e CROSS JOIN gp
    ),
    isl AS (
      SELECT gap_s, user_id, t,
             SUM(CASE WHEN prev_t IS NULL
                       OR t - prev_t > gap_s * 1000000
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY gap_s, user_id ORDER BY t) AS sid
      FROM lagged
    ),
    sess AS (
      SELECT gap_s, user_id, sid, MIN(t) AS t0, MAX(t) AS t1
      FROM isl GROUP BY 1, 2, 3
    ),
    fr AS (
      SELECT epoch_us(date_trunc('minute', ts)) AS win_us,
             epoch_us(ts) AS t_us,
             epoch_us(MAX(ts) OVER (ORDER BY event_id
                                    ROWS UNBOUNDED PRECEDING)) AS front_us
      FROM events
    ),
    wins AS (
      SELECT c.delay_label, c.delay_us, l.win_us,
             MIN(l.front_us) AS open_t,
             MIN(l.win_us) + 60000000 + c.delay_us AS close_t
      FROM fr l CROSS JOIN cands c
      WHERE l.front_us - l.t_us <= c.delay_us
      GROUP BY 1, 2, 3
    ),
    shits AS (
      SELECT s.gap_s, tr.trigger_s, u.s,
             CAST(COUNT(*) AS BIGINT) AS sess_rows
      FROM sess s CROSS JOIN tr, LATERAL unnest(range(
        (s.t0 + tr.trigger_s * 1000000 - 1)
          // (tr.trigger_s * 1000000),
        (s.t1 + s.gap_s * 1000000 - 1)
          // (tr.trigger_s * 1000000) + 1)) AS u(s)
      GROUP BY 1, 2, 3
    ),
    whits AS (
      SELECT w.delay_label, tr.trigger_s, u.s,
             CAST(COUNT(*) AS BIGINT) AS win_rows
      FROM wins w CROSS JOIN tr, LATERAL unnest(range(
        (w.open_t + tr.trigger_s * 1000000 - 1)
          // (tr.trigger_s * 1000000),
        (w.close_t - 1) // (tr.trigger_s * 1000000) + 1)) AS u(s)
      GROUP BY 1, 2, 3
    ),
    sb AS (
      SELECT gap_s, MIN(t0) AS mn_s, MAX(t1 + gap_s * 1000000 - 1) AS mx_s
      FROM sess GROUP BY 1
    ),
    wb AS (
      SELECT delay_label, MIN(open_t) AS mn_w, MAX(close_t - 1) AS mx_w
      FROM wins GROUP BY 1
    ),
    grid AS (
      SELECT sb.gap_s, tr.trigger_s, wb.delay_label, u.s
      FROM sb CROSS JOIN wb CROSS JOIN tr,
      LATERAL unnest(range(
        (LEAST(sb.mn_s, wb.mn_w) + tr.trigger_s * 1000000 - 1)
          // (tr.trigger_s * 1000000),
        GREATEST(sb.mx_s, wb.mx_w) // (tr.trigger_s * 1000000) + 1))
        AS u(s)
    ),
    joint AS (
      SELECT g.gap_s, g.trigger_s, g.delay_label,
             COALESCE(sh.sess_rows, 0) AS sess_rows,
             COALESCE(wh.win_rows, 0) AS win_rows
      FROM grid g
      LEFT JOIN shits sh ON sh.gap_s = g.gap_s
                        AND sh.trigger_s = g.trigger_s AND sh.s = g.s
      LEFT JOIN whits wh ON wh.delay_label = g.delay_label
                        AND wh.trigger_s = g.trigger_s AND wh.s = g.s
    )
    SELECT CAST(gap_s AS BIGINT) AS gap_s,
           CAST(trigger_s AS BIGINT) AS trigger_s,
           delay_label,
           CAST(COUNT(*) AS BIGINT) AS n_batches,
           CAST(MAX(sess_rows) AS BIGINT) AS peak_session_rows,
           CAST(MAX(win_rows) AS BIGINT) AS peak_window_rows,
           CAST(MAX(sess_rows * {_SESS_STATE_BYTES}
                    + win_rows * {_WIN_STATE_BYTES}) AS BIGINT)
             AS peak_total_bytes,
           CAST(MAX(sess_rows) * {_SESS_STATE_BYTES}
                + MAX(win_rows) * {_WIN_STATE_BYTES}
                - MAX(sess_rows * {_SESS_STATE_BYTES}
                      + win_rows * {_WIN_STATE_BYTES}) AS BIGINT)
             AS slack_bytes
    FROM joint
    GROUP BY 1, 2, 3
    ORDER BY gap_s, trigger_s, delay_label
    """


@operator("state_sizing_threeway", oracle=_THREEWAY_ORACLE)
def state_sizing_threeway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Joint session-store + window-store state sampled on one
    trigger grid per (gap, trigger, delay): marginal sampled peaks,
    the joint peak bytes, and the co-scheduling slack (see block
    comment)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from bigdataentrytask_spark.catalog import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_micros("ts").alias("t")
    )
    gp = local_frame(
        spark, [(g,) for g in _SESSION_GAPS_S], "gap_s long"
    )
    tr = local_frame(
        spark, [(t,) for t in _BATCH_PEAK_TRIGGERS_S], "trigger_s long"
    )
    dl = local_frame(
        spark, _LATENESS_CANDIDATES_US, "delay_label string, delay_us long"
    )
    wl = Window.partitionBy("gap_s", "user_id").orderBy("t", "event_id")
    wi = Window.partitionBy("gap_s", "user_id").orderBy("t")
    isl = (
        ev.crossJoin(F.broadcast(gp))
        .withColumn("prev_t", F.lag("t").over(wl))
        .withColumn(
            "sid",
            F.sum(
                F.when(
                    F.col("prev_t").isNull()
                    | (
                        F.col("t") - F.col("prev_t")
                        > F.col("gap_s") * 1_000_000
                    ),
                    1,
                ).otherwise(0)
            ).over(wi),
        )
    )
    sess = isl.groupBy("gap_s", "user_id", "sid").agg(
        F.min("t").alias("t0"), F.max("t").alias("t1")
    )
    evm = load_table(spark, sf_dir, "events").select("event_id", "ts")
    wf = Window.orderBy("event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    fr = evm.select(
        F.unix_micros(F.date_trunc("minute", "ts")).alias("win_us"),
        F.unix_micros("ts").alias("t_us"),
        F.unix_micros(F.max("ts").over(wf)).alias("front_us"),
    )
    wins = (
        fr.crossJoin(F.broadcast(dl))
        .filter(F.col("front_us") - F.col("t_us") <= F.col("delay_us"))
        .groupBy("delay_label", "delay_us", "win_us")
        .agg(F.min("front_us").alias("open_t"))
        .select(
            "delay_label",
            "open_t",
            (F.col("win_us") + 60_000_000 + F.col("delay_us")).alias(
                "close_t"
            ),
        )
    )
    p_us = F.col("trigger_s") * 1_000_000
    s_lo = F.floor((F.col("t0") + p_us - 1) / p_us)
    s_hi = F.floor((F.col("t1") + F.col("gap_s") * 1_000_000 - 1) / p_us)
    shits = (
        sess.crossJoin(F.broadcast(tr))
        .select(
            "gap_s",
            "trigger_s",
            F.explode(
                F.when(s_hi >= s_lo, F.sequence(s_lo, s_hi)).otherwise(
                    F.expr("CAST(array() AS array<bigint>)")
                )
            ).alias("s"),
        )
        .groupBy("gap_s", "trigger_s", "s")
        .agg(F.count(F.lit(1)).cast("bigint").alias("sess_rows"))
    )
    w_lo = F.floor((F.col("open_t") + p_us - 1) / p_us)
    w_hi = F.floor((F.col("close_t") - 1) / p_us)
    whits = (
        wins.crossJoin(F.broadcast(tr))
        .select(
            "delay_label",
            "trigger_s",
            F.explode(
                F.when(w_hi >= w_lo, F.sequence(w_lo, w_hi)).otherwise(
                    F.expr("CAST(array() AS array<bigint>)")
                )
            ).alias("s"),
        )
        .groupBy("delay_label", "trigger_s", "s")
        .agg(F.count(F.lit(1)).cast("bigint").alias("win_rows"))
    )
    sb = sess.groupBy("gap_s").agg(
        F.min("t0").alias("mn_s"),
        F.max(F.col("t1") + F.col("gap_s") * 1_000_000 - 1).alias("mx_s"),
    )
    wb = wins.groupBy("delay_label").agg(
        F.min("open_t").alias("mn_w"),
        F.max(F.col("close_t") - 1).alias("mx_w"),
    )
    tr_grid = local_frame(
        spark, [(t,) for t in _BATCH_PEAK_TRIGGERS_S], "trigger_s long"
    )
    pg_us = F.col("trigger_s") * 1_000_000
    g_lo = F.floor(
        (F.least("mn_s", "mn_w") + pg_us - 1) / pg_us
    )
    g_hi = F.floor(F.greatest("mx_s", "mx_w") / pg_us)
    grid = (
        sb.crossJoin(wb)
        .crossJoin(F.broadcast(tr_grid))
        .select(
            "gap_s",
            "trigger_s",
            "delay_label",
            F.explode(
                F.when(g_hi >= g_lo, F.sequence(g_lo, g_hi)).otherwise(
                    F.expr("CAST(array() AS array<bigint>)")
                )
            ).alias("s"),
        )
    )
    joint = (
        grid.join(shits, ["gap_s", "trigger_s", "s"], "left")
        .join(whits, ["delay_label", "trigger_s", "s"], "left")
        .select(
            "gap_s",
            "trigger_s",
            "delay_label",
            F.coalesce("sess_rows", F.lit(0)).alias("sess_rows"),
            F.coalesce("win_rows", F.lit(0)).alias("win_rows"),
        )
    )
    total = (
        F.col("sess_rows") * _SESS_STATE_BYTES
        + F.col("win_rows") * _WIN_STATE_BYTES
    )
    return (
        joint.groupBy("gap_s", "trigger_s", "delay_label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_batches"),
            F.max("sess_rows").cast("bigint").alias("peak_session_rows"),
            F.max("win_rows").cast("bigint").alias("peak_window_rows"),
            F.max(total).cast("bigint").alias("peak_total_bytes"),
            (
                F.max("sess_rows") * _SESS_STATE_BYTES
                + F.max("win_rows") * _WIN_STATE_BYTES
                - F.max(total)
            )
            .cast("bigint")
            .alias("slack_bytes"),
        )
        .select(
            F.col("gap_s").cast("bigint").alias("gap_s"),
            F.col("trigger_s").cast("bigint").alias("trigger_s"),
            "delay_label",
            "n_batches",
            "peak_session_rows",
            "peak_window_rows",
            "peak_total_bytes",
            "slack_bytes",
        )
        .orderBy("gap_s", "trigger_s", "delay_label")
    )


# --------------------------------------------------------------------------
# Fixed-TTL dedup twin (the follow-up dedup_ttl_state_projection's
# block comment documents): Spark's dropDuplicates-with-watermark
# keeps a key's state row anchored at its FIRST kept arrival and
# evicts at first_seen + TTL regardless of later hits — a jump
# recurrence (each admission is the first occurrence beyond the
# previous admission's horizon) with no single-pass closed form, so
# this is a sanctioned Arrow-kernel op: an applyInPandas walk per
# (user_id, event_type) key emits the admitted arrivals, and the
# distributed endpoint sweep over their fixed [admit, admit + TTL)
# retention intervals prices the state exactly as the sliding twin
# does. Oracle side mirrors the walk with a recursive CTE (max
# occurrences per key at audit scale: 24).
# Pinned against the sliding twin per TTL: fixed admits AT LEAST as
# many (no refresh means earlier horizons), so it catches fewer
# duplicates — the policy delta a dedup owner prices TTL against.
# Scale: the kernel is O(occurrences-per-key) integer state over
# keyed groups (exactly the streaming state machine, replayed); the
# sweep and rollups are the module's standard audit forms.
# --------------------------------------------------------------------------
_DEDUP_FIXED_ORACLE = f"""
    WITH RECURSIVE ev AS (
      SELECT user_id, event_type, event_id, epoch_us(ts) AS t
      FROM events
    ),
    ttl(ttl_s) AS (VALUES
      {", ".join(f"({s})" for s in _DEDUP_TTL_CANDS_S)}),
    occ AS (
      SELECT ttl.ttl_s, e.user_id, e.event_type, e.t,
             ROW_NUMBER() OVER (PARTITION BY ttl.ttl_s, e.user_id,
                                             e.event_type
                                ORDER BY e.t, e.event_id) AS rn
      FROM ev e CROSS JOIN ttl
    ),
    walk AS (
      SELECT ttl_s, user_id, event_type, rn, t AS cur_admit,
             TRUE AS admitted
      FROM occ WHERE rn = 1
      UNION ALL
      SELECT o.ttl_s, o.user_id, o.event_type, o.rn,
             CASE WHEN o.t - w.cur_admit
                       > CAST(o.ttl_s AS BIGINT) * 1000000
                  THEN o.t ELSE w.cur_admit END,
             o.t - w.cur_admit > CAST(o.ttl_s AS BIGINT) * 1000000
      FROM walk w
      JOIN occ o ON o.ttl_s = w.ttl_s AND o.user_id = w.user_id
                AND o.event_type = w.event_type AND o.rn = w.rn + 1
    ),
    adm AS (
      SELECT ttl_s, user_id, event_type, cur_admit AS t0
      FROM walk WHERE admitted
    ),
    pts AS (
      SELECT ttl_s, t0 AS t, 1 AS delta FROM adm
      UNION ALL
      SELECT ttl_s, t0 + CAST(ttl_s AS BIGINT) * 1000000, -1 FROM adm
    ),
    sweep AS (
      SELECT ttl_s,
             SUM(delta) OVER (PARTITION BY ttl_s
                              ORDER BY t, delta
                              ROWS UNBOUNDED PRECEDING) AS open_now
      FROM pts
    ),
    keys AS (
      SELECT ttl_s,
             CAST(COUNT(DISTINCT (user_id, event_type)) AS BIGINT)
               AS n_keys,
             CAST(COUNT(*) AS BIGINT) AS n_admitted
      FROM adm GROUP BY ttl_s
    ),
    nev AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_events FROM ev)
    SELECT CAST(k.ttl_s AS BIGINT) AS ttl_s,
           k.n_keys, nev.n_events, k.n_admitted,
           nev.n_events - k.n_admitted AS dups_caught,
           k.n_admitted - k.n_keys AS readmissions,
           CAST(ROUND((nev.n_events - k.n_admitted) * 1000000.0
                      / nev.n_events) AS BIGINT) AS caught_ppm,
           (SELECT CAST(MAX(open_now) AS BIGINT) FROM sweep s
             WHERE s.ttl_s = k.ttl_s) AS peak_state_keys,
           (SELECT CAST(MAX(open_now) * {_DEDUP_KEY_BYTES} AS BIGINT)
              FROM sweep s WHERE s.ttl_s = k.ttl_s)
             AS peak_state_bytes
    FROM keys k CROSS JOIN nev
    ORDER BY ttl_s
    """


def _fixed_ttl_kernel(ttls_s: list[int]):
    import pandas as pd

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        # one Arrow batch per USER, each event_type's run walked
        # inside (a (user, type)-grained grouping costs a kernel
        # invocation per tiny group — ~750 calls for ~200 users)
        pdf = pdf.sort_values(["event_type", "t", "event_id"])
        uid = pdf["user_id"].iloc[0]
        rows = []
        for etype, grp in pdf.groupby("event_type", sort=False):
            ts = [int(x) for x in grp["t"]]
            for ttl_s in ttls_s:
                ttl_us = ttl_s * 1_000_000
                admit_t = None
                for t in ts:
                    if admit_t is None or t - admit_t > ttl_us:
                        admit_t = t
                        rows.append((ttl_s, uid, etype, t))
        return pd.DataFrame(
            rows, columns=["ttl_s", "user_id", "event_type", "t0"]
        )

    return kernel


@operator("dedup_ttl_fixed_twin", oracle=_DEDUP_FIXED_ORACLE)
def dedup_ttl_fixed_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-TTL (first-seen-anchored, no refresh) streaming-dedup
    state/leakage frontier per TTL candidate (see block comment:
    Arrow-kernel jump walk per key, distributed endpoint sweep)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from bigdataentrytask_spark.catalog import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id",
        F.unix_micros("ts").alias("t"),
    )
    adm = ev.groupBy("user_id").applyInPandas(
        _fixed_ttl_kernel(_DEDUP_TTL_CANDS_S),
        schema="ttl_s long, user_id long, event_type string, t0 long",
    )
    pts = adm.select(
        "ttl_s", F.col("t0").alias("t"), F.lit(1).alias("delta")
    ).unionByName(
        adm.select(
            "ttl_s",
            (F.col("t0") + F.col("ttl_s") * 1_000_000).alias("t"),
            F.lit(-1).alias("delta"),
        )
    )
    ws = Window.partitionBy("ttl_s").orderBy("t", "delta").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    peak = (
        pts.select("ttl_s", F.sum("delta").over(ws).alias("open_now"))
        .groupBy("ttl_s")
        .agg(F.max("open_now").cast("bigint").alias("peak_state_keys"))
    )
    keys = adm.groupBy("ttl_s").agg(
        F.count_distinct("user_id", "event_type")
        .cast("bigint")
        .alias("n_keys"),
        F.count(F.lit(1)).cast("bigint").alias("n_admitted"),
    )
    nev = ev.agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
    return (
        keys.crossJoin(F.broadcast(nev))
        .join(peak, "ttl_s")
        .select(
            F.col("ttl_s").cast("bigint").alias("ttl_s"),
            "n_keys",
            "n_events",
            "n_admitted",
            (F.col("n_events") - F.col("n_admitted")).alias("dups_caught"),
            (F.col("n_admitted") - F.col("n_keys")).alias("readmissions"),
            F.round(
                (F.col("n_events") - F.col("n_admitted"))
                * 1000000.0
                / F.col("n_events")
            )
            .cast("bigint")
            .alias("caught_ppm"),
            "peak_state_keys",
            (F.col("peak_state_keys") * _DEDUP_KEY_BYTES)
            .cast("bigint")
            .alias("peak_state_bytes"),
        )
        .orderBy("ttl_s")
    )


# --------------------------------------------------------------------------
# Sliding-vs-fixed TTL joint state bytes (ROADMAP round-14
# "Streaming"): the two dedup-TTL twins price their stores with
# CONTINUOUS endpoint sweeps, each on its own retention intervals —
# numbers a capacity planner cannot subtract, because the peaks land
# at different instants. This table puts BOTH policies on ONE sampled
# trigger grid per (ttl_s, trigger_s) — state_sizing_threeway's
# pattern applied to the dedup store — so the policy comparison is
# pointwise: sliding retention intervals are the gap islands
# [t0, t1 + ttl) (dedup_ttl_state_projection's convention), fixed
# intervals are the kernel walk's anchored [t0, t0 + ttl), and every
# batch point carries rows * 48 B for each store. Reported per
# (ttl, trigger): sampled peaks and bytes for both policies, the
# signed peak-bytes delta (fixed - sliding; the bill for losing
# refresh semantics), and the max POINTWISE gap in rows both ways —
# fixed_over_sliding can exceed the peak delta (fixed admits more,
# earlier anchors) while sliding_over_fixed > 0 proves the stores
# also cross (a sliding island's refreshed tail outlives the fixed
# anchor's horizon), which is exactly why marginal peaks don't
# subtract.
# Cross-pins: per ttl, max over triggers of peak_sliding_rows <=
# dedup_ttl_state_projection.peak_state_keys and likewise for the
# fixed twin (sampling never exceeds the continuous sweep; equality
# on this corpus at the 60 s trigger is asserted in the staged test).
# Exact math: integer microseconds; grid ids by integer floor-div;
# the only arithmetic is interval-cover counting.
# Scale: the kernel is the fixed twin's per-user batched walk;
# interval explodes are span/trigger per combo (domain-sized); the
# grid rollup is |ttl| x |trigger| keyed. At 100 TB the grid explode
# shards per key-range exactly as the threeway op documents.
# --------------------------------------------------------------------------
_TTL_JOINT_ORACLE = f"""
    WITH RECURSIVE ev AS (
      SELECT user_id, event_type, event_id, epoch_us(ts) AS t
      FROM events
    ),
    ttl(ttl_s) AS (VALUES
      {", ".join(f"({s})" for s in _DEDUP_TTL_CANDS_S)}),
    tr(trigger_s) AS (VALUES
      {", ".join(f"({t})" for t in _BATCH_PEAK_TRIGGERS_S)}),
    lagged AS (
      SELECT ttl.ttl_s, e.user_id, e.event_type, e.t, e.event_id,
             LAG(e.t) OVER (PARTITION BY ttl.ttl_s, e.user_id,
                                         e.event_type
                            ORDER BY e.t, e.event_id) AS prev_t
      FROM ev e CROSS JOIN ttl
    ),
    isl AS (
      SELECT ttl_s, user_id, event_type, t,
             SUM(CASE WHEN prev_t IS NULL
                       OR t - prev_t > CAST(ttl_s AS BIGINT) * 1000000
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY ttl_s, user_id, event_type
                     ORDER BY t, event_id) AS aid
      FROM lagged
    ),
    sl AS (
      SELECT ttl_s, MIN(t) AS t0,
             MAX(t) + CAST(ttl_s AS BIGINT) * 1000000 AS t_end
      FROM isl GROUP BY ttl_s, user_id, event_type, aid
    ),
    occ AS (
      SELECT ttl.ttl_s, e.user_id, e.event_type, e.t,
             ROW_NUMBER() OVER (PARTITION BY ttl.ttl_s, e.user_id,
                                             e.event_type
                                ORDER BY e.t, e.event_id) AS rn
      FROM ev e CROSS JOIN ttl
    ),
    walk AS (
      SELECT ttl_s, user_id, event_type, rn, t AS cur_admit,
             TRUE AS admitted
      FROM occ WHERE rn = 1
      UNION ALL
      SELECT o.ttl_s, o.user_id, o.event_type, o.rn,
             CASE WHEN o.t - w.cur_admit
                       > CAST(o.ttl_s AS BIGINT) * 1000000
                  THEN o.t ELSE w.cur_admit END,
             o.t - w.cur_admit > CAST(o.ttl_s AS BIGINT) * 1000000
      FROM walk w
      JOIN occ o ON o.ttl_s = w.ttl_s AND o.user_id = w.user_id
                AND o.event_type = w.event_type AND o.rn = w.rn + 1
    ),
    fx AS (
      SELECT ttl_s, cur_admit AS t0,
             cur_admit + CAST(ttl_s AS BIGINT) * 1000000 AS t_end
      FROM walk WHERE admitted
    ),
    shits AS (
      SELECT s.ttl_s, tr.trigger_s, u.g,
             CAST(COUNT(*) AS BIGINT) AS sliding_rows
      FROM sl s CROSS JOIN tr, LATERAL unnest(range(
        (s.t0 + tr.trigger_s * 1000000 - 1) // (tr.trigger_s * 1000000),
        (s.t_end - 1) // (tr.trigger_s * 1000000) + 1)) AS u(g)
      GROUP BY 1, 2, 3
    ),
    fhits AS (
      SELECT f.ttl_s, tr.trigger_s, u.g,
             CAST(COUNT(*) AS BIGINT) AS fixed_rows
      FROM fx f CROSS JOIN tr, LATERAL unnest(range(
        (f.t0 + tr.trigger_s * 1000000 - 1) // (tr.trigger_s * 1000000),
        (f.t_end - 1) // (tr.trigger_s * 1000000) + 1)) AS u(g)
      GROUP BY 1, 2, 3
    ),
    bnd AS (
      SELECT s.ttl_s,
             LEAST(s.mn, f.mn) AS mn, GREATEST(s.mx, f.mx) AS mx
      FROM (SELECT ttl_s, MIN(t0) AS mn, MAX(t_end - 1) AS mx
            FROM sl GROUP BY 1) s
      JOIN (SELECT ttl_s, MIN(t0) AS mn, MAX(t_end - 1) AS mx
            FROM fx GROUP BY 1) f ON f.ttl_s = s.ttl_s
    ),
    grid AS (
      SELECT b.ttl_s, tr.trigger_s, u.g
      FROM bnd b CROSS JOIN tr, LATERAL unnest(range(
        (b.mn + tr.trigger_s * 1000000 - 1) // (tr.trigger_s * 1000000),
        b.mx // (tr.trigger_s * 1000000) + 1)) AS u(g)
    ),
    joint AS (
      SELECT g.ttl_s, g.trigger_s,
             COALESCE(sh.sliding_rows, 0) AS sliding_rows,
             COALESCE(fh.fixed_rows, 0) AS fixed_rows
      FROM grid g
      LEFT JOIN shits sh ON sh.ttl_s = g.ttl_s
                        AND sh.trigger_s = g.trigger_s AND sh.g = g.g
      LEFT JOIN fhits fh ON fh.ttl_s = g.ttl_s
                        AND fh.trigger_s = g.trigger_s AND fh.g = g.g
    )
    SELECT CAST(ttl_s AS BIGINT) AS ttl_s,
           CAST(trigger_s AS BIGINT) AS trigger_s,
           CAST(COUNT(*) AS BIGINT) AS n_batches,
           CAST(MAX(sliding_rows) AS BIGINT) AS peak_sliding_rows,
           CAST(MAX(fixed_rows) AS BIGINT) AS peak_fixed_rows,
           CAST(MAX(sliding_rows) * {_DEDUP_KEY_BYTES} AS BIGINT)
             AS peak_sliding_bytes,
           CAST(MAX(fixed_rows) * {_DEDUP_KEY_BYTES} AS BIGINT)
             AS peak_fixed_bytes,
           CAST((MAX(fixed_rows) - MAX(sliding_rows))
                * {_DEDUP_KEY_BYTES} AS BIGINT) AS delta_peak_bytes,
           CAST(MAX(fixed_rows - sliding_rows) AS BIGINT)
             AS max_fixed_over_sliding,
           CAST(MAX(sliding_rows - fixed_rows) AS BIGINT)
             AS max_sliding_over_fixed
    FROM joint
    GROUP BY 1, 2
    ORDER BY ttl_s, trigger_s
    """


@operator("dedup_ttl_policy_joint", oracle=_TTL_JOINT_ORACLE)
def dedup_ttl_policy_joint(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Sliding-vs-fixed dedup-TTL state sampled on one shared trigger
    grid per (ttl, trigger): per-policy sampled peaks and bytes, the
    signed peak delta, and both pointwise crossing gaps (see block
    comment)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from bigdataentrytask_spark.catalog import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id",
        F.unix_micros("ts").alias("t"),
    )
    ttl = local_frame(
        spark, [(s,) for s in _DEDUP_TTL_CANDS_S], "ttl_s long"
    )
    tr = local_frame(
        spark, [(t,) for t in _BATCH_PEAK_TRIGGERS_S], "trigger_s long"
    )
    # sliding intervals: gap islands, [t0, t1 + ttl)
    wl = Window.partitionBy("ttl_s", "user_id", "event_type").orderBy(
        "t", "event_id"
    )
    isl = (
        ev.crossJoin(F.broadcast(ttl))
        .withColumn("prev_t", F.lag("t").over(wl))
        .withColumn(
            "aid",
            F.sum(
                F.when(
                    F.col("prev_t").isNull()
                    | (
                        F.col("t") - F.col("prev_t")
                        > F.col("ttl_s") * 1_000_000
                    ),
                    1,
                ).otherwise(0)
            ).over(wl),
        )
    )
    sl = isl.groupBy("ttl_s", "user_id", "event_type", "aid").agg(
        F.min("t").alias("t0"),
        (F.max("t") + F.col("ttl_s") * 1_000_000).alias("t_end"),
    ).select("ttl_s", "t0", "t_end")
    # fixed intervals: the twin's kernel walk, [t0, t0 + ttl)
    fx = (
        ev.groupBy("user_id")
        .applyInPandas(
            _fixed_ttl_kernel(_DEDUP_TTL_CANDS_S),
            schema="ttl_s long, user_id long, event_type string, t0 long",
        )
        .select(
            "ttl_s",
            "t0",
            (F.col("t0") + F.col("ttl_s") * 1_000_000).alias("t_end"),
        )
    )
    p_us = F.col("trigger_s") * 1_000_000
    g_lo = F.floor((F.col("t0") + p_us - 1) / p_us)
    g_hi = F.floor((F.col("t_end") - 1) / p_us)

    def hits(iv, out):
        return (
            iv.crossJoin(F.broadcast(tr))
            .select(
                "ttl_s",
                "trigger_s",
                F.explode(
                    F.when(g_hi >= g_lo, F.sequence(g_lo, g_hi)).otherwise(
                        F.expr("CAST(array() AS array<bigint>)")
                    )
                ).alias("g"),
            )
            .groupBy("ttl_s", "trigger_s", "g")
            .agg(F.count(F.lit(1)).cast("bigint").alias(out))
        )

    shits = hits(sl, "sliding_rows")
    fhits = hits(fx, "fixed_rows")
    bnd = (
        sl.groupBy("ttl_s")
        .agg(
            F.min("t0").alias("s_mn"),
            F.max(F.col("t_end") - 1).alias("s_mx"),
        )
        .join(
            fx.groupBy("ttl_s").agg(
                F.min("t0").alias("f_mn"),
                F.max(F.col("t_end") - 1).alias("f_mx"),
            ),
            "ttl_s",
        )
        .select(
            "ttl_s",
            F.least("s_mn", "f_mn").alias("mn"),
            F.greatest("s_mx", "f_mx").alias("mx"),
        )
    )
    b_lo = F.floor((F.col("mn") + p_us - 1) / p_us)
    b_hi = F.floor(F.col("mx") / p_us)
    grid = bnd.crossJoin(F.broadcast(tr)).select(
        "ttl_s",
        "trigger_s",
        F.explode(
            F.when(b_hi >= b_lo, F.sequence(b_lo, b_hi)).otherwise(
                F.expr("CAST(array() AS array<bigint>)")
            )
        ).alias("g"),
    )
    joint = (
        grid.join(shits, ["ttl_s", "trigger_s", "g"], "left")
        .join(fhits, ["ttl_s", "trigger_s", "g"], "left")
        .select(
            "ttl_s",
            "trigger_s",
            F.coalesce("sliding_rows", F.lit(0)).alias("sliding_rows"),
            F.coalesce("fixed_rows", F.lit(0)).alias("fixed_rows"),
        )
    )
    return (
        joint.groupBy("ttl_s", "trigger_s")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_batches"),
            F.max("sliding_rows").cast("bigint").alias("peak_sliding_rows"),
            F.max("fixed_rows").cast("bigint").alias("peak_fixed_rows"),
            (F.max("sliding_rows") * _DEDUP_KEY_BYTES)
            .cast("bigint")
            .alias("peak_sliding_bytes"),
            (F.max("fixed_rows") * _DEDUP_KEY_BYTES)
            .cast("bigint")
            .alias("peak_fixed_bytes"),
            (
                (F.max("fixed_rows") - F.max("sliding_rows"))
                * _DEDUP_KEY_BYTES
            )
            .cast("bigint")
            .alias("delta_peak_bytes"),
            F.max(F.col("fixed_rows") - F.col("sliding_rows"))
            .cast("bigint")
            .alias("max_fixed_over_sliding"),
            F.max(F.col("sliding_rows") - F.col("fixed_rows"))
            .cast("bigint")
            .alias("max_sliding_over_fixed"),
        )
        .select(
            F.col("ttl_s").cast("bigint").alias("ttl_s"),
            F.col("trigger_s").cast("bigint").alias("trigger_s"),
            "n_batches",
            "peak_sliding_rows",
            "peak_fixed_rows",
            "peak_sliding_bytes",
            "peak_fixed_bytes",
            "delta_peak_bytes",
            "max_fixed_over_sliding",
            "max_sliding_over_fixed",
        )
        .orderBy("ttl_s", "trigger_s")
    )


# --------------------------------------------------------------------------
# Trigger sampling-deficit audit (round-15 queue item, pulled
# forward): dedup_ttl_policy_joint's staged test pinned a real gap —
# at ttl=1800 the 60 s trigger's sampled peak misses the continuous
# peak by one key (the peak lives between ticks). This op prices the
# trigger choice as a MEASUREMENT-ERROR knob across the whole grid:
# per (ttl_s, trigger_s, policy), the CONTINUOUS endpoint-sweep peak
# (the true high-water mark an unsampled monitor would report), the
# grid-sampled peak (what a trigger-aligned metrics pipeline
# actually sees), and the deficit in keys and ppm. Policies are the
# two dedup stores (a_sliding gap islands, b_fixed kernel-walk
# anchors) so the audit covers both retention geometries.
# Pinned shape: deficit >= 0 always (sampling can only miss);
# deficit is non-decreasing in trigger_s per (ttl, policy) — a
# coarser trigger can only miss more.
# Exact math: integer microseconds; both peaks are interval-cover
# maxima (one over event endpoints, one over grid ticks).
# Scale: the joint op's interval frames re-used; the continuous
# sweep is the module's documented global-prefix audit form
# (per-shard at 100 TB), the grid side is span/trigger rows.
# --------------------------------------------------------------------------
_TSD_ORACLE = f"""
    WITH RECURSIVE ev AS (
      SELECT user_id, event_type, event_id, epoch_us(ts) AS t
      FROM events
    ),
    ttl(ttl_s) AS (VALUES
      {", ".join(f"({s})" for s in _DEDUP_TTL_CANDS_S)}),
    tr(trigger_s) AS (VALUES
      {", ".join(f"({t})" for t in _BATCH_PEAK_TRIGGERS_S)}),
    lagged AS (
      SELECT ttl.ttl_s, e.user_id, e.event_type, e.t, e.event_id,
             LAG(e.t) OVER (PARTITION BY ttl.ttl_s, e.user_id,
                                         e.event_type
                            ORDER BY e.t, e.event_id) AS prev_t
      FROM ev e CROSS JOIN ttl
    ),
    isl AS (
      SELECT ttl_s, user_id, event_type, t,
             SUM(CASE WHEN prev_t IS NULL
                       OR t - prev_t > CAST(ttl_s AS BIGINT) * 1000000
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY ttl_s, user_id, event_type
                     ORDER BY t, event_id) AS aid
      FROM lagged
    ),
    occ AS (
      SELECT ttl.ttl_s, e.user_id, e.event_type, e.t,
             ROW_NUMBER() OVER (PARTITION BY ttl.ttl_s, e.user_id,
                                             e.event_type
                                ORDER BY e.t, e.event_id) AS rn
      FROM ev e CROSS JOIN ttl
    ),
    walk AS (
      SELECT ttl_s, user_id, event_type, rn, t AS cur_admit,
             TRUE AS admitted
      FROM occ WHERE rn = 1
      UNION ALL
      SELECT o.ttl_s, o.user_id, o.event_type, o.rn,
             CASE WHEN o.t - w.cur_admit
                       > CAST(o.ttl_s AS BIGINT) * 1000000
                  THEN o.t ELSE w.cur_admit END,
             o.t - w.cur_admit > CAST(o.ttl_s AS BIGINT) * 1000000
      FROM walk w
      JOIN occ o ON o.ttl_s = w.ttl_s AND o.user_id = w.user_id
                AND o.event_type = w.event_type AND o.rn = w.rn + 1
    ),
    iv AS (
      SELECT 'a_sliding' AS policy, ttl_s, MIN(t) AS t0,
             MAX(t) + CAST(ttl_s AS BIGINT) * 1000000 AS t_end
      FROM isl GROUP BY ttl_s, user_id, event_type, aid
      UNION ALL
      SELECT 'b_fixed', ttl_s, cur_admit,
             cur_admit + CAST(ttl_s AS BIGINT) * 1000000
      FROM walk WHERE admitted
    ),
    pts AS (
      SELECT policy, ttl_s, t0 AS t, 1 AS delta FROM iv
      UNION ALL
      SELECT policy, ttl_s, t_end, -1 FROM iv
    ),
    cont AS (
      SELECT policy, ttl_s, CAST(MAX(open_now) AS BIGINT) AS cont_peak
      FROM (
        SELECT policy, ttl_s,
               SUM(delta) OVER (PARTITION BY policy, ttl_s
                                ORDER BY t, delta
                                ROWS UNBOUNDED PRECEDING) AS open_now
        FROM pts
      ) GROUP BY 1, 2
    ),
    hits AS (
      SELECT i.policy, i.ttl_s, tr.trigger_s, u.g,
             CAST(COUNT(*) AS BIGINT) AS rows_at
      FROM iv i CROSS JOIN tr, LATERAL unnest(range(
        (i.t0 + tr.trigger_s * 1000000 - 1) // (tr.trigger_s * 1000000),
        (i.t_end - 1) // (tr.trigger_s * 1000000) + 1)) AS u(g)
      GROUP BY 1, 2, 3, 4
    ),
    samp AS (
      SELECT policy, ttl_s, trigger_s,
             CAST(MAX(rows_at) AS BIGINT) AS sampled_peak
      FROM hits GROUP BY 1, 2, 3
    )
    SELECT CAST(s.ttl_s AS BIGINT) AS ttl_s,
           CAST(s.trigger_s AS BIGINT) AS trigger_s,
           s.policy AS policy,
           c.cont_peak AS cont_peak_keys,
           s.sampled_peak AS sampled_peak_keys,
           c.cont_peak - s.sampled_peak AS deficit_keys,
           CAST(ROUND((c.cont_peak - s.sampled_peak) * 1000000.0
                      / c.cont_peak) AS BIGINT) AS deficit_ppm
    FROM samp s
    JOIN cont c ON c.policy = s.policy AND c.ttl_s = s.ttl_s
    ORDER BY ttl_s, trigger_s, policy
    """


@operator("trigger_sampling_deficit", oracle=_TSD_ORACLE)
def trigger_sampling_deficit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Continuous vs trigger-sampled peak state keys per
    (ttl, trigger, dedup policy): the measurement error a
    trigger-aligned metrics pipeline bakes into its high-water marks
    (see block comment)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from bigdataentrytask_spark.catalog import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id",
        F.unix_micros("ts").alias("t"),
    )
    ttl = local_frame(
        spark, [(s,) for s in _DEDUP_TTL_CANDS_S], "ttl_s long"
    )
    tr = local_frame(
        spark, [(t,) for t in _BATCH_PEAK_TRIGGERS_S], "trigger_s long"
    )
    wl = Window.partitionBy("ttl_s", "user_id", "event_type").orderBy(
        "t", "event_id"
    )
    isl = (
        ev.crossJoin(F.broadcast(ttl))
        .withColumn("prev_t", F.lag("t").over(wl))
        .withColumn(
            "aid",
            F.sum(
                F.when(
                    F.col("prev_t").isNull()
                    | (
                        F.col("t") - F.col("prev_t")
                        > F.col("ttl_s") * 1_000_000
                    ),
                    1,
                ).otherwise(0)
            ).over(wl),
        )
    )
    sl = (
        isl.groupBy("ttl_s", "user_id", "event_type", "aid")
        .agg(
            F.min("t").alias("t0"),
            (F.max("t") + F.col("ttl_s") * 1_000_000).alias("t_end"),
        )
        .select(F.lit("a_sliding").alias("policy"), "ttl_s", "t0", "t_end")
    )
    fx = (
        ev.groupBy("user_id")
        .applyInPandas(
            _fixed_ttl_kernel(_DEDUP_TTL_CANDS_S),
            schema="ttl_s long, user_id long, event_type string, t0 long",
        )
        .select(
            F.lit("b_fixed").alias("policy"),
            "ttl_s",
            "t0",
            (F.col("t0") + F.col("ttl_s") * 1_000_000).alias("t_end"),
        )
    )
    iv = sl.unionByName(fx)
    pts = iv.select(
        "policy", "ttl_s", F.col("t0").alias("t"), F.lit(1).alias("delta")
    ).unionByName(
        iv.select(
            "policy",
            "ttl_s",
            F.col("t_end").alias("t"),
            F.lit(-1).alias("delta"),
        )
    )
    ws = Window.partitionBy("policy", "ttl_s").orderBy(
        "t", "delta"
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cont = (
        pts.select(
            "policy", "ttl_s", F.sum("delta").over(ws).alias("open_now")
        )
        .groupBy("policy", "ttl_s")
        .agg(F.max("open_now").cast("bigint").alias("cont_peak"))
    )
    p_us = F.col("trigger_s") * 1_000_000
    g_lo = F.floor((F.col("t0") + p_us - 1) / p_us)
    g_hi = F.floor((F.col("t_end") - 1) / p_us)
    samp = (
        iv.crossJoin(F.broadcast(tr))
        .select(
            "policy",
            "ttl_s",
            "trigger_s",
            F.explode(
                F.when(g_hi >= g_lo, F.sequence(g_lo, g_hi)).otherwise(
                    F.expr("CAST(array() AS array<bigint>)")
                )
            ).alias("g"),
        )
        .groupBy("policy", "ttl_s", "trigger_s", "g")
        .agg(F.count(F.lit(1)).alias("rows_at"))
        .groupBy("policy", "ttl_s", "trigger_s")
        .agg(F.max("rows_at").cast("bigint").alias("sampled_peak"))
    )
    return (
        samp.join(cont, ["policy", "ttl_s"])
        .select(
            F.col("ttl_s").cast("bigint").alias("ttl_s"),
            F.col("trigger_s").cast("bigint").alias("trigger_s"),
            "policy",
            F.col("cont_peak").alias("cont_peak_keys"),
            F.col("sampled_peak").alias("sampled_peak_keys"),
            (F.col("cont_peak") - F.col("sampled_peak")).alias(
                "deficit_keys"
            ),
            F.round(
                (F.col("cont_peak") - F.col("sampled_peak"))
                * 1000000.0
                / F.col("cont_peak")
            )
            .cast("bigint")
            .alias("deficit_ppm"),
        )
        .orderBy("ttl_s", "trigger_s", "policy")
    )
