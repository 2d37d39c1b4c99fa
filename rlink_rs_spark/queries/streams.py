"""Streaming-executed queries routed through the batch correctness gate.

`streaming_flagship_agg` runs the reference's flagship pipeline
(example-simple/src/app.rs:34-66) as a real Structured Streaming job --
file-source replay, withWatermark, windowed agg, availableNow trigger,
memory sink -- and returns the materialized result. Its oracle is the
batch SQL restricted to windows closed by the final watermark
(window_end <= max_event_ts - delay): append mode withholds still-open
windows by design, exactly like the reference's WindowBaseReduceFunction
holds state until the watermark passes (window_base_reduce.rs:103-144).

`session_window_agg` exercises Spark's native session windows (engine
extra; absent in the reference, SURVEY §2.6) in batch, matching a
gaps-and-islands oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rlink_rs_spark.queries.base import SUM_EXACT_SQL, register
from rlink_rs_spark.tables import load_table

_DELAY_MS = 1000
_GAP_MS = 30 * 60 * 1000


@register(
    "streaming_flagship_agg",
    f"""
    WITH assigned AS (
      SELECT ((epoch_ms(t.ts)) // 20000) * 20000 - k.k * 20000 AS ws, t.*
      FROM events t CROSS JOIN range(3) k(k)
    ), agg AS (
      SELECT ws AS window_start, ws + 60000 AS window_end, event_type,
             {SUM_EXACT_SQL.format(col='value')} AS sum_value,
             MAX(value) AS max_value, MIN(value) AS min_value, COUNT(*) AS cnt
      FROM assigned GROUP BY ws, event_type
    )
    SELECT * FROM agg
    WHERE window_end <= (SELECT epoch_ms(MAX(ts)) - {_DELAY_MS} FROM events)
    """,
    "Flagship pipeline executed as Structured Streaming: file replay -> "
    "withWatermark(1s) -> sliding 60s/20s window agg -> availableNow -> "
    "memory sink. Oracle = batch result over watermark-closed windows.",
)
def streaming_flagship_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rlink_rs_spark.streaming.runner import run_to_memory
    from rlink_rs_spark.streaming.sources import file_stream
    from rlink_rs_spark.streaming.watermarks import bounded_out_of_orderness

    ev = file_stream(spark, sf_dir, "events")
    agg = (
        bounded_out_of_orderness("ts", _DELAY_MS / 1000).apply(ev)
        .groupBy(F.window("ts", "60 seconds", "20 seconds"), "event_type")
        .agg(
            (F.sum(F.round(F.col("value") * 100).cast("long")) / 100.0).alias("sum_value"),
            F.max("value").alias("max_value"),
            F.min("value").alias("min_value"),
            F.count("*").alias("cnt"),
        )
        .select(
            F.unix_millis("window.start").alias("window_start"),
            F.unix_millis("window.end").alias("window_end"),
            "event_type",
            "sum_value",
            "max_value",
            "min_value",
            "cnt",
        )
    )
    return run_to_memory(agg, shuffle_partitions=8)


_PCT_WIN_MS = 3_600_000  # 1h tumbling, same as the batch pct query

_STREAMING_PCT_SRC = f"""
SELECT (epoch_ms(ts) // {_PCT_WIN_MS}) * {_PCT_WIN_MS} AS window_start,
       (epoch_ms(ts) // {_PCT_WIN_MS}) * {_PCT_WIN_MS} + {_PCT_WIN_MS} AS window_end,
       event_type, value
FROM events
WHERE (epoch_ms(ts) // {_PCT_WIN_MS}) * {_PCT_WIN_MS} + {_PCT_WIN_MS}
      <= (SELECT epoch_ms(MAX(ts)) - {_DELAY_MS} FROM events)
"""


def _streaming_pct_oracle() -> str:
    from rlink_rs_spark.functions.percentile import histogram_percentile_oracle_sql

    return histogram_percentile_oracle_sql(
        _STREAMING_PCT_SRC,
        ["window_start", "window_end", "event_type"],
        "value",
        [99, 90],
    )


@register(
    "streaming_pct_agg",
    _streaming_pct_oracle(),
    "The reference's in-window histogram percentile executed as Structured "
    "Streaming (example-connect/src/app.rs:60-72 computes pct inside the "
    "window reduce): bucket counts are plain sums, so the accumulate phase "
    "runs fully incrementally in the state store (<=90 bucket rows per "
    "(window, key)); append mode emits closed windows, and the top-down "
    "boundary decode (get_result, percentile/mod.rs:171-210) runs on the "
    "emitted counts. Oracle = batch percentile over watermark-closed 1h "
    "windows.",
)
def streaming_pct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rlink_rs_spark.functions.percentile import (
        bucket_column,
        histogram_percentile_from_counts,
    )
    from rlink_rs_spark.streaming.runner import run_to_memory
    from rlink_rs_spark.streaming.sources import file_stream

    src = file_stream(spark, sf_dir, "events")
    counts = (
        src.withWatermark("ts", f"{_DELAY_MS // 1000} seconds")
        .groupBy(
            F.window("ts", f"{_PCT_WIN_MS // 1000} seconds"),
            "event_type",
            bucket_column("value").alias("__bucket"),
        )
        .agg(F.count("*").alias("__c"))
        .select(
            F.unix_millis("window.start").alias("window_start"),
            F.unix_millis("window.end").alias("window_end"),
            "event_type",
            "__bucket",
            "__c",
        )
    )
    emitted = run_to_memory(counts, shuffle_partitions=8)
    return histogram_percentile_from_counts(
        emitted, ["window_start", "window_end", "event_type"], [99, 90]
    )


@register(
    "stream_stream_interval_join",
    """
    SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
           epoch_ms(c.ts) AS click_ts_ms, epoch_ms(p.ts) AS purchase_ts_ms,
           epoch_ms(p.ts) - epoch_ms(c.ts) AS lag_ms
    FROM events c JOIN events p
      ON c.user_id = p.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 6 HOUR
    """,
    "Windowed stream-stream equi-join, executed as Structured Streaming: two "
    "watermarked event streams joined on user_id + a 6-hour event-time range "
    "(click -> purchase attribution). Spark derives per-side state retention "
    "from the range bound, so join state is watermark-evicted -- the "
    "CoProcessFunction connect surface (core/data_stream.rs:349-371) "
    "generalized. Inner join + availableNow emits exactly the batch interval "
    "join, which is the oracle.",
)
def stream_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rlink_rs_spark.operators.joins import interval_join
    from rlink_rs_spark.streaming.runner import run_to_parquet
    from rlink_rs_spark.streaming.sources import file_stream

    clicks = (
        file_stream(spark, sf_dir, "events")
        .where(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 minute")
    )
    purchases = (
        file_stream(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 minute")
    )
    joined = interval_join(
        clicks,
        purchases,
        left_key="c_user",
        right_key="p_user",
        left_ts="click_ts",
        right_ts="purchase_ts",
        lower="INTERVAL 0 SECONDS",
        upper="INTERVAL 6 HOURS",
    )
    c_ms, p_ms = F.unix_millis("click_ts"), F.unix_millis("purchase_ts")
    out = joined.select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "purchase_id",
        c_ms.alias("click_ts_ms"),
        p_ms.alias("purchase_ts_ms"),
        (p_ms - c_ms).alias("lag_ms"),
    )
    # parquet sink, not memory: the raw join output is O(matches) and must
    # never be collected to the driver (VERDICT r11 #2)
    return run_to_parquet(out, shuffle_partitions=8)


@register(
    "stream_stream_outer_join",
    """
    WITH clicks AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'),
    purch AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'),
    wm AS (
      SELECT LEAST((SELECT MAX(epoch_ms(ts)) FROM clicks),
                   (SELECT MAX(epoch_ms(ts)) FROM purch)) - 60000 AS w
    ),
    matched AS (
      SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
             epoch_ms(c.ts) AS click_ts_ms, epoch_ms(p.ts) AS purchase_ts_ms
      FROM clicks c JOIN purch p ON c.user_id = p.user_id
       AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 6 HOUR
    ),
    unmatched AS (
      SELECT c.user_id, c.event_id AS click_id, CAST(NULL AS BIGINT) AS purchase_id,
             epoch_ms(c.ts) AS click_ts_ms, CAST(NULL AS BIGINT) AS purchase_ts_ms
      FROM clicks c
      WHERE NOT EXISTS (SELECT 1 FROM purch p WHERE p.user_id = c.user_id
                        AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 6 HOUR)
        AND epoch_ms(c.ts) + 21600000 < (SELECT w FROM wm)
    )
    SELECT * FROM matched UNION ALL SELECT * FROM unmatched
    """,
    "LEFT OUTER stream-stream interval join: matches emit immediately; "
    "null-extended rows emit only when the global watermark (min of both "
    "sides' max-delay) passes the left row's entire match window "
    "[ts, ts+6h] -- i.e. click_ts + upper < wm, verified empirically "
    "against the engine. The oracle reproduces both the matches and the "
    "watermark-closed unmatched set.",
)
def stream_stream_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rlink_rs_spark.operators.joins import interval_join
    from rlink_rs_spark.streaming.runner import run_to_parquet
    from rlink_rs_spark.streaming.sources import file_stream

    clicks = (
        file_stream(spark, sf_dir, "events")
        .where(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 minute")
    )
    purchases = (
        file_stream(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 minute")
    )
    joined = interval_join(
        clicks,
        purchases,
        left_key="c_user",
        right_key="p_user",
        left_ts="click_ts",
        right_ts="purchase_ts",
        lower="INTERVAL 0 SECONDS",
        upper="INTERVAL 6 HOURS",
        how="leftOuter",
    )
    out = joined.select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "purchase_id",
        F.unix_millis("click_ts").alias("click_ts_ms"),
        F.unix_millis("purchase_ts").alias("purchase_ts_ms"),
    )
    # parquet sink, not memory: O(matches) output stays on executors
    return run_to_parquet(out, shuffle_partitions=8)


@register(
    "stream_join_then_window_agg",
    """
    WITH clicks AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
    purch AS (SELECT user_id, value, ts FROM events WHERE event_type = 'purchase'),
    joined AS (
      SELECT p.value, p.ts FROM clicks c JOIN purch p
        ON c.user_id = p.user_id AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 6 HOUR
    ),
    agg AS (
      SELECT (epoch_ms(ts) // 86400000) * 86400000 AS ws,
             COUNT(*) AS n,
             SUM(CAST(ROUND(value * 100) AS BIGINT))/100.0 AS sv
      FROM joined GROUP BY 1
    )
    SELECT * FROM agg
    WHERE ws + 86400000 <= (
      SELECT LEAST((SELECT MAX(epoch_ms(ts)) FROM clicks),
                   (SELECT MAX(epoch_ms(ts)) FROM purch)) - 60000
    )
    """,
    "CHAINED stateful operators (Spark 4): stream-stream interval join "
    "feeding a downstream tumbling 1-day windowed aggregation, both in one "
    "streaming query -- watermark propagates through the join into the agg. "
    "Oracle = batch join + daily agg over watermark-closed windows (the "
    "closure boundary candidates coincide on daily windows at this data "
    "scale; verified empirically at sf0.001 and sf0.01).",
)
def stream_join_then_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rlink_rs_spark.operators.joins import interval_join
    from rlink_rs_spark.streaming.runner import run_to_memory
    from rlink_rs_spark.streaming.sources import file_stream

    clicks = (
        file_stream(spark, sf_dir, "events")
        .where(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("click_ts"))
        .withWatermark("click_ts", "1 minute")
    )
    purchases = (
        file_stream(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("value").alias("p_value"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 minute")
    )
    joined = interval_join(
        clicks, purchases, "c_user", "p_user", "click_ts", "purchase_ts",
        "INTERVAL 0 SECONDS", "INTERVAL 6 HOURS",
    )
    agg = (
        joined.groupBy(F.window("purchase_ts", "1 day"))
        .agg(
            F.count("*").alias("n"),
            (F.sum(F.round(F.col("p_value") * 100).cast("long")) / 100.0).alias("sv"),
        )
        .select(F.unix_millis("window.start").alias("ws"), "n", "sv")
    )
    return run_to_memory(agg, shuffle_partitions=8)


@register(
    "streaming_three_stream_connect",
    """
    WITH s0 AS (SELECT user_id, value, ts FROM events WHERE event_type = 'click'),
    s1 AS (SELECT user_id, value * 10 AS value, ts FROM events WHERE event_type = 'purchase'),
    s2 AS (SELECT user_id, -value AS value, ts FROM events WHERE event_type = 'view'),
    merged AS (
      SELECT 0 AS source_idx, user_id, value, ts FROM s0
      UNION ALL SELECT 1, user_id, value, ts FROM s1
      UNION ALL SELECT 2, user_id, value, ts FROM s2
    ),
    agg AS (
      SELECT (epoch_ms(ts) // 300000) * 300000 AS window_start, source_idx,
             COUNT(*) AS cnt,
             SUM(CAST(ROUND(value * 100) AS BIGINT))/100.0 AS sum_value
      FROM merged GROUP BY 1, 2
    )
    SELECT * FROM agg
    WHERE window_start + 300000 <= (
      SELECT LEAST((SELECT MAX(epoch_ms(ts)) FROM s0),
                   (SELECT MAX(epoch_ms(ts)) FROM s1),
                   (SELECT MAX(epoch_ms(ts)) FROM s2)) - 1000
    )
    """,
    "THREE-input connect executed as one streaming job: a primary stream "
    "plus two side streams, each with its own transform and watermark, "
    "tagged with a source index (the reference dispatches N side-streams "
    "by index, co_process_runnable.rs:84-108) and merged by N-ary "
    "union_aligned into a downstream 5m windowed agg. The global watermark "
    "is the MIN across all three sources; the oracle closes windows "
    "against that min.",
)
def streaming_three_stream_connect(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rlink_rs_spark.operators.joins import union_aligned
    from rlink_rs_spark.streaming.runner import run_to_memory
    from rlink_rs_spark.streaming.sources import file_stream

    def side(event_type: str, idx: int, value_col):
        return (
            file_stream(spark, sf_dir, "events")
            .where(F.col("event_type") == event_type)
            .select(
                F.lit(idx).alias("source_idx"),
                "user_id",
                value_col.alias("value"),
                "ts",
            )
            .withWatermark("ts", "1 second")
        )

    merged = union_aligned(
        side("click", 0, F.col("value")),
        side("purchase", 1, F.col("value") * 10),
        side("view", 2, -F.col("value")),
    )
    agg = (
        merged.groupBy(F.window("ts", "300 seconds"), "source_idx")
        .agg(
            F.count("*").alias("cnt"),
            (F.sum(F.round(F.col("value") * 100).cast("long")) / 100.0).alias("sum_value"),
        )
        .select(
            F.unix_millis("window.start").alias("window_start"),
            "source_idx",
            "cnt",
            "sum_value",
        )
    )
    return run_to_memory(agg, shuffle_partitions=8)


@register(
    "streaming_dedup_events",
    """
    SELECT event_id, user_id, epoch_ms(ts) AS ts_ms, event_type, value
    FROM events
    """,
    "Streaming exact dedup (dropDuplicatesWithinWatermark): the events table "
    "replayed in ts-ordered chunks with one chunk redelivered twice (the "
    "at-least-once Kafka-restart pattern); keyed dedup state on event_id "
    "within the watermark horizon removes the redelivery, so the oracle is "
    "simply the original table. The streaming face of exact_dedup_docs "
    "(SURVEY Phase 4).",
)
def streaming_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rlink_rs_spark.streaming.dedup import dedup_stream
    from rlink_rs_spark.streaming.runner import run_to_memory
    from rlink_rs_spark.streaming.sources import (
        stage_stream_dir_with_dups,
        stream_from_staged,
    )

    staged = stage_stream_dir_with_dups(sf_dir, "events", chunks=4, dup_chunks=(-1,))
    ev = stream_from_staged(spark, staged, sf_dir, "events", max_files_per_trigger=1)
    # delay covers the fixture's full 30-day span: no state eviction, so the
    # redelivered chunk dedups exactly (production tunes this to the real
    # redelivery horizon for bounded state)
    deduped = dedup_stream(ev, ["event_id"], ts_col="ts", delay="35 days")
    out = deduped.select(
        "event_id",
        "user_id",
        F.unix_millis("ts").alias("ts_ms"),
        "event_type",
        "value",
    )
    return run_to_memory(out, shuffle_partitions=8)


@register(
    "streaming_session_window_agg",
    f"""
    WITH ordered AS (
      SELECT user_id, ts, value, event_id,
             CASE WHEN epoch_ms(ts) - LAG(epoch_ms(ts)) OVER w > {_GAP_MS}
                  OR LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
      SELECT user_id, ts, value,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS sid
      FROM ordered
    ), agg AS (
      SELECT user_id,
             MIN(epoch_ms(ts)) AS session_start_ms,
             MAX(epoch_ms(ts)) + {_GAP_MS} AS session_end_ms,
             COUNT(*) AS n_events,
             {SUM_EXACT_SQL.format(col='value')} AS sum_value
      FROM sessions GROUP BY user_id, sid
    )
    SELECT * FROM agg
    WHERE session_end_ms < (SELECT epoch_ms(MAX(ts)) - {_DELAY_MS} FROM events)
    """,
    "Session windows executed AS A STREAM: chunked replay -> withWatermark "
    "-> F.session_window(30 min) -> append mode. The state store merges "
    "session fragments across micro-batches; a session emits once the "
    "watermark passes its end (last event + gap < max_ts - delay -- "
    "verified empirically). Oracle = gaps-and-islands restricted to "
    "watermark-closed sessions.",
)
def streaming_session_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rlink_rs_spark.streaming.runner import run_to_memory
    from rlink_rs_spark.streaming.sources import file_stream

    src = file_stream(spark, sf_dir, "events", max_files_per_trigger=1, chunks=2, order_col="ts")
    agg = (
        src.withWatermark("ts", f"{_DELAY_MS} milliseconds")
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(
            (F.sum(F.round(F.col("value") * 100).cast("long")) / 100.0).alias("sum_value"),
            F.count("*").alias("n_events"),
        )
        .select(
            "user_id",
            F.unix_millis("session_window.start").alias("session_start_ms"),
            F.unix_millis("session_window.end").alias("session_end_ms"),
            "n_events",
            "sum_value",
        )
    )
    return run_to_memory(agg, shuffle_partitions=8)


@register(
    "session_window_agg",
    f"""
    WITH ordered AS (
      SELECT user_id, ts, value, event_id,
             CASE WHEN epoch_ms(ts) - LAG(epoch_ms(ts)) OVER w > {_GAP_MS}
                  OR LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
      SELECT user_id, ts, value,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS sid
      FROM ordered
    )
    SELECT user_id,
           MIN(epoch_ms(ts)) AS session_start_ms,
           MAX(epoch_ms(ts)) + {_GAP_MS} AS session_end_ms,
           COUNT(*) AS n_events,
           {SUM_EXACT_SQL.format(col='value')} AS sum_value
    FROM sessions GROUP BY user_id, sid
    """,
    "Native session windows (F.session_window, 30-minute gap) in batch; "
    "oracle = gaps-and-islands. Session end = last event + gap, per Spark "
    "semantics.",
)
def session_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(
            (F.sum(F.round(F.col("value") * 100).cast("long")) / 100.0).alias("sum_value"),
            F.count("*").alias("n_events"),
        )
        .select(
            "user_id",
            F.unix_millis("session_window.start").alias("session_start_ms"),
            F.unix_millis("session_window.end").alias("session_end_ms"),
            "n_events",
            "sum_value",
        )
    )


_DYN_GAP_ERR_MS, _DYN_GAP_STD_MS = 3_600_000, 1_800_000


@register(
    "dynamic_gap_sessions",
    f"""
    WITH e AS (
      SELECT user_id, event_id, value, epoch_ms(ts) AS t,
             CASE WHEN event_type = 'error' THEN {_DYN_GAP_ERR_MS}
                  ELSE {_DYN_GAP_STD_MS} END AS gap
      FROM events
    ), r AS (
      SELECT user_id, event_id, value, t, gap,
             MAX(t + gap) OVER (PARTITION BY user_id ORDER BY t, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev_end
      FROM e
    ), b AS (
      SELECT *, CASE WHEN prev_end IS NULL OR t > prev_end THEN 1 ELSE 0 END AS brk
      FROM r
    ), s AS (
      SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY t, event_id
                               ROWS UNBOUNDED PRECEDING) AS sid
      FROM b
    )
    SELECT user_id,
           MIN(t) AS session_start_ms,
           MAX(t + gap) AS session_end_ms,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           {SUM_EXACT_SQL.format(col='value')} AS sum_value
    FROM s GROUP BY user_id, sid
    """,
    "DYNAMIC-gap session windows: the gap is a per-row expression (error "
    "events hold sessions open 60 min, others 30 min) -- "
    "F.session_window(ts, CASE ...), the Spark-3.2+ generalization of the "
    "fixed-gap session the reference lacks entirely. Oracle = gaps-and-"
    "islands with a RUNNING MAX of per-row ends (a LAG against the "
    "previous row is no longer sufficient once gaps vary). Scale: "
    "identical to fixed-gap sessions -- one shuffle on the key, ordered "
    "merge per key, state bounded by the open session.",
)
def dynamic_gap_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    gap = F.when(F.col("event_type") == "error", "60 minutes").otherwise("30 minutes")
    return (
        events.groupBy(F.session_window("ts", gap), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            (F.sum(F.round(F.col("value") * 100).cast("long")) / 100.0).alias("sum_value"),
        )
        .select(
            "user_id",
            F.unix_millis("session_window.start").alias("session_start_ms"),
            F.unix_millis("session_window.end").alias("session_end_ms"),
            "n_events",
            "sum_value",
        )
    )


@register(
    "streaming_dynamic_gap_sessions",
    f"""
    WITH e AS (
      SELECT user_id, event_id, value, epoch_ms(ts) AS t,
             CASE WHEN event_type = 'error' THEN {_DYN_GAP_ERR_MS}
                  ELSE {_DYN_GAP_STD_MS} END AS gap
      FROM events
    ), r AS (
      SELECT user_id, event_id, value, t, gap,
             MAX(t + gap) OVER (PARTITION BY user_id ORDER BY t, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev_end
      FROM e
    ), b AS (
      SELECT *, CASE WHEN prev_end IS NULL OR t > prev_end THEN 1 ELSE 0 END AS brk
      FROM r
    ), s AS (
      SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY t, event_id
                               ROWS UNBOUNDED PRECEDING) AS sid
      FROM b
    ), agg AS (
      SELECT user_id,
             MIN(t) AS session_start_ms,
             MAX(t + gap) AS session_end_ms,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             {SUM_EXACT_SQL.format(col='value')} AS sum_value
      FROM s GROUP BY user_id, sid
    )
    SELECT * FROM agg
    WHERE session_end_ms < (SELECT epoch_ms(MAX(ts)) - {_DELAY_MS} FROM events)
    """,
    "DYNAMIC-gap session windows AS A STREAM: per-row gap expression "
    "(errors 60 min, others 30) under withWatermark + append mode -- the "
    "state store merges variable-length session fragments across "
    "micro-batches and emits once the watermark passes each session's "
    "end. Oracle = the batch dynamic-gap gaps-and-islands (running max of "
    "per-row ends) restricted to watermark-closed sessions -- streaming "
    "converges exactly to batch on bounded input.",
)
def streaming_dynamic_gap_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rlink_rs_spark.streaming.runner import run_to_memory
    from rlink_rs_spark.streaming.sources import file_stream

    src = file_stream(spark, sf_dir, "events", max_files_per_trigger=1, chunks=2, order_col="ts")
    gap = F.when(F.col("event_type") == "error", "60 minutes").otherwise("30 minutes")
    agg = (
        src.withWatermark("ts", f"{_DELAY_MS} milliseconds")
        .groupBy(F.session_window("ts", gap), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            (F.sum(F.round(F.col("value") * 100).cast("long")) / 100.0).alias("sum_value"),
        )
        .select(
            "user_id",
            F.unix_millis("session_window.start").alias("session_start_ms"),
            F.unix_millis("session_window.end").alias("session_end_ms"),
            "n_events",
            "sum_value",
        )
    )
    return run_to_memory(agg, shuffle_partitions=8)


_TOPK_WIN_MS = 600_000  # 10-minute tumbling windows
_TOPK_K = 3


@register(
    "streaming_windowed_topk",
    f"""
    WITH counts AS (
      SELECT (epoch_ms(ts) // {_TOPK_WIN_MS}) * {_TOPK_WIN_MS} AS window_start,
             (epoch_ms(ts) // {_TOPK_WIN_MS}) * {_TOPK_WIN_MS} + {_TOPK_WIN_MS} AS window_end,
             user_id, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2, 3
    ),
    closed AS (
      SELECT * FROM counts
      WHERE window_end <= (SELECT epoch_ms(MAX(ts)) - {_DELAY_MS} FROM events)
    ),
    ranked AS (
      SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY window_start
                     ORDER BY cnt DESC, user_id ASC) AS BIGINT) AS rnk
      FROM closed
    )
    SELECT window_start, window_end, user_id, cnt, rnk
    FROM ranked WHERE rnk <= {_TOPK_K}
    """,
    "Streaming windowed top-k (trending items): per 10-minute tumbling "
    f"window the top-{_TOPK_K} users by event count. The stream maintains "
    "only the per-(window, user) counts (watermark-evicted state, append "
    "mode); the rank runs downstream on each CLOSED window's finalized "
    "counts -- the standard two-stage trending topology, since a rank "
    "inside the stream would re-sort on every late row for no benefit. "
    "Scale: counts are map-side-combined before the stateful shuffle and "
    "state is bounded by watermark eviction; the downstream rank touches "
    "only closed-window aggregates (users-per-window rows, not events).",
)
def streaming_windowed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from rlink_rs_spark.streaming.runner import run_to_memory
    from rlink_rs_spark.streaming.sources import file_stream
    from rlink_rs_spark.streaming.watermarks import bounded_out_of_orderness

    ev = file_stream(spark, sf_dir, "events")
    counts = (
        bounded_out_of_orderness("ts", _DELAY_MS / 1000).apply(ev)
        .groupBy(F.window("ts", f"{_TOPK_WIN_MS // 1000} seconds"), "user_id")
        .agg(F.count("*").alias("cnt"))
        .select(
            F.unix_millis("window.start").alias("window_start"),
            F.unix_millis("window.end").alias("window_end"),
            "user_id",
            "cnt",
        )
    )
    closed = run_to_memory(counts, shuffle_partitions=8)
    w = Window.partitionBy("window_start").orderBy(F.col("cnt").desc(), F.col("user_id").asc())
    return closed.withColumn("rnk", F.row_number().over(w).cast("long")).where(
        F.col("rnk") <= _TOPK_K
    )


_CUSUM_MU_C, _CUSUM_H_C = 6000, 50000

_CUSUM_ORACLE = f"""
WITH d AS (
  SELECT user_id, ts, event_id, CAST(ROUND(value*100) AS BIGINT) - {_CUSUM_MU_C} AS d
  FROM events
),
c AS (
  SELECT user_id, ts, event_id,
         CAST(SUM(d) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS c
  FROM d
),
s AS (
  SELECT user_id, ts, event_id, c,
         CAST(MIN(c) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS minc,
         CAST(MAX(c) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS maxc
  FROM c
)
SELECT user_id, event_id, epoch_ms(ts) AS ts_ms,
       (c - LEAST(0, minc)) / 100.0 AS cusum_up,
       (GREATEST(0, maxc) - c) / 100.0 AS cusum_down,
       CASE WHEN c - LEAST(0, minc) > {_CUSUM_H_C}
             AND GREATEST(0, maxc) - c > {_CUSUM_H_C} THEN 'both'
            WHEN c - LEAST(0, minc) > {_CUSUM_H_C} THEN 'up'
            ELSE 'down' END AS direction
FROM s
WHERE c - LEAST(0, minc) > {_CUSUM_H_C} OR GREATEST(0, maxc) - c > {_CUSUM_H_C}
"""


@register(
    "streaming_cusum_drift",
    _CUSUM_ORACLE,
    "Streaming CUSUM change-point detection (Page 1954) as a custom "
    "stateful operator: per-user one-sided drift sums over (value - 60.00) "
    "emit a row when either side exceeds 500.00. Keyed state is THREE "
    "integers via the closed form S+ = C - min(0, running_min C); the "
    "exact-SQL oracle uses the same closed form as stacked windows.",
)
def streaming_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's user-defined stateful CoProcess surface
    (core/function.rs:256-272) exercised with REAL sequential semantics:
    unlike the windowed aggregates, CUSUM's recursion max(0, S + d) is
    order-dependent -- the closed form over the deviation cumsum makes
    the keyed state bounded (3 BIGINTs) and the cross-batch fold exact.
    Replayed in 2 ts-ordered chunks so state genuinely carries across
    micro-batches; availableNow drains to completion."""
    from rlink_rs_spark.streaming.runner import run_to_memory
    from rlink_rs_spark.streaming.sources import file_stream
    from rlink_rs_spark.streaming.stateful import cusum_drift

    src = file_stream(
        spark, sf_dir, "events", max_files_per_trigger=1, chunks=2, order_col="ts"
    )
    out = cusum_drift(src, mu0=_CUSUM_MU_C / 100.0, h=_CUSUM_H_C / 100.0)
    return run_to_memory(out, shuffle_partitions=8, output_mode="append")


from rlink_rs_spark.queries.relational import _TRANSITION_ORACLE  # noqa: E402


@register(
    "streaming_transition_matrix",
    _TRANSITION_ORACLE,  # shared with the batch twin: same matrix by construction
    "STREAMING twin of event_transition_matrix: per-user (from, to) "
    "transition pairs from a custom stateful operator whose keyed state "
    "is ONE string (the user's most recent event type); the boundary "
    "pair joining carried state to each batch's first event makes the "
    "drained pair stream exactly the batch LEAD sequence, so the count "
    "matrix shares that oracle. Replayed in 2 ts-ordered chunks; state "
    "is O(1) per key.",
)
def streaming_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The minimal sequential stateful operator (one carried record of
    state, vs CUSUM's numeric fold): LEAD-as-a-stream. The final count
    is a <= |types|^2 aggregate over the drained pairs."""
    from rlink_rs_spark.streaming.runner import run_to_memory
    from rlink_rs_spark.streaming.sources import file_stream
    from rlink_rs_spark.streaming.stateful import transition_pairs

    src = file_stream(
        spark, sf_dir, "events", max_files_per_trigger=1, chunks=2, order_col="ts"
    )
    pairs = run_to_memory(
        transition_pairs(src), shuffle_partitions=8, output_mode="append"
    )
    return pairs.groupBy("event_type", "next_type").agg(
        F.count(F.lit(1)).alias("cnt")
    )


_WD_SIZE_MS = 6 * 3_600_000  # mirror of windowed.window_distinct_users


@register(
    "streaming_window_distinct",
    f"""
    WITH assigned AS (
      SELECT (epoch_ms(ts) // {_WD_SIZE_MS}) * {_WD_SIZE_MS} AS ws, event_type, user_id
      FROM events
    ),
    level1 AS (
      SELECT ws, event_type, user_id, CAST(COUNT(*) AS BIGINT) AS n_events
      FROM assigned GROUP BY ws, event_type, user_id
    ),
    agg AS (
      SELECT ws AS window_start, ws + {_WD_SIZE_MS} AS window_end, event_type,
             CAST(COUNT(*) AS BIGINT) AS distinct_users,
             CAST(SUM(n_events) AS BIGINT) AS cnt
      FROM level1 GROUP BY ws, event_type
    )
    SELECT * FROM agg
    WHERE window_end <= (SELECT epoch_ms(MAX(ts)) - {_DELAY_MS} FROM events)
    """,
    "CHAINED STATEFUL streaming: exact windowed COUNT DISTINCT as two "
    "cascaded stateful aggregations in ONE streaming query (per-(window, "
    "key, user) counts feeding the per-(window, key) distinct/total "
    "rollup) -- Spark's multiple-stateful-operator support, the shape "
    "the reference's single-operator window state cannot compose "
    "(window_base_reduce.rs holds one fold per window-key). Oracle = "
    "the batch two-level SQL restricted to watermark-closed windows.",
)
def streaming_window_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both aggregation levels keep their own state store; append mode
    propagates level-1 emissions to level 2 when the watermark closes a
    window, so the final rows equal the batch twin on closed windows."""
    from rlink_rs_spark.streaming.runner import run_to_memory
    from rlink_rs_spark.streaming.sources import file_stream
    from rlink_rs_spark.streaming.watermarks import bounded_out_of_orderness

    ev = file_stream(spark, sf_dir, "events")
    size_s = _WD_SIZE_MS // 1000
    lvl1 = (
        bounded_out_of_orderness("ts", _DELAY_MS / 1000).apply(ev)
        .groupBy(F.window("ts", f"{size_s} seconds"), "event_type", "user_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
    )
    lvl2 = (
        lvl1.groupBy("window", "event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("distinct_users"),
            F.sum("n_events").cast("bigint").alias("cnt"),
        )
        .select(
            F.unix_millis("window.start").alias("window_start"),
            F.unix_millis("window.end").alias("window_end"),
            "event_type",
            "distinct_users",
            "cnt",
        )
    )
    return run_to_memory(lvl2, shuffle_partitions=8)


_LATE_MOD = 23  # plant ~4.3% of events as late arrivals (event_id % 23 == 0)
# 1h tumbling: the window is the DROP MECHANISM, not the deliverable (the
# report is per-key counts), so the coarsest window that still splits the
# late cohort into dropped-vs-aggregated halves keeps state ~30x smaller
# than 60s panes (720*|keys| groups at a month of fixture time).
_LATE_WIN_MS = 3_600_000

_LATE_REPORT_ORACLE = f"""
WITH e AS (
  SELECT epoch_ms(ts) AS tms, epoch_us(ts) AS tus, event_type, event_id,
         (event_id % {_LATE_MOD} = 0) AS is_late,
         ((epoch_ms(ts) // {_LATE_WIN_MS}) * {_LATE_WIN_MS} + {_LATE_WIN_MS}) AS we
  FROM events
), ot AS (
  SELECT tms, ROW_NUMBER() OVER (ORDER BY tus, event_id) AS rn,
         COUNT(*) OVER () AS n
  FROM e WHERE NOT is_late
), wm AS (
  -- The engine filters the late batch with the watermark of the batch
  -- BEFORE it (SPARK-40925): max event time of the first on-time chunk
  -- (rows 1..ceil(n/2) in (ts, event_id) order) minus the delay.
  SELECT (SELECT tms FROM ot WHERE rn = (n + 1) // 2) - {_DELAY_MS} AS wm_drop,
         (SELECT MAX(tms) FROM e) - {_DELAY_MS} AS wm_final
)
SELECT event_type,
       COUNT(*) FILTER (WHERE we <= wm_final
                          AND NOT (is_late AND we <= wm_drop)) AS kept_rows,
       COUNT(*) FILTER (WHERE we <= wm_final AND is_late
                          AND we > wm_drop) AS late_kept_rows,
       COUNT(*) FILTER (WHERE is_late AND we <= wm_drop) AS dropped_rows
FROM e, wm
GROUP BY event_type
"""


@register(
    "streaming_late_data_report",
    _LATE_REPORT_ORACLE,
    "Late-data drop accounting as a first-class report: replay events with "
    "a planted late cohort (event_id % 23 == 0 withheld until after the "
    "watermark passes), run the tumbling-window count under a 1s watermark, "
    "and emit per-key (kept, late-kept, dropped) counts. The dropped total "
    "is cross-checked against the engine's own numRowsDroppedByWatermark "
    "(ProgressCollector) and the query RAISES on mismatch, so the oracle "
    "row is a witness of engine drop behavior, not just of the SQL rule. "
    "Reference: Watermark_Expire drop counters, "
    "watermark_assigner_runnable.rs:92-110 / reduce_runnable.rs:88-106.",
)
def streaming_late_data_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed-agg late rows are dropped per WINDOW, not per row: a late
    row is dropped iff its 1h tumbling window end (_LATE_WIN_MS) <= the
    late-record filter watermark, which since SPARK-40925 is the PREVIOUS
    batch's watermark
    (here: max event time of the first on-time chunk minus delay -- the
    stager returns it). Emission (append mode) covers windows closed by
    the final watermark, which the late chunk itself may advance
    (EventTimeWatermarkExec observes input rows before the stateful
    operator filters them)."""
    from rlink_rs_spark.streaming.metrics import ProgressCollector
    from rlink_rs_spark.streaming.runner import run_to_memory
    from rlink_rs_spark.streaming.sources import (
        stage_stream_dir_with_late,
        stream_from_staged,
    )

    staged, filter_wm_src_ms = stage_stream_dir_with_late(sf_dir, "events", _LATE_MOD, 0)
    ev = stream_from_staged(spark, staged, sf_dir, "events", max_files_per_trigger=1)
    win_s = _LATE_WIN_MS // 1000
    agg = (
        ev.withWatermark("ts", f"{_DELAY_MS // 1000} seconds")
        .groupBy(F.window("ts", f"{win_s} seconds"), "event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("cnt"),
            F.sum((F.col("event_id") % _LATE_MOD == 0).cast("bigint"))
            .cast("bigint")
            .alias("late_cnt"),
        )
        .select(
            F.unix_millis("window.end").alias("window_end"),
            "event_type",
            "cnt",
            "late_cnt",
        )
    )
    collector = ProgressCollector()
    emitted = run_to_memory(agg, shuffle_partitions=8, listener=collector)

    kept = emitted.groupBy("event_type").agg(
        F.sum("cnt").cast("bigint").alias("kept_rows"),
        F.sum("late_cnt").cast("bigint").alias("late_kept_rows"),
    )

    # Per-key dropped counts from the deterministic watermark rule (the
    # engine metric is a per-batch total, not per key); the total is then
    # asserted equal to the engine's numRowsDroppedByWatermark below.
    events = load_table(spark, sf_dir, "events")
    wm_drop = filter_wm_src_ms - _DELAY_MS
    late_we = (
        F.floor(F.unix_millis("ts") / _LATE_WIN_MS) * _LATE_WIN_MS + _LATE_WIN_MS
    )
    dropped_src = (
        events.where(F.col("event_id") % _LATE_MOD == 0)
        .select("event_type", late_we.alias("we"))
        .where(F.col("we") <= F.lit(wm_drop))
    )
    dropped = dropped_src.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("dropped_rows")
    )
    # numRowsDroppedByWatermark counts rows AT THE STATE STORE, i.e. after
    # the map-side partial aggregation -- one row per dropped (window, key)
    # group, not per input record (verified empirically: sf0.1 plants 2169
    # late records in 1331 closed (window,key) groups and the engine
    # reports exactly 1331). The fixture-scale late chunk is one scan
    # partition, so partial rows == distinct groups exactly.
    expected_dropped = dropped_src.distinct().count()

    # run_to_memory drains the listener bus (terminated event observed)
    # before returning, so collector.progress is complete here -- the
    # engine metric can be read directly and hard-asserted rule == engine.
    metric_dropped = sum(p.get("droppedByWatermark", 0) for p in collector.progress)
    if metric_dropped != expected_dropped:
        raise AssertionError(
            "engine numRowsDroppedByWatermark "
            f"{metric_dropped} != watermark-rule prediction {expected_dropped} "
            f"dropped (window, key) groups (batches seen: {len(collector.progress)}). "
            "NOTE: exact equality assumes the staged late chunk lands in one "
            "scan partition (true at fixture scale, where the stager writes "
            "the late cohort as a single file); a multi-partition late chunk "
            "can legitimately produce partial rows > distinct groups."
        )

    return (
        kept.join(dropped, "event_type", "full_outer")
        .select(
            "event_type",
            F.coalesce("kept_rows", F.lit(0)).cast("bigint").alias("kept_rows"),
            F.coalesce("late_kept_rows", F.lit(0)).cast("bigint").alias("late_kept_rows"),
            F.coalesce("dropped_rows", F.lit(0)).cast("bigint").alias("dropped_rows"),
        )
    )


# ---------------------------------------------------------------------------
# example-connect end-to-end parity (VERDICT r13 #5)

_APP_WIN_MS = 60_000  # SlidingEventTimeWindows::new(60s, 60s) -- app.rs:60-64


def _example_connect_oracle() -> str:
    from rlink_rs_spark.functions.percentile import bucket_case_sql

    return f"""
WITH assigned AS (
  SELECT (epoch_ms(ts) // {_APP_WIN_MS}) * {_APP_WIN_MS} AS ws, event_type, value
  FROM events
  WHERE (epoch_ms(ts) // {_APP_WIN_MS}) * {_APP_WIN_MS} + {_APP_WIN_MS}
        <= (SELECT epoch_ms(MAX(ts)) - {_DELAY_MS} FROM events)
), cfg AS (
  SELECT DISTINCT event_type, 'cfg-' || event_type AS cfield FROM events
), bucketed AS (
  SELECT c.cfield, a.ws, {bucket_case_sql('a.value')} AS bucket,
         CAST(ROUND(a.value * 100) AS BIGINT) AS cents
  FROM assigned a JOIN cfg c ON a.event_type = c.event_type
), counts AS (
  SELECT cfield, ws, bucket, COUNT(*) AS c, SUM(cents) AS sc
  FROM bucketed GROUP BY cfield, ws, bucket
), ranked AS (
  SELECT *, SUM(c) OVER (PARTITION BY cfield, ws ORDER BY bucket DESC
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS scanned,
            SUM(c) OVER (PARTITION BY cfield, ws) AS n
  FROM counts
)
SELECT cfield || ':' || CAST(ws AS VARCHAR) AS field,
       CAST(SUM(sc) AS BIGINT) AS value,
       CAST(MAX(CASE WHEN scanned >= GREATEST(CAST(1 AS BIGINT), LEAST(n,
              CAST(FLOOR(n * 0.01) AS BIGINT))) THEN bucket END) AS BIGINT) AS pct_99,
       CAST(MAX(CASE WHEN scanned >= GREATEST(CAST(1 AS BIGINT), LEAST(n,
              CAST(FLOOR(n * 0.1) AS BIGINT))) THEN bucket END) AS BIGINT) AS pct_90
FROM ranked GROUP BY ws, cfield
"""


@register(
    "example_connect_app_parity",
    _example_connect_oracle(),
    "The reference's example-connect application run end-to-end as ONE "
    "Structured Streaming query (example/example-connect/src/app.rs:35-136): "
    "model stream -> bounded-out-of-orderness watermark -> connect(Broadcast "
    "config) enrichment -> key_by(name) -> 60s event-time window -> "
    "reduce[sum(value), pct(value, scale)] -> OutputMapFunction decode to "
    "Output(field, value, pct_99, pct_90) (map_output.rs:31-51) -> sink. "
    "The pct accumulator rides the window state SPARSELY: a first "
    "stateful aggregation keeps (window, key, bucket) count+sum rows "
    "(only OCCUPIED buckets -- 60s windows hold ~1 event each, so a "
    "dense |scale|-wide vector would be ~90x dead state; measured 12.4s "
    "-> 5.8s at sf0.1), and a CHAINED window aggregation (Spark's "
    "multiple-stateful-operator support, window_time) merges them per "
    "(window, key) -- exactly the reference's accumulate-then-merge "
    "(PercentileWriter counts, percentile/mod.rs:59-122). The decode "
    "(get_result's top-down boundary walk, mod.rs:171-210) is a "
    "stateless higher-order-function fold inside the SAME streaming "
    "plan, so sink rows are already Output entities. The second "
    "connect's CoProcess passes data rows through and emits nothing for "
    "config rows (co_connect.rs:25-35) -- a behavioral no-op on the "
    "data path, documented rather than materialized.",
)
def example_connect_app_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rlink_rs_spark.streaming.runner import run_to_memory
    from rlink_rs_spark.streaming.sources import file_stream

    ev = file_stream(spark, sf_dir, "events")
    return run_to_memory(
        example_connect_plan(spark, sf_dir, ev), shuffle_partitions=8
    )


def example_connect_plan(spark: SparkSession, sf_dir: str, ev: DataFrame) -> DataFrame:
    """The full example-connect plan over a given event stream `ev` --
    split from the registry entry so the kill/resume witness can drive
    the SAME chained-stateful plan through a chunked replay + checkpoint
    restart (tests/test_streaming.py)."""
    from rlink_rs_spark.functions.percentile import bucket_column
    from rlink_rs_spark.operators.joins import broadcast_enrich
    # ConfigInputFormat("Broadcast") analogue: a small config dimension
    # (field label per key), broadcast to every task -- the CoProcess
    # consumes config records and passes data records through enriched.
    cfg = (
        load_table(spark, sf_dir, "events")
        .select("event_type")
        .distinct()
        .select(
            "event_type",
            F.concat(F.lit("cfg-"), F.col("event_type")).alias("cfield"),
        )
    )

    bucketed = broadcast_enrich(
        ev.withWatermark("ts", f"{_DELAY_MS // 1000} seconds"),
        cfg,
        on="event_type",
        how="inner",
    ).select(
        "cfield",
        "ts",
        bucket_column("value").alias("__bucket"),
        F.round(F.col("value") * 100).cast("long").alias("__cents"),
    )

    # accumulate: sparse bucket counters, map-side combined; state rows =
    # occupied (window, key, bucket) triples only
    win = f"{_APP_WIN_MS // 1000} seconds"
    counts = bucketed.groupBy(F.window("ts", win), "cfield", "__bucket").agg(
        F.count(F.lit(1)).alias("__c"), F.sum("__cents").alias("__sc")
    )
    # merge: chained event-time window aggregation folds the bucket rows
    # into one Output-shaped row per (window, key)
    merged = (
        counts.groupBy(F.window(F.window_time("window"), win), "cfield")
        .agg(
            F.sum("__sc").alias("value"),
            F.sum("__c").alias("__n"),
            F.collect_list(
                F.struct(F.col("__bucket").alias("b"), F.col("__c").alias("c"))
            ).alias("__h"),
        )
        .select(
            F.concat_ws(
                ":", "cfield", F.unix_millis("window.start").cast("string")
            ).alias("field"),
            F.col("value").cast("long").alias("value"),
            F.col("__n"),
            # descending bucket order for the top-down walk (array_sort
            # orders struct arrays by their first field, the boundary)
            F.reverse(F.array_sort("__h")).alias("__hs"),
        )
    )

    # OutputMapFunction decode, in-plan and stateless: walk buckets from
    # the top accumulating counts; first bucket reaching the target rank
    # yields its boundary (get_result). One F.aggregate fold per
    # percentile -- JVM-side, no Python.
    def pct_col(p: int):
        target = F.greatest(
            F.lit(1).cast("long"),
            F.least(
                F.col("__n"),
                F.floor(F.col("__n") * F.lit((100 - p) / 100.0)).cast("long"),
            ),
        )
        acc0 = F.struct(
            F.lit(0).cast("long").alias("running"),
            F.lit(None).cast("double").alias("ans"),
        )
        return F.aggregate(
            F.col("__hs"),
            acc0,
            lambda acc, x: F.struct(
                (acc["running"] + x["c"]).alias("running"),
                F.when(
                    acc["ans"].isNull() & ((acc["running"] + x["c"]) >= target),
                    x["b"],
                )
                .otherwise(acc["ans"])
                .alias("ans"),
            ),
            lambda acc: acc["ans"],
        ).cast("long").alias(f"pct_{p}")

    return merged.select("field", "value", pct_col(99), pct_col(90))


# ---------------------------------------------------------------------------
# idle-source keep-alive mitigation (VERDICT r13 #4)

_IDLE_WIN_MS = 60_000

_IDLE_ORACLE = f"""
WITH cut AS (
  SELECT epoch_ms(MIN(ts)) + (epoch_ms(MAX(ts)) - epoch_ms(MIN(ts))) // 2 AS c
  FROM events
), live_wm AS (
  SELECT MAX(epoch_ms(ts)) - {_DELAY_MS} AS wm FROM events WHERE user_id % 2 = 1
), src AS (
  SELECT event_type, epoch_ms(ts) AS ems FROM events WHERE user_id % 2 = 1
  UNION ALL
  SELECT event_type, epoch_ms(ts) AS ems FROM events, cut
  WHERE user_id % 2 = 0 AND epoch_ms(ts) <= cut.c
)
SELECT (ems // {_IDLE_WIN_MS}) * {_IDLE_WIN_MS} + {_IDLE_WIN_MS} AS window_end,
       event_type, COUNT(*) AS cnt
FROM src, live_wm
WHERE (ems // {_IDLE_WIN_MS}) * {_IDLE_WIN_MS} + {_IDLE_WIN_MS} <= live_wm.wm
GROUP BY 1, 2
"""


@register(
    "streaming_idle_source_heartbeat",
    _IDLE_ORACLE,
    "WatermarksWithIdleness mitigation, oracled end-to-end "
    "(watermarks_with_idleness.rs:27-81): source A stops producing halfway "
    "through event time while source B runs on; under Spark's default "
    "multipleWatermarkPolicy=min the idle source would pin the global "
    "watermark at its horizon forever (witness: "
    "test_idle_source_watermark_policy). keep_alive_union injects "
    "sentinel heartbeat rows into A BEFORE its watermark node, so A's "
    "watermark keeps advancing, the min watermark tracks the LIVE "
    "source, and windows past the idle horizon finalize -- the query "
    "RAISES if no window past A's horizon was emitted, so the oracle row "
    "is a witness of the mitigation working in the engine, not just of "
    "the SQL rule. Heartbeat groups are stripped after the stateful "
    "operator (strip_heartbeats), never before the watermark scan.",
)
def streaming_idle_source_heartbeat(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rlink_rs_spark.streaming.runner import run_to_memory
    from rlink_rs_spark.streaming.sources import file_stream, heartbeat_stream
    from rlink_rs_spark.streaming.watermarks import (
        bounded_out_of_orderness,
        keep_alive_union,
        strip_heartbeats,
        with_idleness,
    )

    events = load_table(spark, sf_dir, "events")
    lo, hi = events.agg(
        F.unix_millis(F.min("ts")), F.unix_millis(F.max("ts"))
    ).collect()[0]
    cutoff_ms = lo + (hi - lo) // 2

    strategy = with_idleness(
        bounded_out_of_orderness("ts", _DELAY_MS / 1000), idle_timeout_seconds=60.0
    )

    # source A: goes idle (event-time) halfway through; heartbeats keep its
    # watermark advancing to the global horizon. One heartbeat per hour
    # plus a final one at the horizon -- periodic keep-alive, as the
    # reference's idleness timer would observe it.
    a_raw = file_stream(spark, sf_dir, "events").where(
        (F.col("user_id") % 2 == 0) & (F.unix_millis("ts") <= F.lit(cutoff_ms))
    )
    hb_ts = list(range(cutoff_ms, hi, 3_600_000)) + [hi]
    hb = heartbeat_stream(spark, sf_dir, "events", hb_ts, key_col="event_type")
    a = keep_alive_union(a_raw, hb, strategy)

    # source B: live to the end; its own watermark node.
    b = strategy.apply(
        file_stream(spark, sf_dir, "events").where(F.col("user_id") % 2 == 1)
    )

    agg = (
        a.unionByName(b)
        .groupBy(F.window("ts", f"{_IDLE_WIN_MS // 1000} seconds"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.unix_millis("window.end").alias("window_end"), "event_type", "cnt"
        )
    )
    emitted = run_to_memory(agg, shuffle_partitions=8)

    # Engine-behavior witness: without the keep-alive union, min-policy
    # closure stops at A's idle horizon (first window past cutoff).
    max_closed = emitted.agg(F.max("window_end")).collect()[0][0] or 0
    if max_closed <= cutoff_ms + _IDLE_WIN_MS:
        raise AssertionError(
            f"idle-source mitigation ineffective: max closed window_end "
            f"{max_closed} never passed the idle horizon {cutoff_ms} -- the "
            "heartbeat union did not advance source A's watermark"
        )

    return strip_heartbeats(emitted, "event_type")


# ---------------------------------------------------------------------------
# example-kafka app end-to-end (VERDICT r14 #3)

_KAFKA_PARTS = 3  # source_properties.set_u16("parallelism", 3), app.rs:113
# Begin offsets are the reference's EXACT per-partition values
# (gen_kafka_offset_range, example-kafka/src/app.rs:211-235). Its end
# offsets (137/84/94) would replay only ~45 rows; widened to begin+149
# (inclusive, consumer.rs:84 drops only when end_offset < offset) so the
# windowed agg is non-trivial at sf0.001 while both bounds still BIND at
# every fixture scale (min partition size ~333 rows at sf0.001).
_KAFKA_BEGIN = {0: 121, 1: 71, 2: 78}
_KAFKA_END = {0: 270, 1: 220, 2: 227}

_EK_PART_IN = (
    "CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 9, 8))::BIGINT "
    f"% {_KAFKA_PARTS} AS INTEGER)"
)
_EK_RANGE = " OR ".join(
    f"(p = {p} AND o >= {_KAFKA_BEGIN[p]} AND o <= {_KAFKA_END[p]})"
    for p in _KAFKA_BEGIN
)

_EXAMPLE_KAFKA_ORACLE = f"""
WITH env AS (
  SELECT {_EK_PART_IN} AS p,
         ROW_NUMBER() OVER (PARTITION BY {_EK_PART_IN} ORDER BY event_id) - 1 AS o,
         epoch_ms(ts) AS tms, event_type AS name,
         CAST(ROUND(value * 100) AS BIGINT) AS v
  FROM events
), sel AS (
  SELECT * FROM env WHERE {_EK_RANGE}
), assigned AS (
  SELECT (tms // 20000) * 20000 - k.k * 20000 AS ws, sel.*
  FROM sel CROSS JOIN range(3) k(k)
), agg AS (
  SELECT ws, ws + 60000 AS we, name, CAST(SUM(v) AS BIGINT) AS sum_value
  FROM assigned GROUP BY ws, name
), closed AS (
  SELECT * FROM agg
  WHERE we <= (SELECT MAX(tms) - {_DELAY_MS} FROM sel)
)
SELECT CAST(('0x' || substr(md5(name || ':' || CAST(ws AS VARCHAR)), 9, 8))::BIGINT
            % {_KAFKA_PARTS} AS INTEGER) AS partition,
       name || ':' || CAST(ws AS VARCHAR) AS key,
       we AS window_end, name, sum_value
FROM closed
"""


def example_kafka_plan(spark: SparkSession, envelope_stream: DataFrame) -> DataFrame:
    """The KafkaReplayAppStream dataflow over a given Kafka-envelope stream,
    as ONE streaming plan ending in an OUTPUT envelope (pre-sink), split
    from the registry entry so the kill/resume witness can drive the same
    plan through a chunked replay + checkpoint restart.

    InputMapperFunction (example-kafka/src/input_mapper.rs:1-49): payload
    JSON -> Model(timestamp, name, value) via from_json -- Model.value is
    i64 (example-utils/build.rs), carried as long cents. Then the app
    chain (app.rs:190-208): bounded-out-of-orderness 1s watermark ->
    key_by(name) -> SlidingEventTimeWindows(60s, 20s) -> reduce(sum(value)).
    OutputMapperFunction (output_mapper.rs:1-57): Model -> kafka_message
    envelope with a to_json SerDeEntity payload. Two deliberate,
    oracle-forced divergences from output_mapper.rs, both cited: the
    reference keys output records with uuid4 and stamps wall-clock millis
    -- neither is reproducible -- so the key is the deterministic
    'name:window_start' identity (still unique per output row, the only
    property the uuid provides) and the payload timestamp is window_end
    (the event-time instant the emission represents under watermark
    semantics)."""
    from pyspark.sql import types as T

    from rlink_rs_spark.sources.loopback import to_envelope

    payload_schema = T.StructType(
        [
            T.StructField("timestamp", T.LongType()),
            T.StructField("name", T.StringType()),
            T.StructField("value", T.LongType()),
        ]
    )
    model = envelope_stream.select(
        F.from_json(F.col("value").cast("string"), payload_schema).alias("m")
    ).select(
        F.timestamp_millis(F.col("m.timestamp")).alias("ts"),
        F.col("m.name").alias("name"),
        F.col("m.value").alias("value"),
    )
    agg = (
        model.withWatermark("ts", f"{_DELAY_MS // 1000} seconds")
        .groupBy(F.window("ts", "60 seconds", "20 seconds"), "name")
        .agg(F.sum("value").alias("sum_value"))
    )
    shaped = agg.select(
        F.concat_ws(
            ":", "name", F.unix_millis("window.start").cast("string")
        ).alias("out_key"),
        F.to_json(
            F.struct(
                F.unix_millis("window.end").alias("timestamp"),
                F.col("name").alias("name"),
                F.col("sum_value").alias("value"),
            )
        ).alias("payload"),
        F.timestamp_millis(F.unix_millis("window.end")).alias("we_ts"),
    )
    return to_envelope(
        shaped,
        key_col="out_key",
        value_col=F.col("payload"),
        topic="rlink-test-out",
        n_partitions=_KAFKA_PARTS,
        ts_col="we_ts",
        order_col="out_key",
        assign_offset=False,  # streaming: publish_stream ranks per batch
    )


@register(
    "example_kafka_app_parity",
    _EXAMPLE_KAFKA_ORACLE,
    "The reference's example-kafka application composed end-to-end as ONE "
    "streaming pipeline (KafkaReplayAppStream + the gen/sink halves, "
    "example/example-kafka/src/app.rs:40-235): events produced into a "
    "loopback topic as kafka_message envelopes (deterministic md5 "
    "partitioner, 3 partitions, rank offsets), consumed with the Direct "
    "OffsetRange seek -- the reference's exact begin offsets 121/71/78 "
    "per partition plus inclusive ends (offset_range.rs; consumer.rs:84) "
    "-> InputMapperFunction from_json payload->Model -> 1s "
    "bounded-out-of-orderness watermark -> key_by(name) -> sliding "
    "60s/20s window -> reduce(sum(value)) -> OutputMapperFunction "
    "Model->envelope to_json -> foreachBatch producer sink "
    "(KafkaOutputFormat seam) into a second topic, then the OUTPUT topic "
    "is read back and payload-decoded. The oracle reproduces the "
    "partitioner, offset ranks, the begin/end seek filter, the sliding "
    "window sum over watermark-closed windows, and the output envelope's "
    "key/partition assignment -- so a hash match witnesses the whole "
    "produce->seek->parse->window->encode->produce loop. Output offsets "
    "are excluded by design: the producer ranks within each micro-batch "
    "(at-least-once, like a real non-idempotent producer), so they "
    "depend on batch boundaries; offset determinism is oracled "
    "separately by kafka_loopback_seek.",
)
def example_kafka_app_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from pyspark.sql import types as T

    from rlink_rs_spark.sources.loopback import (
        KAFKA_SCHEMA,
        publish,
        publish_stream,
        subscribe,
        to_envelope,
    )
    from rlink_rs_spark.streaming.runner import drain

    # KafkaGenAppStream half (app.rs:40-86): model rows -> JSON payload
    # envelope -> producer. Keyed by event_id (the reference keys with
    # uuid4, output_mapper.rs:41 -- non-reproducible; event_id is the
    # deterministic unique identity).
    events = load_table(spark, sf_dir, "events")
    in_env = to_envelope(
        events,
        key_col="event_id",
        value_col=F.to_json(
            F.struct(
                F.unix_millis("ts").alias("timestamp"),
                F.col("event_type").alias("name"),
                F.round(F.col("value") * 100).cast("long").alias("value"),
            )
        ),
        topic="rlink-test",
        n_partitions=_KAFKA_PARTS,
        ts_col="ts",
        order_col="event_id",
    )
    topic_dir = tempfile.mkdtemp(prefix="rlink_ekafka_in_")
    publish(in_env, topic_dir)

    # KafkaReplayAppStream half: Direct offset-range seek -> app plan ->
    # foreachBatch producer into the output topic.
    src = subscribe(
        spark, topic_dir, starting_offsets=_KAFKA_BEGIN, ending_offsets=_KAFKA_END
    )
    out_env = example_kafka_plan(spark, src)
    out_dir = tempfile.mkdtemp(prefix="rlink_ekafka_out_")
    ck = tempfile.mkdtemp(prefix="rlink_ekafka_ck_")
    drain(
        spark,
        lambda: publish_stream(out_env, out_dir, ck),
        "example-kafka replay",
        shuffle_partitions=8,
    )

    out_payload = T.StructType(
        [
            T.StructField("timestamp", T.LongType()),
            T.StructField("name", T.StringType()),
            T.StructField("value", T.LongType()),
        ]
    )
    return (
        spark.read.schema(KAFKA_SCHEMA)
        .parquet(out_dir)
        .select(
            "partition",
            F.col("key").cast("string").alias("key"),
            F.from_json(F.col("value").cast("string"), out_payload).alias("p"),
        )
        .select(
            "partition",
            "key",
            F.col("p.timestamp").alias("window_end"),
            F.col("p.name").alias("name"),
            F.col("p.value").alias("sum_value"),
        )
    )
