"""Streaming materialized-view maintenance -- the streaming twin of
queries/analytics.incremental_daily_rollup.

The daily rollup is kept in MERGEABLE-CARRIER form (count, sum-cents,
max, min), so maintaining it under a stream is the same algebra as the
batch incremental merge: per micro-batch, aggregate the BATCH ONLY and
re-aggregate against the carried view on the <= days x types summary
table. State is the view itself -- bounded by the key space, constant in
stream length -- and the drained view equals the batch rollup over the
same rows, so it shares that DuckDB oracle.

Epoch protocol: streaming/deltas.py (the view after epoch N in `view/batch_id=N`).

Reference parity: this is the reference's incremental window reduce
(window_base_reduce.rs:84-101) generalized to a persistent, queryable
view instead of per-window transient state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rlink_rs_spark.streaming import deltas

_VIEW_SCHEMA = "day bigint, event_type string, n bigint, sc bigint, mx double, mn double"
_DAY_MS = 86_400_000


def _batch_rollup(df: DataFrame) -> DataFrame:
    return df.groupBy(
        F.expr(f"CAST(unix_millis(ts) div {_DAY_MS} AS BIGINT)").alias("day"),
        "event_type",
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.expr("CAST(ROUND(value*100) AS BIGINT)")).cast("bigint").alias("sc"),
        F.max("value").alias("mx"),
        F.min("value").alias("mn"),
    )


def streaming_rollup_sink(stream: DataFrame, work_dir: str, checkpoint: str):
    """foreachBatch sink folding each micro-batch's daily rollup into the
    carried view. Returns the started StreamingQuery."""
    spark = stream.sparkSession

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        prev = deltas.read_committed(
            spark, work_dir, "view", _VIEW_SCHEMA,
            deltas.latest_committed(work_dir, epoch_id),
        )
        merged = _batch_rollup(batch_df).unionByName(prev).groupBy("day", "event_type").agg(
            F.sum("n").cast("bigint").alias("n"),
            F.sum("sc").cast("bigint").alias("sc"),
            F.max("mx").alias("mx"),
            F.min("mn").alias("mn"),
        )
        merged.write.mode("overwrite").parquet(
            deltas.epoch_dir(work_dir, "view", epoch_id)
        )
        deltas.commit_epoch(work_dir, epoch_id)

    return deltas.start_epoch_sink(stream, handle, checkpoint)


def read_rollup_view(spark: SparkSession, work_dir: str) -> DataFrame:
    """Drain the newest committed view into the batch twin's output shape."""
    view = deltas.read_committed(
        spark, work_dir, "view", _VIEW_SCHEMA, deltas.latest_committed(work_dir)
    )
    return view.select(
        (F.col("day") * _DAY_MS).alias("day_start_ms"),
        "event_type",
        F.col("n").alias("cnt"),
        (F.col("sc") / 100.0).alias("sum_value"),
        F.col("mx").alias("max_value"),
        F.col("mn").alias("min_value"),
    )
