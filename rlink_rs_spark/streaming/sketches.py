"""Streaming KMV distinct-count sketch -- the streaming twin of
queries/stats.approx_distinct_users.

The KMV sketch (Bar-Yossef et al. 2002) is MERGEABLE EXACTLY: the K
smallest distinct hashes of (prefix UNION batch) equal the K smallest of
(kept-K(prefix) UNION batch), because everything a prefix discarded is
larger than its kth smallest, and the kth smallest only decreases as the
stream grows. So the keyed streaming state is the sketch itself -- at most
K hash values per group plus one running row count -- CONSTANT in stream
length, and the drained estimate is row-identical to the batch query over
the same rows regardless of arrival order or partitioning (deterministic
md5-derived hashes). This is the property HLL shares in principle but not
in any engine-portable way; KMV's merge is plain distinct-union + top-K.

Epoch protocol: streaming/deltas.py (one commit covers `hashes/` and `counts/`).

Reference parity: the reference's only approx aggregate is the histogram
pct (functions/percentile/mod.rs:1-222); a distinct sketch would live in
the same ReduceFunction fold slot (core/function.rs:224-237). Here the
fold is one distinct-union + rank window per micro-batch.

100 TB path: per micro-batch the sketch work is one groupBy on
(group, h) over the BATCH only (map-side combined), then a merge window
over at most |groups| * (K + batch-distinct) rows; the standing corpus is
never rescanned and state is O(|groups| * K) rows total.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from rlink_rs_spark.streaming import deltas

_HASH_SCHEMA = "event_type string, h bigint"
_COUNT_SCHEMA = "event_type string, cnt bigint"


def _kmv_hash(col: str) -> F.Column:
    """60-bit md5-derived hash -- the exact expression the batch twin and
    its DuckDB oracle use (operators/aggregations.kmv_distinct_sketch)."""
    return F.conv(F.substring(F.md5(F.col(col).cast("string")), 1, 15), 16, 10).cast(
        "long"
    )


def streaming_kmv_sink(
    stream: DataFrame,
    group_col: str,
    value_col: str,
    work_dir: str,
    checkpoint: str,
    k: int = 1024,
):
    """foreachBatch sink maintaining the per-group KMV sketch across
    micro-batches. State per epoch: `hashes` (<= K smallest distinct
    hashes per group) and `counts` (one running row count per group).
    Returns the started StreamingQuery."""
    spark = stream.sparkSession

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        batch = batch_df.select(
            F.col(group_col).alias("event_type"), _kmv_hash(value_col).alias("h")
        )
        prev = deltas.latest_committed(work_dir, epoch_id)
        counts = (
            batch.groupBy("event_type")
            .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
            .unionByName(
                deltas.read_committed(spark, work_dir, "counts", _COUNT_SCHEMA, prev)
            )
            .groupBy("event_type")
            .agg(F.sum("cnt").cast("bigint").alias("cnt"))
        )
        hashes = batch.unionByName(
            deltas.read_committed(spark, work_dir, "hashes", _HASH_SCHEMA, prev)
        ).distinct()
        w = Window.partitionBy("event_type").orderBy("h")
        merged = (
            hashes.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= k)
            .drop("rn")
        )
        counts.write.mode("overwrite").parquet(
            deltas.epoch_dir(work_dir, "counts", epoch_id)
        )
        merged.write.mode("overwrite").parquet(
            deltas.epoch_dir(work_dir, "hashes", epoch_id)
        )
        deltas.commit_epoch(work_dir, epoch_id)

    return deltas.start_epoch_sink(stream, handle, checkpoint)


def read_kmv_estimate(spark: SparkSession, work_dir: str, k: int = 1024) -> DataFrame:
    """Drain the newest committed sketch into the batch twin's output shape
    (event_type, approx_users, cnt)."""
    last = deltas.latest_committed(work_dir)
    hashes = deltas.read_committed(spark, work_dir, "hashes", _HASH_SCHEMA, last)
    counts = deltas.read_committed(spark, work_dir, "counts", _COUNT_SCHEMA, last)
    two60 = 1 << 60
    sk = hashes.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_small"), F.max("h").alias("kth")
    )
    est = F.floor(
        F.lit(float(k - 1)) * F.lit(float(two60)) / F.col("kth").cast("double")
    ).cast("long")
    return sk.join(counts, "event_type").select(
        "event_type",
        F.when(F.col("n_small") < k, F.col("n_small").cast("bigint"))
        .otherwise(est)
        .alias("approx_users"),
        "cnt",
    )


_CMS_SCHEMA = "r int, b bigint, c bigint"


def streaming_cms_sink(
    stream: DataFrame,
    bucket_expr: str,
    d: int,
    work_dir: str,
    checkpoint: str,
):
    """foreachBatch sink maintaining count-min counters across micro-batches.
    The CMS merge is counter ADDITION -- exactly associative BIGINT sums --
    so the carried state is the fixed d x w counter table itself and the
    drained sketch is bit-equal to the batch fold over the same rows.
    `bucket_expr` is the Spark SQL bucket expression shared verbatim with
    the batch query and its DuckDB oracle."""
    spark = stream.sparkSession

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        rows = spark.range(d).select(F.col("id").cast("int").alias("r"))
        delta = (
            batch_df.crossJoin(F.broadcast(rows))
            .groupBy("r", F.expr(bucket_expr).alias("b"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        )
        prev = deltas.read_committed(
            spark, work_dir, "counters", _CMS_SCHEMA,
            deltas.latest_committed(work_dir, epoch_id),
        )
        merged = (
            delta.unionByName(prev)
            .groupBy("r", "b")
            .agg(F.sum("c").cast("bigint").alias("c"))
        )
        merged.write.mode("overwrite").parquet(
            deltas.epoch_dir(work_dir, "counters", epoch_id)
        )
        deltas.commit_epoch(work_dir, epoch_id)

    return deltas.start_epoch_sink(stream, handle, checkpoint)


def read_cms_counters(spark: SparkSession, work_dir: str) -> DataFrame:
    """Drain the newest committed counter table (r, b, c)."""
    return deltas.read_committed(
        spark, work_dir, "counters", _CMS_SCHEMA, deltas.latest_committed(work_dir)
    )
