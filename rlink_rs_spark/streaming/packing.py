"""Streaming sequence packing -- the streaming twin of
queries/pipeline_ops.pack_sequences, via the carrier-state pattern
(streaming/rollup.py): the only cross-batch state the greedy
concat-and-chop pack needs is ONE running token total per language.

Per micro-batch: compute the batch-local per-lang prefix sum with the
SAME distributed helper the batch twin uses
(operators/ranking.with_group_prefix_sum), offset it by the carried
per-lang totals (a broadcast <= #langs-row table), emit each doc's bin
assignment as an epoch delta, and commit the updated totals as the
epoch's state. Chunks replay in doc_id order, so carried-total +
within-batch prefix equals the global per-lang cumsum and the drained
(lang, bin) aggregate hash-matches the batch oracle.

Epoch protocol: streaming/deltas.py (one commit covers `deltas/` and
`state/`). State is O(#langs), constant in stream length.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rlink_rs_spark.streaming import deltas

_STATE_SCHEMA = "lang string, total bigint"
_DELTA_SCHEMA = "doc_id bigint, lang string, n bigint, bin bigint"


def streaming_pack_sink(
    doc_stream: DataFrame, work_dir: str, checkpoint: str, ctx_len: int
):
    """foreachBatch sink assigning each arriving doc its training-context
    bin from the carried per-lang token totals. Returns the started
    StreamingQuery."""
    from rlink_rs_spark.operators.ranking import with_group_prefix_sum

    spark = doc_stream.sparkSession

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        sized = batch_df.select(
            "doc_id", "lang", F.size(F.split("text", " ")).cast("long").alias("n")
        )
        if sized.isEmpty():
            return
        carried = deltas.read_committed(
            spark, work_dir, "state", _STATE_SCHEMA,
            deltas.latest_committed(work_dir, epoch_id),
        )
        cum = with_group_prefix_sum(sized, ["lang"], [F.col("doc_id")], "n")
        offset = cum.join(F.broadcast(carried), "lang", "left").fillna(
            0, subset=["total"]
        )
        assigned = offset.select(
            "doc_id", "lang", "n",
            F.floor(
                (F.col("total") + F.col("_gcum") - F.col("n")) / float(ctx_len)
            ).cast("bigint").alias("bin"),
        )
        assigned.write.mode("overwrite").parquet(
            deltas.epoch_dir(work_dir, "deltas", epoch_id)
        )
        new_state = (
            carried.unionByName(
                sized.groupBy("lang").agg(F.sum("n").cast("bigint").alias("total"))
            )
            .groupBy("lang")
            .agg(F.sum("total").cast("bigint").alias("total"))
        )
        new_state.write.mode("overwrite").parquet(
            deltas.epoch_dir(work_dir, "state", epoch_id)
        )
        deltas.commit_epoch(work_dir, epoch_id)

    return deltas.start_epoch_sink(doc_stream, handle, checkpoint)


def read_packed_bins(spark: SparkSession, work_dir: str) -> DataFrame:
    """Drain: aggregate the per-doc assignments into the batch twin's
    (lang, bin, n_docs, total_tokens) shape."""
    assigned = deltas.read_committed(
        spark, work_dir, "deltas", _DELTA_SCHEMA, deltas.committed_epochs(work_dir)
    )
    return assigned.groupBy("lang", "bin").agg(
        F.count("*").alias("n_docs"), F.sum("n").alias("total_tokens")
    )
