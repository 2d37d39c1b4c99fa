"""Streaming full-text index maintenance -- the BM25 twin of the IVF
index-add path (streaming/ann.py): documents arrive as a stream and are
ADDED to a standing (doc_id, term, tf) posting table.

Per micro-batch the handler tokenizes and tf-aggregates ITS OWN rows
only (one map-side-combined shuffle over the batch, never the corpus)
and appends the delta as `<state>/batch_id=N` -- docs are disjoint
across epochs, so per-(doc, term) rows are immutable and the union of
committed deltas IS the index. Per-epoch overwrite commits make crash
replays byte-identical: exactly-once.

Corpus-level statistics (df, doc-length totals) are derived from the
drained index at query time here; the delta dirs fold into a base
periodically (the shared LSM compaction in streaming/deltas.py, on by
default here with compact_every=8), and at 100 TB production
additionally maintains df/totals as mergeable carriers (the
streaming/rollup.py fold) so scoring never rescans the posting table.

Reference parity: the reference has no search surface; this extends the
repo's BM25 operator (queries/search.py, SURVEY §2 extras) with the
continuous-ingest shape a production search index runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from rlink_rs_spark.streaming.deltas import delta_sink, read_deltas

_TF_SCHEMA = "doc_id bigint, term string, tf bigint"


def streaming_bm25_index_sink(
    doc_stream: DataFrame,
    state_dir: str,
    checkpoint: str,
    compact_every: int = 8,
):
    """foreachBatch sink appending per-epoch (doc_id, term, tf) deltas,
    folded into a base every `compact_every` epochs. Returns the started
    StreamingQuery."""
    from rlink_rs_spark.queries.search import corpus_tf

    return delta_sink(
        doc_stream,
        corpus_tf,
        state_dir,
        checkpoint,
        schema=_TF_SCHEMA,
        compact_every=compact_every,
    )


def read_posting_table(spark: SparkSession, state_dir: str) -> DataFrame:
    """The full index: newest committed base + committed deltas above it."""
    return read_deltas(spark, state_dir, _TF_SCHEMA)
