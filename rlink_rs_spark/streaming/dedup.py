"""Streaming deduplication, two faces:

1. `dedup_stream` -- exact row dedup for at-least-once ingest. The
   reference offers only at-least-once delivery (SURVEY §2.8: its
   checkpoint scheme acks "completed checkpoint id" and replays from
   there, rlink/src/runtime/worker/checkpoint.rs), so any consumer
   downstream of a restart sees duplicates. Spark's keyed dedup state
   makes the stream exactly-once-per-key: `dropDuplicatesWithinWatermark`
   keeps one state row per key for at least the watermark delay, then
   evicts -- bounded state at 100 TB, versus `dropDuplicates` whose state
   grows forever.

2. `streaming_incremental_dedup_sink` -- admit a STREAM of documents
   against a persisted corpus LSH band index.

The reference is a streaming engine (rlink/src/core/data_stream.rs:102-247),
so its LLM-pipeline extras should stream too: this is the production intake
shape where new crawl batches arrive continuously and each must be admitted
or rejected against everything already accepted -- without ever re-scanning
the standing corpus.

Per micro-batch (foreachBatch, availableNow):

  1. EXACT stage -- md5(text) left-joined against the static history hash
     set UNION the hashes of all previously processed stream docs (epoch
     state), plus a first-in-micro-batch window for in-batch ties.
  2. NEAR stage -- MinHash band signatures of the micro-batch equi-joined
     against (a) the persisted history band index (the
     `load_or_build_band_index` artifact -- history is never re-shingled),
     (b) the band signatures of all previously processed stream docs
     (epoch state), and (c) itself (id_b < id_a). Candidates verify at
     exact Jaccard >= threshold against the static shingle postings.
  3. Verdicts land in `out/batch_id=N` and the batch's hashes + band
     signatures in `state_hashes/batch_id=N` / `state_bands/batch_id=N`,
     all three made visible by one epoch commit (epoch protocol:
     streaming/deltas.py), so a replayed micro-batch after a crash
     rewrites byte-identical output instead of duplicating state.

Because the stream replays chunks in doc_id order, "previously processed"
equals "smaller doc_id", and the drained result is row-identical to the
batch twin `incremental_batch_dedup` -- which is exactly what lets the
registry entry share its DuckDB oracle.

At 100 TB: state dirs become the metastore-tracked signature/hash tables of
admitted batches (bounded by corpus size / 4 bands, not by stream length);
the static corpus contributes only band-index reads and shingle lookups for
verified candidates.

The hash and band state compact with the shared LSM fold of
streaming/deltas.py (exercised by tests/test_streaming.py::
test_streaming_dedup_compaction_crash_resume).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from rlink_rs_spark.operators.dedup import (
    band_signatures,
    minhash_signatures,
    verify_jaccard,
    with_shingles,
)
from rlink_rs_spark.streaming import deltas


def dedup_stream(
    df: DataFrame,
    keys: list[str],
    ts_col: str | None = None,
    delay: str = "1 hour",
) -> DataFrame:
    """Drop duplicate rows per `keys` within the watermark horizon.

    With ts_col set, the stream is watermarked and dedup state for a key is
    dropped once the watermark passes delay beyond its event time (bounded
    state -- the production shape). Without ts_col, falls back to unbounded
    dropDuplicates (exact, state grows with distinct keys)."""
    if ts_col is None:
        return df.dropDuplicates(keys)
    return df.withWatermark(ts_col, delay).dropDuplicatesWithinWatermark(keys)


_HASH_SCHEMA = "doc_id bigint, h string"
_BAND_SCHEMA = "doc_id bigint, band int, sig string"
_OUT_SCHEMA = "doc_id bigint, exact_dup boolean, near_dup_of bigint, admit boolean"
_OUT_SCHEMA_Q = (
    "doc_id bigint, passes_quality boolean, exact_dup boolean, "
    "near_dup_of bigint, admit boolean"
)
_STATE = (("state_hashes", _HASH_SCHEMA), ("state_bands", _BAND_SCHEMA))


def streaming_incremental_dedup_sink(
    doc_stream: DataFrame,
    history: DataFrame,
    hist_banded: DataFrame,
    shingled_all: DataFrame,
    work_dir: str,
    checkpoint: str,
    threshold: float = 0.7,
    n_hashes: int = 16,
    bands: int = 4,
    score_fn=None,
    compact_every: int = 8,
    static_frames_out: list | None = None,
    corpus_sets_df: DataFrame | None = None,
):
    """Wire the admit pipeline as a foreachBatch sink over `doc_stream`
    (columns doc_id, text, ...). Returns the started StreamingQuery;
    verdicts accumulate under `<work_dir>/out`.

    `score_fn` (optional) turns this into the FULL intake pipeline: a
    callable mapping the raw micro-batch to (doc_id, passes boolean) --
    e.g. the LM quality gate's map-literal scorer -- joined into the
    verdict as passes_quality, with admit = passes_quality AND not a
    duplicate. Dedup state still records EVERY streamed doc (quality-
    rejected docs remain dedup targets), so the dedup columns stay
    row-identical to the plain sink and the batch twin.

    `compact_every` is the LSM-style fold trigger: once that many delta
    dirs have committed since the last base, the epoch folds them (plus
    the old base) into a new `base_upto=` dir; folded dirs are GC'd at
    the start of the NEXT epoch."""
    spark = doc_stream.sparkSession

    # Static frames every epoch re-reads: materialize ONCE before the
    # stream starts instead of re-aggregating the standing corpus per
    # micro-batch (the r12 plan re-ran the corpus shingle collect_set and
    # the history md5-distinct in every epoch -- a per-epoch constant that
    # dominated fixture-scale wall clock; at 100 TB these are the
    # persisted shingle-set / hash-set artifacts next to the band index).
    hist_hashes = history.select(F.md5("text").alias("h")).distinct().cache()
    # ``corpus_sets_df`` (r16, guide §2.3): callers holding the docs table
    # pass operators.dedup.shingle_sets(docs) -- the map-side per-doc
    # distinct-array projection -- so this static materializes from one
    # zero-exchange corpus scan instead of explode + posting shuffle +
    # collect_set (isolated interleaved A/B: 0.62 -> 0.39 s min-of-5; the
    # per-epoch caches that rode along with this swap in an earlier cut
    # measured SLOWER and are NOT part of it). Same (doc_id, set) content
    # -- array order differs, and every consumer is order-insensitive
    # (verify_jaccard set sizes/intersections). Fallback keeps the
    # grouped build for callers that only hold the exploded frame.
    # fan_out before the cache (r16 session 4, guide §2.2): the map-side
    # sets projection inherits the docs scan's partitioning, and a one-
    # row-group fixture file would pin the cache build AND every cached-
    # downstream verify join to one task; the layout guard no-ops on
    # genuinely parallel scans. The grouped fallback already exchanges.
    from rlink_rs_spark.operators.repartition import fan_out

    corpus_sets = (
        fan_out(corpus_sets_df)
        if corpus_sets_df is not None
        else shingled_all.groupBy("doc_id").agg(F.collect_set("shingle").alias("sh"))
    ).cache()
    if static_frames_out is not None:
        # hand the cached frames back so the caller can unpersist after the
        # drain (identical re-built plans land on the same cache entries,
        # so callers that skip this never balloon the cache either)
        static_frames_out.extend((hist_hashes, corpus_sets))

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        # deferred GC of dirs a PRIOR epoch's fold superseded, then this
        # epoch's fold if the committed-delta count reached the trigger
        for sub, _ in _STATE:
            deltas.gc_folded(os.path.join(work_dir, sub))
        for sub, schema in _STATE:
            deltas.compact(spark, work_dir, sub, schema, epoch_id, compact_every)

        # fan_out the micro-batch before caching: the per-epoch MinHash
        # signature map (8 md5s per posting) otherwise runs at the file
        # chunk's scan parallelism -- one task per trigger file.
        batch = fan_out(batch_df.select("doc_id", "text")).cache()

        # --- exact stage
        prior_hashes = (
            deltas.read_state(spark, work_dir, "state_hashes", _HASH_SCHEMA, epoch_id)
            .select("h")
            .distinct()
        )
        known = hist_hashes.unionByName(prior_hashes).distinct()
        w = Window.partitionBy("h")
        bh = batch.select("doc_id", F.md5("text").alias("h")).withColumn(
            "min_id", F.min("doc_id").over(w)
        )
        ex = bh.join(known.withColumn("in_known", F.lit(True)), "h", "left").select(
            "doc_id",
            "h",
            (
                F.coalesce("in_known", F.lit(False)) | (F.col("min_id") < F.col("doc_id"))
            ).alias("exact_dup"),
        )

        # --- near stage
        batch_banded = band_signatures(
            minhash_signatures(with_shingles(batch), n_hashes=n_hashes),
            n_hashes=n_hashes,
            bands=bands,
        ).cache()
        prior_bands = deltas.read_state(
            spark, work_dir, "state_bands", _BAND_SCHEMA, epoch_id
        )
        bb = batch_banded.select(F.col("doc_id").alias("id_a"), "band", "sig")
        earlier = hist_banded.unionByName(prior_bands).select(
            F.col("doc_id").alias("id_b"), "band", "sig"
        )
        cands_prior = bb.join(earlier, ["band", "sig"]).select("id_a", "id_b")
        cands_self = (
            bb.join(
                batch_banded.select(F.col("doc_id").alias("id_b"), "band", "sig"),
                ["band", "sig"],
            )
            .where(F.col("id_b") < F.col("id_a"))
            .select("id_a", "id_b")
        )
        cands = cands_prior.unionByName(cands_self).distinct()
        near = (
            verify_jaccard(cands, shingled_all, threshold=threshold, sets=corpus_sets)
            .groupBy(F.col("id_a").alias("doc_id"))
            .agg(F.min("id_b").alias("near_dup_of"))
        )

        verdict = ex.join(near, "doc_id", "left").select(
            "doc_id",
            "exact_dup",
            "near_dup_of",
            (~F.col("exact_dup") & F.col("near_dup_of").isNull()).alias("admit"),
        )
        if score_fn is not None:
            # score off the CACHED (doc_id, text) projection -- the gate
            # and the dedup stages share one scan of the micro-batch
            qual = score_fn(batch).select(
                "doc_id", F.col("passes").alias("passes_quality")
            )
            pq = F.coalesce(F.col("passes_quality"), F.lit(False))
            verdict = verdict.join(qual, "doc_id", "left").select(
                "doc_id",
                pq.alias("passes_quality"),
                "exact_dup",
                "near_dup_of",
                (pq & F.col("admit")).alias("admit"),
            )

        # --- the epoch's three writes, then its commit. Hash state writes
        # bh's (doc_id, h) directly (r16, guide §1.2): `ex` is bh LEFT-
        # joined against the DISTINCT known set, so its (doc_id, h)
        # projection is row-identical to bh's -- routing the state write
        # through `ex` re-evaluated the whole exact stage a second time per
        # epoch just to throw the verdict column away.
        for sub, frame in (
            ("out", verdict),
            ("state_hashes", bh.select("doc_id", "h")),
            ("state_bands", batch_banded),
        ):
            frame.write.mode("overwrite").parquet(deltas.epoch_dir(work_dir, sub, epoch_id))
        deltas.commit_epoch(work_dir, epoch_id)
        batch.unpersist()
        batch_banded.unpersist()

    return deltas.start_epoch_sink(doc_stream, handle, checkpoint)


def read_verdicts(spark: SparkSession, work_dir: str, with_quality: bool = False) -> DataFrame:
    """All committed verdict rows (one per streamed doc)."""
    return deltas.read_committed(
        spark, work_dir, "out", _OUT_SCHEMA_Q if with_quality else _OUT_SCHEMA,
        deltas.committed_epochs(work_dir),
    )
