"""The epoch-commit protocol every foreachBatch sink in this repo follows,
and the generic per-epoch delta sink built on it.

Epoch-commit protocol (the only place epoch visibility is decided):

* A sink owns one work dir. Epoch N's handler writes each of its outputs
  to `<work_dir>/<sub>/batch_id=N` with overwrite semantics -- one output
  or several (dedup's out/hashes/bands, sketches' hashes/counts,
  packing's deltas/state, dlq's clean/dlq).
* After the epoch's LAST write the handler calls commit_epoch(work_dir,
  N), which touches the one marker `<work_dir>/_commits/epoch=N`. That
  marker is the epoch's single commit point: a reader sees epoch N in
  every output or in none. Spark's per-dir `_SUCCESS` is never consulted
  for this -- it commits each dir on its own, so it cannot cover an epoch
  that spans several dirs.
* A crash anywhere before the marker leaves the epoch invisible as a
  unit. Spark replays epoch N from its checkpoint; handlers are
  deterministic, so the replay overwrites the same dirs byte-identically
  and commits -- exactly-once, one step past the reference's
  at-least-once "completed checkpoint id" scheme
  (rlink/src/runtime/worker/checkpoint.rs). An epoch that writes nothing
  commits nothing.
* Epoch N's handler only runs after epoch N-1's returned, so it may read
  every committed epoch < N as settled state.
* Readers list committed_epochs / latest_committed and read explicit
  paths with an explicit schema (read_committed) -- never a glob, so a
  torn dir (part files, no marker) is never opened.

Every sink starts through start_epoch_sink (foreachBatch, availableNow).

LSM level-0 compaction for append-only delta state (delta_sink below and
the hash/band state of streaming/dedup.py): a long-lived stream
accumulates O(epochs) delta dirs, so once the committed delta count since
the last base reaches `compact_every` the epoch folds base + deltas into
`<sub>/base_upto=<max folded epoch>` -- a DETERMINISTIC union keyed by
the max folded epoch, so a crash mid-fold replays it idempotently. A base
is one Spark write derived from committed epochs, so its own `_SUCCESS`
is its commit record (newest_base is the one place that reads it).
Folded delta dirs and superseded bases are dropped by a GC pass at the
START of the NEXT epoch, never inside the epoch that wrote the base, so a
crash anywhere leaves at least one complete representation on disk.
Readers take the newest base plus the committed deltas above its
watermark; state content is identical before and after a fold.

At 100 TB the fold is what keeps a standing index usable: the base is
one large co-partitioned artifact (term- or cell-partitioned in
production), deltas stay O(compact_every) small dirs, and fold cost
amortizes to O(state / compact_every) per epoch.
"""

from __future__ import annotations

import os
import shutil
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

COMMITS = "_commits"
ALL_EPOCHS = 1 << 62


def start_epoch_sink(
    stream: DataFrame, handle: Callable[[DataFrame, int], None], checkpoint: str
) -> StreamingQuery:
    """Start `handle(batch_df, epoch_id)` as a foreachBatch sink that
    processes everything available, then stops (Trigger.AvailableNow)."""
    return (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def epoch_dir(work_dir: str, sub: str, epoch_id: int) -> str:
    """Where epoch `epoch_id` writes output `sub` ("" = the work dir)."""
    return os.path.join(work_dir, sub, f"batch_id={epoch_id}")


def commit_marker(work_dir: str, epoch_id: int) -> str:
    return os.path.join(work_dir, COMMITS, f"epoch={epoch_id}")


def commit_epoch(work_dir: str, epoch_id: int) -> None:
    """Make epoch `epoch_id` visible in every output of `work_dir` at
    once. Call after the epoch's last write."""
    os.makedirs(os.path.join(work_dir, COMMITS), exist_ok=True)
    with open(commit_marker(work_dir, epoch_id), "w"):
        pass


def committed_epochs(
    work_dir: str, before_epoch: int = ALL_EPOCHS, after_epoch: int = -ALL_EPOCHS
) -> list[int]:
    """Sorted ids of the committed epochs in (after_epoch, before_epoch)."""
    root = os.path.join(work_dir, COMMITS)
    if not os.path.isdir(root):
        return []
    ids = (int(f.split("=", 1)[1]) for f in os.listdir(root) if f.startswith("epoch="))
    return sorted(i for i in ids if after_epoch < i < before_epoch)


def latest_committed(work_dir: str, before_epoch: int = ALL_EPOCHS) -> list[int]:
    """The newest committed epoch below `before_epoch` as a one-element
    list ([] before the first commit): the `epochs` argument of
    read_committed for sinks whose state is its newest version."""
    return committed_epochs(work_dir, before_epoch)[-1:]


def _read(spark: SparkSession, schema: str, paths: list[str]) -> DataFrame:
    if not paths:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(*paths)


def read_committed(
    spark: SparkSession, work_dir: str, sub: str, schema: str, epochs: list[int]
) -> DataFrame:
    """Output `sub` of the given committed epochs, schema pinned; an empty
    frame of that schema when `epochs` is empty."""
    return _read(spark, schema, [epoch_dir(work_dir, sub, e) for e in epochs])


# --- LSM compaction of append-only delta state --------------------------------


def newest_base(root: str) -> tuple[str | None, int]:
    """Newest complete compaction base under `root` as (path, upto);
    (None, -1) when no fold has happened yet."""
    if not os.path.isdir(root):
        return None, -1
    best, best_upto = None, -1
    for d in os.listdir(root):
        if d.startswith("base_upto=") and os.path.exists(
            os.path.join(root, d, "_SUCCESS")
        ):
            upto = int(d.split("=", 1)[1])
            if upto > best_upto:
                best, best_upto = os.path.join(root, d), upto
    return best, best_upto


def read_state(
    spark: SparkSession, work_dir: str, sub: str, schema: str,
    before_epoch: int = ALL_EPOCHS,
) -> DataFrame:
    """Newest base of `sub` (if any) + its committed deltas above the
    base's watermark and below `before_epoch` -- together exactly the
    state of all committed epochs < before_epoch, fold or no fold."""
    base, upto = newest_base(os.path.join(work_dir, sub))
    epochs = committed_epochs(work_dir, before_epoch, after_epoch=upto)
    paths = [epoch_dir(work_dir, sub, e) for e in epochs]
    return _read(spark, schema, ([base] if base is not None else []) + paths)


def gc_folded(root: str) -> None:
    """Drop delta dirs covered by the newest base, plus superseded bases --
    the deferred half of a fold, run at the START of a later epoch so the
    folding epoch's crash window never deletes the only copy of any
    state."""
    base, upto = newest_base(root)
    if base is None:
        return
    for d in os.listdir(root):
        p = os.path.join(root, d)
        if d.startswith("batch_id=") and int(d.split("=", 1)[1]) <= upto:
            shutil.rmtree(p, ignore_errors=True)
        elif d.startswith("base_upto=") and p != base:
            shutil.rmtree(p, ignore_errors=True)


def compact(
    spark: SparkSession, work_dir: str, sub: str, schema: str,
    before_epoch: int, compact_every: int,
) -> None:
    """Fold the base + committed deltas of `sub` below `before_epoch` into
    a new `base_upto=<max delta>` dir once the delta count reaches
    `compact_every`. Deterministic: the output is keyed by the max folded
    epoch and its content is the union of all state <= that epoch, so a
    replayed fold overwrites byte-identical data. Old dirs are NOT
    removed here (see gc_folded)."""
    root = os.path.join(work_dir, sub)
    _, upto = newest_base(root)
    epochs = committed_epochs(work_dir, before_epoch, after_epoch=upto)
    if len(epochs) < compact_every:
        return
    read_state(spark, work_dir, sub, schema, before_epoch).write.mode(
        "overwrite"
    ).parquet(os.path.join(root, f"base_upto={epochs[-1]}"))


def delta_sink(
    stream: DataFrame,
    transform: Callable[[DataFrame], DataFrame],
    state_dir: str,
    checkpoint: str,
    schema: str | None = None,
    compact_every: int | None = None,
) -> StreamingQuery:
    """foreachBatch sink writing transform(batch) as the epoch's delta
    `<state_dir>/batch_id=N`. `transform` must be deterministic and
    batch-local (it sees only the epoch's rows); when batches are
    key-disjoint the union of committed deltas IS the final state
    (inverted-file adds in streaming/ann.py, posting-table adds in
    streaming/search_index.py, the decontamination screen in
    queries/pipeline_ops.py). Returns the started StreamingQuery.

    With `compact_every` set (requires `schema`), each epoch first GCs
    dirs folded by an earlier epoch's base, writes and commits its delta,
    then folds once the committed delta count reaches the trigger."""
    if compact_every is not None and schema is None:
        raise ValueError("compact_every requires schema")
    spark = stream.sparkSession

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        if compact_every is not None:
            gc_folded(state_dir)
        if batch_df.isEmpty():
            return
        transform(batch_df).write.mode("overwrite").parquet(
            epoch_dir(state_dir, "", epoch_id)
        )
        commit_epoch(state_dir, epoch_id)
        if compact_every is not None:
            compact(spark, state_dir, "", schema, epoch_id + 1, compact_every)

    return start_epoch_sink(stream, handle, checkpoint)


def read_deltas(spark: SparkSession, state_dir: str, schema: str) -> DataFrame:
    """The standing state of a delta_sink: newest base (if a fold has run)
    plus all committed deltas above its watermark, schema pinned."""
    return read_state(spark, state_dir, "", schema)
