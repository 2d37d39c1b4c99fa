"""The epoch-commit protocol of the foreachBatch sinks (streaming/deltas.py):
one source guard that keeps epoch visibility and query draining in one
place each, and one kill/resume test over every sink built on it."""

from __future__ import annotations

import collections
import os
import re
import tempfile
from dataclasses import dataclass
from typing import Callable

import pytest
from pyspark.sql import functions as F

from tests.helpers import fail_once
from rlink_rs_spark.streaming import deltas
from rlink_rs_spark.tables import load_table

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "rlink_rs_spark")

# (pattern, files allowed to contain it, relative to the package; None = the
# whole package is scanned, otherwise only the named subdirectory)
GUARDS = (
    (".foreachBatch(", {"streaming/deltas.py", "sources/loopback.py"}, None),
    (".awaitTermination(", {"streaming/runner.py"}, None),
    ("batch_id=*", set(), None),
    ("_SUCCESS", {"streaming/deltas.py"}, "streaming"),
    ("_COMMITTED", {"streaming/deltas.py"}, "streaming"),
    ("commits/epoch=", {"streaming/deltas.py"}, "streaming"),
)


def _sources():
    for dirpath, _, files in os.walk(PKG):
        for f in files:
            if f.endswith(".py"):
                path = os.path.join(dirpath, f)
                yield os.path.relpath(path, PKG), open(path).read()


def test_epoch_visibility_and_drain_live_in_one_place_each():
    """Epoch visibility is decided only in streaming/deltas.py, foreachBatch
    sinks start only there (loopback's producer keeps its own start for its
    processing-time trigger), and the start/await/stop drain exists only in
    streaming/runner.py. The one remaining `_SUCCESS` read is the
    compaction-base check in deltas.newest_base."""
    found = []
    for rel, text in _sources():
        for pattern, allowed, subdir in GUARDS:
            if subdir is not None and not rel.startswith(subdir + "/"):
                continue
            if pattern in text and rel not in allowed:
                found.append((rel, pattern))
    assert not found, found

    text = open(os.path.join(PKG, "streaming", "deltas.py")).read()
    success_reads = [m.start() for m in re.finditer(r'"_SUCCESS"', text)]
    newest = text.index("def newest_base(")
    end = text.index("\ndef ", newest + 1)
    assert success_reads and all(newest < i < end for i in success_reads), success_reads


# --- kill/resume across every epoch-commit sink ---------------------------------

CHUNKS = 3
CRASH_AT = 1  # epoch 0 commits, epoch 1 writes and dies before its commit


@dataclass
class Case:
    table: str
    order_col: str
    # (stream, work_dir, checkpoint) -> started query
    start: Callable
    read: Callable  # work_dir -> DataFrame
    sub: str  # the output a planted torn dir goes into
    setup: Callable = lambda work_dir: None


def _similarity_case(spark, sf_dir, which):
    from rlink_rs_spark.queries import similarity as q
    from rlink_rs_spark.streaming import ann

    emb, codebook, assignment = q._ivf_artifacts(spark, sf_dir)
    if which == "probe":
        return Case(
            "embeddings", "vec_id",
            lambda s, wd, ck: ann.streaming_ann_probe_sink(
                s.where(F.col("vec_id") % 10 == 0).select("vec_id", "embedding"),
                corpus=emb, codebook=codebook, assignment=assignment,
                out_dir=wd, checkpoint=ck, dims=q._DIMS, k=q._K,
                n_cells=q._IVF_CELLS, n_probe=q._IVF_PROBE,
            ),
            lambda wd: ann.read_probe_results(spark, wd), "",
        )
    if which == "outlier":
        cents = q._label_centroids(spark, sf_dir)
        return Case(
            "embeddings", "vec_id",
            lambda s, wd, ck: ann.streaming_outlier_sink(
                s.select("vec_id", "label", "embedding"), cents=cents,
                out_dir=wd, checkpoint=ck, dims=q._DIMS, threshold=q._OUTLIER_THR,
            ),
            lambda wd: ann.read_outlier_results(spark, wd), "",
        )
    return Case(
        "embeddings", "vec_id",
        lambda s, wd, ck: ann.streaming_index_add_sink(
            s.select("vec_id", "embedding"), codebook=codebook,
            state_dir=wd, checkpoint=ck, dims=q._DIMS,
        ),
        lambda wd: ann.read_inverted_file(spark, wd), "",
    )


def _dedup_case(spark, sf_dir):
    from rlink_rs_spark.operators.dedup import load_or_build_band_index, with_shingles
    from rlink_rs_spark.queries.dedup import (
        _BANDS,
        _INCR_THR,
        _N_HASHES,
        _documents_fingerprint,
    )
    from rlink_rs_spark.streaming.dedup import (
        read_verdicts,
        streaming_incremental_dedup_sink,
    )

    docs = load_table(spark, sf_dir, "documents")
    history = docs.where(F.col("doc_id") % 4 != 0)
    hist_banded = load_or_build_band_index(
        spark,
        with_shingles(history),
        cache_dir=os.path.join(os.path.dirname(PKG), "artifacts", "lsh_band_index"),
        fingerprint=_documents_fingerprint(sf_dir),
        n_hashes=_N_HASHES,
        bands=_BANDS,
    )
    return Case(
        "documents", "doc_id",
        lambda s, wd, ck: streaming_incremental_dedup_sink(
            s.where(F.col("doc_id") % 4 == 0), history, hist_banded,
            with_shingles(docs), work_dir=wd, checkpoint=ck,
            threshold=_INCR_THR, n_hashes=_N_HASHES, bands=_BANDS,
        ),
        lambda wd: read_verdicts(spark, wd), "out",
    )


def _case(spark, sf_dir, name) -> Case:
    if name in ("ann_probe", "ann_outlier", "ivf_add"):
        return _similarity_case(spark, sf_dir, name.split("_")[-1])
    if name == "dedup":
        return _dedup_case(spark, sf_dir)
    if name == "bm25_add":
        from rlink_rs_spark.streaming.search_index import (
            read_posting_table,
            streaming_bm25_index_sink,
        )

        return Case(
            "documents", "doc_id",
            lambda s, wd, ck: streaming_bm25_index_sink(
                s.select("doc_id", "text"), state_dir=wd, checkpoint=ck
            ),
            lambda wd: read_posting_table(spark, wd), "",
        )
    if name == "decontamination":
        from rlink_rs_spark.queries.pipeline_ops import _DECON_SCHEMA, _decon_screen

        screen = _decon_screen(load_table(spark, sf_dir, "documents"))
        return Case(
            "documents", "doc_id",
            lambda s, wd, ck: deltas.delta_sink(s.select("doc_id", "text"), screen, wd, ck),
            lambda wd: deltas.read_deltas(spark, wd, _DECON_SCHEMA), "",
        )
    if name == "cdc":
        from rlink_rs_spark.streaming import cdc

        return Case(
            "documents", "doc_id",
            lambda s, wd, ck: cdc.streaming_merge_sink(
                s.select("doc_id", "text", "lang", "source", "n_chars"),
                work_dir=wd, checkpoint=ck,
            ),
            lambda wd: cdc.read_merged_snapshot(spark, wd), "snap",
            setup=lambda wd: cdc.write_base_snapshot(
                load_table(spark, sf_dir, "documents"), wd
            ),
        )
    if name == "dlq":
        from rlink_rs_spark.streaming import dlq

        return Case(
            "documents", "doc_id",
            lambda s, wd, ck: dlq.streaming_dlq_sink(
                s.select("doc_id", "lang", "source", "n_chars"), wd, ck
            ),
            lambda wd: dlq.read_clean(spark, wd).unionByName(dlq.read_dlq(spark, wd)),
            "dlq",
        )
    if name == "packing":
        from rlink_rs_spark.queries.pipeline_ops import _CTX_LEN
        from rlink_rs_spark.streaming.packing import read_packed_bins, streaming_pack_sink

        return Case(
            "documents", "doc_id",
            lambda s, wd, ck: streaming_pack_sink(
                s.select("doc_id", "lang", "text"), wd, ck, ctx_len=_CTX_LEN
            ),
            lambda wd: read_packed_bins(spark, wd), "deltas",
        )
    if name == "rollup":
        from rlink_rs_spark.streaming.rollup import read_rollup_view, streaming_rollup_sink

        return Case(
            "events", "event_id",
            lambda s, wd, ck: streaming_rollup_sink(
                s.select("ts", "event_type", "value"), wd, ck
            ),
            lambda wd: read_rollup_view(spark, wd), "view",
        )
    if name == "reservoir":
        from rlink_rs_spark.queries.text import _WS_H_SPARK, _WS_KEY, _WS_TOP_K
        from rlink_rs_spark.streaming.sampling import (
            read_reservoir,
            streaming_weighted_reservoir_sink,
        )

        return Case(
            "documents", "doc_id",
            lambda s, wd, ck: streaming_weighted_reservoir_sink(
                s.select("lang", "doc_id", "n_chars"),
                key_expr=_WS_KEY.format(h=_WS_H_SPARK),
                work_dir=wd, checkpoint=ck, top_k=_WS_TOP_K,
            ),
            lambda wd: read_reservoir(spark, wd, _WS_TOP_K), "reservoir",
        )
    from rlink_rs_spark.queries import stats
    from rlink_rs_spark.streaming import sketches

    if name == "kmv":
        return Case(
            "events", "event_id",
            lambda s, wd, ck: sketches.streaming_kmv_sink(
                s.select("event_type", "user_id"), group_col="event_type",
                value_col="user_id", work_dir=wd, checkpoint=ck, k=stats._KMV_K,
            ),
            lambda wd: sketches.read_kmv_estimate(spark, wd, stats._KMV_K), "hashes",
        )
    assert name == "cms", name
    return Case(
        "events", "event_id",
        lambda s, wd, ck: sketches.streaming_cms_sink(
            s.select("user_id"), bucket_expr=stats._CMS_B_SPARK, d=stats._CMS_D,
            work_dir=wd, checkpoint=ck,
        ),
        lambda wd: sketches.read_cms_counters(spark, wd), "counters",
    )


SINKS = (
    "ann_probe", "ann_outlier", "ivf_add", "bm25_add", "decontamination", "cdc",
    "dedup", "dlq", "packing", "rollup", "reservoir", "kmv", "cms",
)


@pytest.mark.parametrize("name", SINKS)
def test_epoch_sink_kill_resume(spark, sf_dir, monkeypatch, name):
    """Kill each sink after epoch CRASH_AT's writes landed and before its
    commit, and plant a torn dir (part files, no commit) besides: the
    reader must return exactly what it returned right after epoch
    CRASH_AT - 1 committed in an uninterrupted run, and resuming on the
    same checkpoint must end at the uninterrupted run's output."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from rlink_rs_spark.streaming.sources import stage_stream_dir, stream_from_staged

    case = _case(spark, sf_dir, name)
    staged = stage_stream_dir(sf_dir, case.table, chunks=CHUNKS, order_col=case.order_col)

    def start(work_dir, checkpoint):
        src = stream_from_staged(spark, staged, sf_dir, case.table, max_files_per_trigger=1)
        return case.start(src, work_dir, checkpoint)

    def rows(work_dir):
        return collections.Counter(tuple(r) for r in case.read(work_dir).collect())

    # uninterrupted run, recording the reader's view once epoch CRASH_AT - 1
    # committed
    ref = tempfile.mkdtemp(prefix=f"rlink_kr_{name}_ref_")
    case.setup(ref)
    commit, prefix = deltas.commit_epoch, {}

    def recording_commit(work_dir, epoch_id):
        commit(work_dir, epoch_id)
        if work_dir == ref and epoch_id == CRASH_AT - 1:
            prefix["rows"] = rows(ref)

    monkeypatch.setattr(deltas, "commit_epoch", recording_commit)
    q = start(ref, tempfile.mkdtemp(prefix=f"rlink_kr_{name}_ref_ck_"))
    assert q.awaitTermination(300) and q.exception() is None
    want = rows(ref)
    assert want and "rows" in prefix and prefix["rows"] != want
    monkeypatch.setattr(deltas, "commit_epoch", commit)

    work = tempfile.mkdtemp(prefix=f"rlink_kr_{name}_")
    ck = tempfile.mkdtemp(prefix=f"rlink_kr_{name}_ck_")
    case.setup(work)
    fired = fail_once(
        monkeypatch, "commit_epoch", lambda wd, e: e == CRASH_AT, "injected crash before commit"
    )
    q = start(work, ck)
    with pytest.raises(StreamingQueryException, match="injected crash"):
        q.awaitTermination(300)
    assert fired
    # the crashed epoch's writes are on disk, uncommitted; add a torn dir
    # whose part file is not even parquet
    assert os.listdir(deltas.epoch_dir(work, case.sub, CRASH_AT))
    assert deltas.committed_epochs(work, after_epoch=-1) == list(range(CRASH_AT))
    torn = deltas.epoch_dir(work, case.sub, 99)
    os.makedirs(torn)
    with open(os.path.join(torn, "part-00000.parquet"), "w") as f:
        f.write("not parquet")
    assert rows(work) == prefix["rows"]

    q = start(work, ck)
    assert q.awaitTermination(300) and q.exception() is None
    assert rows(work) == want
