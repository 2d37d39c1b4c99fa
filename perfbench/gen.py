"""Seeded input generator for the benchmark.

Everything the program under test reads is produced here, in this
process, with NumPy and pyarrow, from one integer seed: the same seed
gives byte-identical parquet files (and so the same md5), a different
seed gives different files. The program only ever sees the generated
directories.

Two input sets:

* ``events``: the window workload's replay, modelled on the sf0.1
  ``events`` fixture (its measured statistics are the ``SF01_*``
  constants below) replicated ``replicas`` times over the fixture's time
  span, so event time advances ``replicas`` times as fast. Each row's key
  is drawn from a Zipf-skewed key space ``replicas`` times as wide as the
  fixture's (each replica's keys remapped to ids of their own); on-time
  rows are disordered by less than the watermark bound; a seeded share of
  rows from the third chunk on is planted *late*, far enough behind the
  watermark that every sliding window they fall in is already closed. The
  replay is written as equal, ts-ordered chunk files (one micro-batch
  each) plus ``events.parquet`` holding the on-time rows only, which is
  what the DuckDB oracle aggregates. Both use the fixture's schema with
  ``ts`` stored as nanosecond timestamps, the form ``tables.load_table``
  and ``streaming.sources.stream_from_staged`` normalise.
* ``corpus``: ``documents`` and ``embeddings`` tables with the fixture
  schemas the registry queries read, with a seeded share of planted
  near-duplicates so dedup work depends on how much the inputs share.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import asdict, dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z
WINDOW_MS = 60_000
SLIDE_MS = 20_000
DELAY_MS = 1_000
# A late row sits this far behind the late-record filter watermark of its
# batch, so even its newest sliding window (end <= ts + WINDOW_MS) has
# closed: the engine drops it whole.
_LATE_LAG_MS = WINDOW_MS + SLIDE_MS + 10_000

# Measured on the sf0.1 events fixture (100,000 rows, ts-sorted, no
# disorder, no late rows): rows over the first-to-last ts span (30 days);
# distinct user_id (about uniform: per-key count sd 8.2 vs 8.2 for a
# uniform draw); value is exponential rounded to cents (mean 49.87,
# quartiles 14.64 / 34.77 / 68.90 against Exp(50)'s 14.38 / 34.66 / 69.31);
# event_type uniform over EVENT_TYPES (shares 0.198-0.203); props is
# '{"k": N}' with N uniform over 0..99.
SF01_ROWS = 100_000
SF01_SPAN_S = 2_591_954
SF01_KEYS = 1_500
SF01_VALUE_MEAN = 50.0
SF01_PROPS_K = 100
EVENT_TYPES = ("view", "click", "purchase", "signup", "error")

# The corpus follows the sf0.1 documents/embeddings fixtures: their
# 30-word vocabulary (plus the "dup" marker that ends a near-duplicate),
# 10-100 words a document, the language shares, 20 sources, 64-dim unit
# vectors in 10 labels, and 5% near-duplicates (the share of documents
# ending in the marker).
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
DIMS = 64
N_LABELS = 10
N_SOURCES = 20


@dataclass(frozen=True)
class EventsSpec:
    rows_per_chunk: int = 4_000
    chunks: int = 5
    # sf0.1 replicated 10 times: 1M rows over its 30 days, 15,000 keys
    replicas: int = 10
    zipf_s: float = 1.0  # the classic Zipf law
    jitter_ms: int = 900  # in-bound disorder, < DELAY_MS
    late_share: float = 0.01

    @property
    def n_keys(self) -> int:
        return self.replicas * SF01_KEYS

    @property
    def events_per_s(self) -> float:
        """Rows per second of event time."""
        return self.replicas * SF01_ROWS / SF01_SPAN_S


@dataclass(frozen=True)
class CorpusSpec:
    n_docs: int = 600
    n_vecs: int = 300
    near_dup_share: float = 0.05


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def _zipf_keys(rng: np.random.Generator, n: int, n_keys: int, s: float) -> np.ndarray:
    """Bounded Zipf over ``n_keys`` ranks, ranks scattered over a wide id
    space so hot keys are not the small ids."""
    p = 1.0 / np.arange(1, n_keys + 1, dtype=np.float64) ** s
    p /= p.sum()
    ranks = rng.choice(n_keys, size=n, p=p)
    ids = rng.permutation(n_keys).astype(np.int64) * 7 + 1_000_003
    return ids[ranks]


def generate_events(out_dir: str, seed: int, spec: EventsSpec) -> dict:
    """Write the chunked replay under ``out_dir/events_stream`` and the
    on-time rows as ``out_dir/events.parquet``; return what the checks need:
    total rows, on-time rows, late rows and the number of (window, key)
    partial-aggregate rows the engine must drop as late."""
    rng = np.random.default_rng([seed, 1])
    stream_dir = os.path.join(out_dir, "events_stream")
    os.makedirs(stream_dir, exist_ok=True)
    n_chunk = spec.rows_per_chunk
    span_us = int(n_chunk * 1e6 / spec.events_per_s)
    schema = pa.schema(
        [
            ("event_id", pa.int64()),
            ("ts", pa.timestamp("ns")),
            ("user_id", pa.int64()),
            ("event_type", pa.string()),
            ("value", pa.float64()),
            ("props", pa.string()),
        ]
    )
    types = np.array(EVENT_TYPES)
    on_time_parts = []
    max_ts_ms: list[int] = []
    next_id = 0
    late_rows = 0
    expected_dropped = 0
    for i in range(spec.chunks):
        n_late = int(round(n_chunk * spec.late_share)) if i >= 2 else 0
        n_on = n_chunk - n_late
        base = EPOCH_MS * 1000 + i * span_us + np.sort(rng.integers(0, span_us, n_on))
        ts = base - rng.integers(0, spec.jitter_ms * 1000 + 1, n_on)
        keys = _zipf_keys(rng, n_chunk, spec.n_keys, spec.zipf_s)
        vals = np.round(rng.exponential(SF01_VALUE_MEAN, n_chunk), 2)
        etypes = types[rng.integers(0, len(types), n_chunk)]
        props = np.array([f'{{"k": {k}}}' for k in rng.integers(0, SF01_PROPS_K, n_chunk)])
        if n_late:
            # filter watermark for batch i = max event time of batches < i-1
            wm_filter = max(max_ts_ms[: i - 1]) - DELAY_MS
            late_ts = (wm_filter - _LATE_LAG_MS) * 1000 - rng.integers(0, span_us, n_late)
            # one partial-aggregate row per distinct (window, key) in the
            # batch (the chunk is one scan partition)
            ws_last = (late_ts // 1000 // SLIDE_MS) * SLIDE_MS
            groups = {
                (int(w) - k * SLIDE_MS, int(key))
                for w, key in zip(ws_last, keys[n_on:])
                for k in range(WINDOW_MS // SLIDE_MS)
            }
            expected_dropped += len(groups)
            late_rows += n_late
            all_ts = np.concatenate([ts, late_ts])
        else:
            all_ts = ts
        ids = np.arange(next_id, next_id + n_chunk, dtype=np.int64)
        next_id += n_chunk
        # late rows interleave with on-time ones inside the file
        order = rng.permutation(n_chunk) if n_late else np.arange(n_chunk)
        chunk = pa.Table.from_arrays(
            [
                pa.array(ids[order]),
                pa.array(all_ts[order] * 1000, pa.int64()).cast(pa.timestamp("ns")),
                pa.array(keys[order]),
                pa.array(etypes[order]),
                pa.array(vals[order]),
                pa.array(props[order]),
            ],
            schema=schema,
        )
        path = os.path.join(stream_dir, f"chunk_{i:05d}.parquet")
        _write(chunk, path)
        max_ts_ms.append(int(ts.max()) // 1000)
        on_mask = np.ones(n_chunk, dtype=bool)
        on_mask[n_on:] = False
        on_time_parts.append(chunk.filter(pa.array(on_mask[order])))
    _write(pa.concat_tables(on_time_parts), os.path.join(out_dir, "events.parquet"))
    return {
        "rows": spec.chunks * n_chunk,
        "on_time_rows": spec.chunks * n_chunk - late_rows,
        "late_rows": late_rows,
        "expected_dropped_groups": expected_dropped,
        "max_ts_ms": max(max_ts_ms),
        "chunks": spec.chunks,
        "n_keys": spec.n_keys,
        "events_per_s": spec.events_per_s,
    }


def set_chunk_mtimes(stream_dir: str, base: float) -> None:
    """Replay order is file mtime order: stamp chunks 1 s apart."""
    for i, name in enumerate(sorted(os.listdir(stream_dir))):
        os.utime(os.path.join(stream_dir, name), (base + i, base + i))


def generate_corpus(out_dir: str, seed: int, spec: CorpusSpec) -> dict:
    """Write ``documents.parquet`` and ``embeddings.parquet``."""
    rng = np.random.default_rng([seed, 2])
    vocab = np.array(VOCAB)
    texts: list[str] = []
    n_dup_docs = 0
    for i in range(spec.n_docs):
        if i > 10 and rng.random() < spec.near_dup_share:
            words = texts[int(rng.integers(0, i))].split()
            if words[-1] == "dup":
                words = words[:-1]
            edits = max(1, len(words) // 20)
            for j in rng.integers(0, len(words), edits):
                words[j] = vocab[rng.integers(0, len(vocab))]
            words.append("dup")
            n_dup_docs += 1
        else:
            words = list(vocab[rng.integers(0, len(vocab), int(rng.integers(10, 101)))])
        texts.append(" ".join(words))
    doc_ids = np.arange(spec.n_docs, dtype=np.int64)
    documents = pa.Table.from_arrays(
        [
            pa.array(doc_ids),
            pa.array(texts, pa.string()),
            pa.array(np.array(LANGS)[rng.choice(len(LANGS), spec.n_docs, p=LANG_P)]),
            pa.array([f"src{i % N_SOURCES}" for i in range(spec.n_docs)]),
            pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        ],
        names=["doc_id", "text", "lang", "source", "n_chars"],
    )
    _write(documents, os.path.join(out_dir, "documents.parquet"))

    centers = rng.standard_normal((N_LABELS, DIMS))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, N_LABELS, spec.n_vecs).astype(np.int32)
    vecs = 0.6 * centers[labels] + rng.standard_normal((spec.n_vecs, DIMS)) / np.sqrt(DIMS)
    n_dup_vecs = 0
    for i in range(N_LABELS, spec.n_vecs):
        if rng.random() < spec.near_dup_share:
            j = int(rng.integers(0, i))
            vecs[i] = vecs[j] + 0.15 * rng.standard_normal(DIMS) / np.sqrt(DIMS)
            labels[i] = labels[j]
            n_dup_vecs += 1
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    embeddings = pa.Table.from_arrays(
        [
            pa.array(np.arange(spec.n_vecs, dtype=np.int64)),
            pa.FixedSizeListArray.from_arrays(pa.array(vecs.ravel()), DIMS).cast(
                pa.list_(pa.float32())
            ),
            pa.array(labels),
        ],
        names=["vec_id", "embedding", "label"],
    )
    _write(embeddings, os.path.join(out_dir, "embeddings.parquet"))
    return {
        "docs": spec.n_docs,
        "vecs": spec.n_vecs,
        "near_dup_docs": n_dup_docs,
        "near_dup_vecs": n_dup_vecs,
    }


def dir_md5(root: str) -> str:
    """md5 over every file under ``root`` (relative path + bytes, sorted)."""
    h = hashlib.md5()
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames.sort()
        for name in sorted(filenames):
            path = os.path.join(dirpath, name)
            h.update(os.path.relpath(path, root).encode())
            with open(path, "rb") as f:
                for block in iter(lambda: f.read(1 << 20), b""):
                    h.update(block)
    return h.hexdigest()


def generate(out_dir: str, seed: int, events: EventsSpec | None, corpus: CorpusSpec | None) -> dict:
    """Generate the requested input sets into ``out_dir``; return their
    facts plus the seed, the specs and the md5 of everything written."""
    os.makedirs(out_dir, exist_ok=True)
    facts: dict = {"seed": seed}
    if events is not None:
        facts["events"] = generate_events(out_dir, seed, events) | {"spec": asdict(events)}
    if corpus is not None:
        facts["corpus"] = generate_corpus(out_dir, seed, corpus) | {"spec": asdict(corpus)}
    facts["md5"] = dir_md5(out_dir)
    return facts
