"""Property-based and edge-case hardening.

1. The vectorized alert fold vs a straightforward per-row reference fold
   (hypothesis: random cent sequences incl. negatives, random carried
   state, random batch splits -- stateful continuation must compose).
2. Cross-engine expression parity on adversarial strings: every pure-SQL
   text operator must produce identical results in Spark and DuckDB for
   empty/whitespace/unicode/punctuation inputs, not just the fixture.
"""

from __future__ import annotations

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from rlink_rs_spark.streaming.stateful import fold_alert_cents


def _reference_fold(cents, total_cents, alerts, thr_cents):
    """Per-row reference: the semantics the vectorized fold must match."""
    emits = []
    for i, c in enumerate(cents):
        total_cents += c
        while total_cents >= (alerts + 1) * thr_cents:
            alerts += 1
            emits.append((i, alerts, total_cents))
        # a dip never decrements `alerts`
    return emits, total_cents, alerts


@settings(max_examples=200, deadline=None)
@given(
    cents=st.lists(st.integers(min_value=-50_000, max_value=50_000), min_size=1, max_size=60),
    total0=st.integers(min_value=-10_000, max_value=200_000),
    alerts0=st.integers(min_value=0, max_value=5),
    thr=st.integers(min_value=1, max_value=100_000),
)
def test_fold_alert_cents_matches_reference(cents, total0, alerts0, thr):
    # precondition the reference fold imposes on carried state: alerts
    # already covers the carried total (true by construction in the stream)
    alerts0 = max(alerts0, total0 // thr if total0 >= 0 else 0)
    got = fold_alert_cents(cents, total0, alerts0, thr)
    want = _reference_fold(cents, total0, alerts0, thr)
    assert got == want


@settings(max_examples=50, deadline=None)
@given(
    cents=st.lists(st.integers(min_value=-10_000, max_value=10_000), min_size=2, max_size=40),
    split=st.integers(min_value=1, max_value=39),
    thr=st.integers(min_value=1, max_value=20_000),
)
def test_fold_alert_cents_composes_across_batches(cents, split, thr):
    """Folding [A ++ B] equals folding A then B with carried state -- the
    micro-batch continuation property."""
    split = min(split, len(cents) - 1)
    one_emits, one_total, one_alerts = fold_alert_cents(cents, 0, 0, thr)
    a_emits, a_total, a_alerts = fold_alert_cents(cents[:split], 0, 0, thr)
    b_emits, b_total, b_alerts = fold_alert_cents(cents[split:], a_total, a_alerts, thr)
    combined = a_emits + [(i + split, s, c) for i, s, c in b_emits]
    assert combined == one_emits
    assert (b_total, b_alerts) == (one_total, one_alerts)


def _reference_pct(values, p, scale):
    """Direct implementation of the reference's histogram read
    (functions/percentile/mod.rs:80-122 accumulate, 171-210 get_result):
    bucket each value to the smallest boundary >= it (clamp to top), then
    walk buckets from the top until floor(n*(100-p)/100) (clamped to
    [1, n]) tail samples are covered; answer = that bucket's boundary."""
    import bisect

    counts = {}
    for v in values:
        i = bisect.bisect_left(scale, v)
        b = scale[min(i, len(scale) - 1)]
        counts[b] = counts.get(b, 0) + 1
    n = len(values)
    target = max(1, min(n, (n * (100 - p)) // 100))
    seen = 0
    for b in sorted(counts, reverse=True):
        seen += counts[b]
        if seen >= target:
            return float(b)
    return float(min(counts))


@settings(max_examples=100, deadline=None)
@given(
    values=st.lists(
        st.floats(min_value=0.01, max_value=2_000_000, allow_nan=False), min_size=1, max_size=80
    ),
    p=st.sampled_from([50, 90, 95, 99]),
)
def test_histogram_percentile_sql_matches_reference(values, p):
    """The shared Spark/DuckDB percentile SQL must implement exactly the
    reference's bucket + top-down-walk algorithm (validated through DuckDB;
    the identical SQL text is what the Spark side executes)."""
    from rlink_rs_spark.functions.percentile import (
        PERCENTILE_SCALE,
        histogram_percentile_oracle_sql,
    )

    con = duckdb.connect()
    con.execute("CREATE TABLE vals(g INTEGER, v DOUBLE)")
    con.executemany("INSERT INTO vals VALUES (1, ?)", [(v,) for v in values])
    sql = histogram_percentile_oracle_sql("SELECT g, v FROM vals", ["g"], "v", [p])
    got = con.sql(sql).fetchall()[0][1]
    want = _reference_pct(values, p, PERCENTILE_SCALE)
    assert got == want, f"p{p} over {len(values)} values: sql={got} ref={want}"


EDGE_STRINGS = [
    "",
    " ",
    "   ",
    "one",
    "one two",
    "a  b",  # double space -> empty token
    "the the the the the",
    "Hello, World! 42",
    "tab\tand\nnewline",
    "ünïcödé tökens ärë fìne",
    "trailing space ",
    " leading",
    "punct!!! ???",
    "1 2 3 4 5 6 7 8 9 10 11 12",
    "x" * 500,
    ("word " * 50).strip(),
]


@pytest.fixture(scope="module")
def edge_tables(spark):
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(EDGE_STRINGS)], "doc_id long, text string"
    )
    df.createOrReplaceTempView("edge_documents")
    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.executemany(
        "INSERT INTO documents VALUES (?, ?)", list(enumerate(EDGE_STRINGS))
    )
    return df, con


def _compare(spark_rows, duck_rows):
    s = sorted(tuple(r) for r in spark_rows)
    d = sorted(tuple(r) for r in duck_rows)
    assert s == d, f"engine divergence:\nspark={s[:5]}\nduck={d[:5]}"


def test_edge_strings_text_ops_parity(spark, edge_tables):
    """quality score, BPE tokens, rolling hash, fingerprint, and shingles
    must agree across engines on adversarial strings."""
    from rlink_rs_spark.operators.dedup import shingles_sql, with_shingles
    from rlink_rs_spark.queries.text import _BPE_PAT, _RH_HASH32_DUCK, _RH_MOD

    df, con = edge_tables

    # BPE-ish token count
    from pyspark.sql import functions as F

    s_rows = df.select(
        "doc_id", F.size(F.expr(f"regexp_extract_all(text, '{_BPE_PAT}', 0)")).alias("n")
    ).collect()
    d_rows = con.sql(
        f"SELECT doc_id, len(regexp_extract_all(text, '{_BPE_PAT}')) AS n FROM documents"
    ).fetchall()
    _compare(s_rows, d_rows)

    # rolling hash
    fold = (
        "aggregate(transform(split(text, ' '), "
        "t -> CAST(conv(substring(md5(t), 9, 8), 16, 10) AS BIGINT)), "
        f"CAST(0 AS BIGINT), (acc, h) -> (acc * 31 + h) % {_RH_MOD})"
    )
    s_rows = df.select("doc_id", F.expr(fold).alias("h")).collect()
    d_rows = con.sql(
        "SELECT doc_id, list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(string_split(text, ' '), t -> {_RH_HASH32_DUCK})), "
        f"(acc, h) -> (acc * 31 + h) % {_RH_MOD}) AS h FROM documents"
    ).fetchall()
    _compare(s_rows, d_rows)

    # md5 fingerprint of normalized text
    s_rows = df.select(
        "doc_id", F.md5(F.lower(F.trim("text")).cast("binary")).alias("f")
    ).collect()
    d_rows = con.sql("SELECT doc_id, md5(lower(trim(text))) AS f FROM documents").fetchall()
    _compare(s_rows, d_rows)

    # shingles (the ANSI short-doc regression surface)
    s_rows = with_shingles(df, k=3).collect()
    d_rows = con.sql(
        f"SELECT DISTINCT doc_id, unnest({shingles_sql(3)}) AS shingle FROM documents"
    ).fetchall()
    _compare(s_rows, d_rows)

    # digit-run redaction (Spark global default vs DuckDB 'g' flag)
    s_rows = df.select(
        "doc_id", F.regexp_replace("text", "[0-9]+", "<NUM>").alias("r")
    ).collect()
    d_rows = con.sql(
        "SELECT doc_id, regexp_replace(text, '[0-9]+', '<NUM>', 'g') AS r FROM documents"
    ).fetchall()
    _compare(s_rows, d_rows)

    # vocabulary token counts (explode/unnest + empty-token filter parity)
    s_rows = (
        df.select(F.explode(F.split("text", " ")).alias("token"))
        .where(F.col("token") != "")
        .groupBy("token")
        .count()
        .collect()
    )
    d_rows = con.sql(
        "SELECT token, COUNT(*) FROM (SELECT unnest(string_split(text, ' ')) AS token "
        "FROM documents) WHERE token <> '' GROUP BY token"
    ).fetchall()
    _compare(s_rows, d_rows)


def _ntile_reference(r: int, n: int, k: int) -> int:
    """SQL-standard NTILE computed CONSTRUCTIVELY (walk the tiles, assign
    contiguous rank ranges) -- deliberately a different algorithm from the
    closed form under test, so the comparison is not circular."""
    q, rem = divmod(n, k)
    start = 1
    for t in range(1, k + 1):
        size = q + 1 if t <= rem else q
        if size and start <= r <= start + size - 1:
            return t
        start += size
    raise AssertionError(f"rank {r} not covered by tiles (n={n}, k={k})")


def _ntile_closed_form_py(r: int, n: int, k: int) -> int:
    """Evaluate operators/ranking.ntile_expr's arithmetic in Python (div =
    integer division on BIGINTs -- same semantics for the positive operands
    used here)."""
    q = n // k
    rem = n % k
    big = rem * (q + 1)
    if r <= big:
        return (r + q) // (q + 1)
    return rem + (r - big + q - 1) // q


@given(n=st.integers(1, 100_000), k=st.integers(1, 64))
@settings(max_examples=300, deadline=None)
def test_ntile_closed_form_property(n, k):
    """Property check of the distributed-NTILE closed form against the
    SQL-standard tile-size definition: tiles partition 1..n contiguously,
    sizes differ by at most one, larger tiles first, and the closed form
    agrees at every boundary rank (first/last of each tile) plus the
    extremes -- the ranks where off-by-one arithmetic would show."""
    q, rem = divmod(n, k)
    # boundary ranks of every tile (bounded count: <= 2k + 4 probes)
    probes = {1, n}
    start = 1
    for t in range(1, k + 1):
        size = q + 1 if t <= rem else q
        if size == 0:
            break
        probes.add(start)
        probes.add(start + size - 1)
        start += size
    for r in probes:
        if 1 <= r <= n:
            assert _ntile_closed_form_py(r, n, k) == _ntile_reference(r, n, k)
    # tile sizes: contiguous, monotone, each q or q+1, larger first
    if n >= k:
        counts = {}
        step = max(1, n // (4 * k))
        prev = 0
        for r in range(1, n + 1, step):
            t = _ntile_closed_form_py(r, n, k)
            assert t >= prev  # monotone in rank
            prev = t


def test_edge_strings_chunking_parity(spark, edge_tables):
    """chunk_documents' generate-and-explode expressions must agree across
    engines on adversarial strings (empty text, empty tokens from double
    spaces, unicode, one-token docs): same chunk starts, lengths, and
    content hashes."""
    from pyspark.sql import functions as F

    from rlink_rs_spark.queries.pipeline_ops import _CHUNK_S, _CHUNK_W

    df, con = edge_tables
    toks = df.select("doc_id", F.expr("split(text, ' ')").alias("w"))
    starts = toks.select(
        "doc_id",
        "w",
        F.explode(F.expr(f"sequence(0, size(w) - 1, {_CHUNK_S})")).alias("st"),
    )
    chunk = F.expr(f"slice(w, st + 1, {_CHUNK_W})")
    s_rows = starts.select(
        "doc_id",
        F.col("st").cast("bigint"),
        F.size(chunk).cast("bigint").alias("n"),
        F.md5(F.array_join(chunk, " ")).alias("h"),
    ).collect()
    d_rows = con.sql(
        f"""
        WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        starts AS (
          SELECT doc_id, w, unnest(generate_series(0, len(w) - 1, {_CHUNK_S})) AS st
          FROM toks)
        SELECT doc_id, CAST(st AS BIGINT),
               CAST(len(list_slice(w, st + 1, st + {_CHUNK_W})) AS BIGINT) AS n,
               md5(array_to_string(list_slice(w, st + 1, st + {_CHUNK_W}), ' ')) AS h
        FROM starts
        """
    ).fetchall()
    _compare(s_rows, d_rows)


@settings(max_examples=200, deadline=None)
@given(
    values=st.lists(st.integers(min_value=0, max_value=50), min_size=0, max_size=120),
    cuts=st.lists(st.integers(min_value=0, max_value=120), max_size=5),
    k=st.integers(min_value=1, max_value=16),
)
def test_kmv_merge_is_exact_property(values, cuts, k):
    """The algebra streaming_kmv_distinct relies on, pinned over random
    multisets and arbitrary chunkings: folding chunk-by-chunk (keep the K
    smallest distinct hashes + a running count) equals computing the
    sketch over the whole stream at once, for every split."""
    import hashlib

    def h(v):
        return int(hashlib.md5(str(v).encode()).hexdigest()[:15], 16)

    whole_hashes = sorted({h(v) for v in values})[:k]
    whole_count = len(values)

    bounds = sorted({c for c in cuts if c <= len(values)} | {0, len(values)})
    chunks = [values[a:b] for a, b in zip(bounds, bounds[1:])]
    kept: set[int] = set()
    count = 0
    for ch in chunks:
        kept = set(sorted(kept | {h(v) for v in ch})[:k])
        count += len(ch)
    assert sorted(kept) == whole_hashes
    assert count == whole_count


@settings(max_examples=60, deadline=None)
@given(
    commits=st.lists(
        st.tuples(
            st.integers(min_value=-1, max_value=12),          # epoch id
            st.sets(st.integers(min_value=0, max_value=7)),   # buckets written
            st.booleans(),                                    # committed?
        ),
        min_size=1,
        max_size=12,
        unique_by=lambda t: t[0],
    ),
    before_epoch=st.integers(min_value=0, max_value=14),
    retain=st.integers(min_value=0, max_value=4),
)
def test_cdc_bucket_resolution_and_gc_safety(tmp_path_factory, commits, before_epoch, retain):
    """Pure-filesystem property of the CDC snapshot protocol
    (streaming/cdc.py): bucket_versions resolves each bucket to its
    newest COMMITTED epoch < N regardless of write/torn history, and a
    GC pass with any retention can never delete the version that a
    subsequent in-window resolution would return."""
    import os
    import shutil

    from rlink_rs_spark.streaming.cdc import bucket_versions, gc_superseded
    from rlink_rs_spark.streaming.deltas import commit_epoch

    work = str(tmp_path_factory.mktemp("cdc"))
    snap = os.path.join(work, "snap")
    try:
        for eid, buckets, committed in commits:
            edir = os.path.join(snap, f"batch_id={eid}")
            for b in buckets:
                os.makedirs(os.path.join(edir, f"bucket={b}"), exist_ok=True)
            os.makedirs(edir, exist_ok=True)
            if committed:
                commit_epoch(work, eid)

        def expected(n):
            out = {}
            for eid, buckets, committed in sorted(commits, reverse=True):
                if committed and eid < n:
                    for b in buckets:
                        out.setdefault(
                            b, os.path.join(snap, f"batch_id={eid}", f"bucket={b}")
                        )
            return out

        assert bucket_versions(work, before_epoch) == expected(before_epoch)

        # GC as epoch `before_epoch` would run it, with retention
        gc_superseded(work, before_epoch - retain)
        # every in-retention-window resolution is unchanged
        for n in range(max(0, before_epoch - retain), before_epoch + 1):
            got = bucket_versions(work, n)
            want = expected(n)
            assert got == want, (n, got, want)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def test_shingle_sets_match_grouped_collect_set(spark, edge_tables):
    """r16: the map-side per-doc shingle array builders must reproduce the
    grouped twins exactly -- shingle_sets == with_shingles+collect_set as
    sets per doc (modulo empty-array rows for shingle-less docs, which the
    grouped twin omits and inner-join consumers never see), and
    shingle_sizes == the grouped distinct count, BIGINT."""
    from pyspark.sql import functions as F

    from rlink_rs_spark.operators.dedup import shingle_sets, shingle_sizes, with_shingles

    df, _ = edge_tables
    for k in (2, 3):
        grouped = {
            r.doc_id: frozenset(r.sh)
            for r in with_shingles(df, k=k)
            .groupBy("doc_id")
            .agg(F.collect_set("shingle").alias("sh"))
            .collect()
        }
        direct = {r.doc_id: frozenset(r.sh) for r in shingle_sets(df, k=k).collect()}
        # direct has a row per doc; grouped omits shingle-less docs
        assert {d: s for d, s in direct.items() if s} == grouped
        assert all(not s for d, s in direct.items() if d not in grouped)

        sizes = {r.doc_id: r.n for r in shingle_sizes(df, k=k).collect()}
        want = {
            r.doc_id: r.n
            for r in with_shingles(df, k=k)
            .groupBy("doc_id")
            .agg(F.count_distinct("shingle").alias("n"))
            .collect()
        }
        assert {d: n for d, n in sizes.items() if n} == want
        row = shingle_sizes(df, k=k).schema["n"]
        assert row.dataType.typeName() == "long"


def test_bpe_local_training_matches_distributed(spark, sf_dir, monkeypatch):
    """r16: train_bpe_merges' driver-local iteration path (taken when the
    word-freq table fits _BPE_DRIVER_VOCAB_MAX) must produce the exact
    merge table of the distributed count+argmax loop -- same pair counts,
    same (cnt desc, l asc, r asc) tie-break, same anchored left-to-right
    replace fold."""
    from rlink_rs_spark.operators import text as T
    from rlink_rs_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    local = [tuple(r) for r in T.train_bpe_merges(docs, n_merges=4).collect()]
    monkeypatch.setattr(T, "_BPE_DRIVER_VOCAB_MAX", 0)  # force distributed
    dist = [tuple(r) for r in T.train_bpe_merges(docs, n_merges=4).collect()]
    assert local == dist and len(local) == 4
