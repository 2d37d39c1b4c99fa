"""Tests of the benchmark's own parts (no Spark session needed):

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import os
import statistics

import pandas as pd
import pytest

import gen
import oracle
from run import remove_artifacts
from spans import Tracer
from stats import median, op_fail_ratio, percentile, tail_percentile

SMALL_EVENTS = gen.EventsSpec(rows_per_chunk=500, chunks=5, replicas=1)
SMALL_CORPUS = gen.CorpusSpec(n_docs=60, n_vecs=40)


def _md5(tmp_path, name: str, seed: int) -> dict:
    return gen.generate(str(tmp_path / name), seed, SMALL_EVENTS, SMALL_CORPUS)


def test_same_seed_same_md5(tmp_path):
    a, b = _md5(tmp_path, "a", 7), _md5(tmp_path, "b", 7)
    assert a["md5"] == b["md5"]
    assert a == b


def test_different_seed_different_md5(tmp_path):
    assert _md5(tmp_path, "a", 7)["md5"] != _md5(tmp_path, "b", 8)["md5"]


def test_mtimes_do_not_enter_the_md5(tmp_path):
    out = str(tmp_path / "a")
    facts = _md5(tmp_path, "a", 3)
    gen.set_chunk_mtimes(os.path.join(out, "events_stream"), 1_000_000.0)
    assert gen.dir_md5(out) == facts["md5"]


def test_late_rows_are_planted_from_the_third_chunk(tmp_path):
    import pyarrow.parquet as pq

    out = str(tmp_path / "a")
    facts = _md5(tmp_path, "a", 5)["events"]
    per_chunk = round(SMALL_EVENTS.rows_per_chunk * SMALL_EVENTS.late_share)
    assert facts["late_rows"] == per_chunk * (SMALL_EVENTS.chunks - 2)
    assert facts["expected_dropped_groups"] > 0
    on_time = pq.read_table(os.path.join(out, "events.parquet"))
    assert on_time.num_rows == facts["on_time_rows"] == facts["rows"] - facts["late_rows"]


def test_events_follow_the_fixture_schema(tmp_path):
    import pyarrow.parquet as pq

    out = str(tmp_path / "a")
    _md5(tmp_path, "a", 9)
    on_time = pq.read_table(os.path.join(out, "events.parquet"))
    assert on_time.schema.names == ["event_id", "ts", "user_id", "event_type", "value", "props"]
    assert str(on_time.schema.field("ts").type) == "timestamp[ns]"
    df = on_time.to_pandas()
    assert set(df["event_type"]) <= set(gen.EVENT_TYPES)
    assert df["props"].str.fullmatch(r'\{"k": \d{1,2}\}').all()
    assert df["user_id"].nunique() <= SMALL_EVENTS.n_keys


def test_percentile_interpolates_linearly():
    xs = [4.0, 1.0, 3.0, 2.0]
    assert percentile(xs, 0) == 1.0
    assert percentile(xs, 100) == 4.0
    assert percentile(xs, 50) == 2.5
    assert percentile(xs, 90) == pytest.approx(3.7)
    assert median([5.0]) == 5.0
    with pytest.raises(ValueError):
        percentile([], 50)
    with pytest.raises(ValueError):
        percentile(xs, 101)


def test_percentile_matches_statistics_inclusive():
    xs = [float(x * x % 17) for x in range(40)]
    q = statistics.quantiles(xs, n=10, method="inclusive")
    assert percentile(xs, 90) == pytest.approx(q[-1])


def test_tail_needs_ten_samples_beyond():
    assert tail_percentile(1000) == 99.0
    assert tail_percentile(200) == 95.0
    assert tail_percentile(100) == 90.0
    assert tail_percentile(40) == 75.0
    assert tail_percentile(20) == 50.0
    assert tail_percentile(19) is None


def test_op_fail_ratio():
    assert op_fail_ratio(10, 0) == 0.0
    assert op_fail_ratio(8, 2) == 0.25
    with pytest.raises(ValueError):
        op_fail_ratio(0, 0)
    with pytest.raises(ValueError):
        op_fail_ratio(3, 4)


def test_compare_is_order_insensitive_and_exact():
    a = pd.DataFrame({"k": [1, 2], "v": [0.1, 0.2]})
    assert oracle.compare(a.iloc[::-1], a) == []
    b = a.assign(v=[0.1, 0.2 + 1e-12])
    assert oracle.compare(a, b)
    assert oracle.compare(a, a.iloc[:1])
    assert oracle.compare(a, a.rename(columns={"v": "w"}))


def test_self_time_subtracts_children():
    t = Tracer(run_id="r")
    with t.span("op", "bench.op"):
        with t.span("build", "plans"):
            pass
        with t.span("run", "runner"):
            pass
    spans = {s.name: s for s in t.spans}
    selfs = t.self_times()
    op_total = spans["op"].end - spans["op"].start
    children = sum(spans[n].end - spans[n].start for n in ("build", "run"))
    assert selfs["bench.op"] == pytest.approx(op_total - children)
    assert spans["build"].parent == 0 and spans["op"].parent is None
    assert sum(selfs.values()) == pytest.approx(op_total)
    rows = t.export()
    assert [r[:2] for r in rows] == [["op", "bench.op"], ["build", "plans"], ["run", "runner"]]
    assert rows[0][2] == 0.0 and rows[1][4] == 0 and rows[0][5] == "r"


def test_remove_artifacts_only_touches_fingerprinted_entries(tmp_path):
    keep = tmp_path / "ivf_codebooks" / "ivf_codebook_c16_i2_0123456789abcdef"
    drop = tmp_path / "ivf_codebooks" / "ivf_codebook_c16_i2_fedcba9876543210"
    drop2 = tmp_path / "lsh_band_index" / "lsh_bands_h16_b4_fedcba9876543210"
    for d in (keep, drop, drop2):
        d.mkdir(parents=True)
        (d / "part-0.parquet").write_bytes(b"x")
    removed = remove_artifacts(str(tmp_path), ["fedcba9876543210"])
    assert sorted(removed) == sorted(
        [os.path.join("ivf_codebooks", drop.name), os.path.join("lsh_band_index", drop2.name)]
    )
    assert keep.exists() and not drop.exists() and not drop2.exists()
    assert remove_artifacts(str(tmp_path), []) == []
