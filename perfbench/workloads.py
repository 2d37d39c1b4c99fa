"""The workloads: what one operation is, what one pass runs, and how each
operation's output is checked.

* ``stream_window_agg``: one op drains the seeded events replay through
  the flagship ``Pipeline`` (1 s watermark, sliding 60 s / 20 s window,
  sum/max/min/count per key) with ``run_to_parquet``; a pass is one drain.
* ``corpus_ops``: a pass runs the four epoch-commit sinks (one op = one
  registry call plus reading its result back) and the MinHash-LSH batch
  operator (one op = building its registry query and materialising it
  with the ``noop`` sink).

Checks run outside the timed span of each operation.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time
import traceback
from dataclasses import dataclass, field

import pyarrow.parquet as pq

import gen
import oracle
from rlink_rs_spark.operators.aggregations import count, max_, min_, sum_
from rlink_rs_spark.plans.pipeline import Pipeline, SlidingEventTimeWindows
from rlink_rs_spark.queries import REGISTRY
from rlink_rs_spark.streaming.runner import run_to_parquet
from rlink_rs_spark.streaming.sources import stream_from_staged


@dataclass
class OpResult:
    name: str
    op_id: str
    wall_s: float
    rows_in: int
    ok: bool
    problem: str = ""
    steps_ms: list[float] = field(default_factory=list)
    extra: dict = field(default_factory=dict)


@dataclass
class Context:
    spark: object
    inputs: str
    facts: dict
    tap: object
    tracer: object
    cores: int
    ops_dir: str
    duck: object = None
    seq: int = 0

    def run_op(self, name: str, timed, check) -> OpResult:
        """Run ``timed(res)`` inside the timed span, then ``check(res)``
        outside it, in a job group of its own when traced. ``res`` is the
        OpResult being filled. Each op gets its own temp directory
        (checkpoints, staged inputs, sink state), measured and deleted
        afterwards."""
        self.seq += 1
        op_id = f"{name}#{self.seq}"
        res = OpResult(name, op_id, 0.0, 0, False)
        op_dir = tempfile.mkdtemp(prefix="op_", dir=self.ops_dir)
        tempfile.tempdir = op_dir
        self.tap.current_op = op_id
        sc = self.spark.sparkContext
        if self.tracer.enabled:
            sc.setJobGroup(op_id, name)
        t0 = time.perf_counter()
        try:
            with self.tracer.span(name, "bench.op"):
                timed(res)
            res.wall_s = time.perf_counter() - t0
            self.tap.wait_idle()
            res.extra["bytes_written"] = _du(op_dir)
            if self.tracer.enabled:
                sc.setJobGroup(f"{op_id}:check", "check")
            with self.tracer.span("check", "bench.check"):
                problems = check(res)
            res.ok = not problems
            res.problem = "; ".join(problems)[:500]
        except Exception as exc:  # one failed op is counted, not fatal
            res.wall_s = res.wall_s or time.perf_counter() - t0
            res.problem = f"{type(exc).__name__}: {exc}"[:500]
            traceback.print_exc(file=sys.stderr)
            try:
                self.tap.wait_idle()
            except TimeoutError as wait_exc:
                print(f"perfbench: {wait_exc}", file=sys.stderr)
        finally:
            if self.tracer.enabled:
                sc.setLocalProperty("spark.jobGroup.id", None)
            self.tap.current_op = None
            tempfile.tempdir = self.ops_dir
            shutil.rmtree(op_dir, ignore_errors=True)
        if not res.ok:
            print(f"perfbench: op {op_id} failed: {res.problem}", file=sys.stderr)
        return res


def _du(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(dirpath, name))
        for dirpath, _, files in os.walk(path)
        for name in files
    )


class StreamWindowAgg:
    name = "stream_window_agg"
    events = gen.EventsSpec()
    corpus = None
    # a drain takes ~5 s on 4 cores: rows_per_s is the fastest of two
    min_passes = 2

    def load_oracles(self, ctx: Context) -> None:
        self.want = oracle.window_oracle(ctx.duck)

    def pass_ops(self, ctx: Context) -> list[OpResult]:
        return [self.drain(ctx)]

    def drain(self, ctx: Context, name: str = "drain") -> OpResult:
        facts = ctx.facts["events"]
        stream_dir = os.path.join(ctx.inputs, "events_stream")
        out = {}

        def timed(res: OpResult) -> None:
            tr = ctx.tracer
            with tr.span("stream_from_staged", "sources"):
                src = stream_from_staged(ctx.spark, stream_dir, ctx.inputs, "events", max_files_per_trigger=1)
            with tr.span("pipeline.build", "plans"):
                agg = (
                    Pipeline()
                    .assign_timestamps_and_watermarks("ts", gen.DELAY_MS / 1000)
                    .key_by("user_id")
                    .window(SlidingEventTimeWindows.of(gen.WINDOW_MS / 1000, gen.SLIDE_MS / 1000))
                    .reduce(sum_("value"), max_("value"), min_("value"), count())
                    .build(src)
                )
            out["dir"] = tempfile.mkdtemp(prefix="window_out_")
            with tr.span("run_to_parquet", "runner"):
                run_to_parquet(agg, output_dir=out["dir"], shuffle_partitions=ctx.cores)
            res.rows_in = facts["rows"]

        def check(res: OpResult) -> list[str]:
            batches = ctx.tap.batches_of(res.op_id)
            res.steps_ms = [float(b["duration_ms"].get("triggerExecution", 0)) for b in batches]
            res.extra["batches"] = batches
            problems = []
            dropped = sum(s["dropped_late"] for b in batches for s in b["state"])
            if dropped != facts["expected_dropped_groups"]:
                problems.append(f"late drops {dropped} != injected {facts['expected_dropped_groups']}")
            got = pq.read_table(out["dir"]).to_pandas()
            problems += oracle.compare(got[oracle.WINDOW_COLUMNS], self.want)
            return problems

        return ctx.run_op(name, timed, check)


SINKS = (
    ("cdc_merge", "streaming_cdc_merge", "docs"),
    ("incremental_dedup", "streaming_incremental_dedup", "docs"),
    ("ivf_index_add", "streaming_ivf_index_add", "vecs"),
    ("bm25_index_add", "streaming_bm25_index_add", "docs"),
)
QUERIES = (("minhash_lsh_near_dup", "docs"),)
SINK_NAMES = tuple(short for short, _, _ in SINKS)
QUERY_NAMES = tuple(q for q, _ in QUERIES)


class CorpusOps:
    """The four epoch-commit sinks and a CPU-heavy batch operator over one
    seeded documents/embeddings corpus, in one fixed mix per pass."""

    name = "corpus_ops"
    events = None
    corpus = gen.CorpusSpec()
    # a pass is long (five ops, ~20 s on 4 cores); one measured pass keeps a
    # run within the benchmark's time budget
    min_passes = 1

    def load_oracles(self, ctx: Context) -> None:
        self.want = {short: ctx.duck.sql(REGISTRY[q].oracle).df() for short, q, _ in SINKS}
        self.want |= {q: ctx.duck.sql(REGISTRY[q].oracle).df() for q, _ in QUERIES}

    def pass_ops(self, ctx: Context) -> list[OpResult]:
        ops = [self.sink(ctx, short, q, table) for short, q, table in SINKS]
        return ops + [self.query(ctx, q, table) for q, table in QUERIES]

    def sink(self, ctx: Context, short: str, query: str, table: str) -> OpResult:
        """Timed: the sink's registry call (stage, drain every epoch,
        commit) plus reading its result back; every value is checked."""
        got = {}

        def timed(res: OpResult) -> None:
            t0 = time.perf_counter()
            with ctx.tracer.span(query, "sinks"):
                df = REGISTRY[query].fn(ctx.spark, ctx.inputs)
            t1 = time.perf_counter()
            with ctx.tracer.span("toPandas", "readback"):
                got["df"] = df.toPandas()
            res.extra["readback_s"] = time.perf_counter() - t1
            starts = [ctx.tap.started_at[r] for r in ctx.tap.runs_of(res.op_id)]
            res.extra["pre_s"] = (min(starts) if starts else t1) - t0
            res.rows_in = ctx.facts["corpus"][table]

        def check(res: OpResult) -> list[str]:
            # a sink's steps are its epochs, as a window drain's are its
            # triggers
            res.extra["batches"] = batches = ctx.tap.batches_of(res.op_id)
            res.steps_ms = [float(b["duration_ms"].get("triggerExecution", 0)) for b in batches]
            return oracle.compare(got["df"], self.want[short])

        return ctx.run_op(short, timed, check)

    def query(self, ctx: Context, query: str, table: str) -> OpResult:
        """Timed: build + ``noop`` materialisation. The check collects the
        same plan again, outside the timed span, and compares every value
        with the oracle."""
        got = {}
        # drop caches earlier queries left; a query's own caches build
        # inside its timed span
        ctx.spark.catalog.clearCache()

        def timed(res: OpResult) -> None:
            t0 = time.perf_counter()
            with ctx.tracer.span(query, "queries"):
                got["df"] = df = REGISTRY[query].fn(ctx.spark, ctx.inputs)
            t1 = time.perf_counter()
            with ctx.tracer.span("noop_write", "engine"):
                df.write.format("noop").mode("overwrite").save()
            res.extra["build_s"] = t1 - t0
            res.extra["exec_s"] = time.perf_counter() - t1
            res.rows_in = ctx.facts["corpus"][table]

        def check(res: OpResult) -> list[str]:
            res.steps_ms = [res.wall_s * 1000.0]
            return oracle.compare(got["df"].toPandas(), self.want[query])

        return ctx.run_op(query, timed, check)


WORKLOADS = {w.name: w for w in (StreamWindowAgg, CorpusOps)}
