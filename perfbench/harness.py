"""One benchmark run: set-up, the measured loop, the traced loop and the
metrics computed from them. ``run.py`` prepares the process (temp root,
environment) before this module is imported."""

from __future__ import annotations

import importlib
import os
import subprocess
import time

import pyarrow
import pyspark
from pyspark import SparkContext

import bench
import gen
import oracle
from rlink_rs_spark.session import get_spark
from rlink_rs_spark.tables import content_fingerprint
from spans import NULL_TRACER, ProgressTap, Tracer, job_metrics, read_event_log
from stats import median, op_fail_ratio, percentile, tail_percentile
from workloads import QUERY_NAMES, SINK_NAMES, WORKLOADS, Context

GEN_REPS = 3
# one full-size warm pass; the second execution of an op in a fresh JVM
# still runs ~30% slower than later ones, so the workloads whose passes
# are short measure several (``min_passes``) and rows_per_s comes from the
# fastest
WARM_PASSES = 1
# a run must end within 180 s; this leaves room for teardown
RUN_LIMIT_S = 150.0
SELF_LAYERS = (
    "sources", "plans", "runner", "sinks", "readback", "queries", "engine",
    "artifacts", "bench.op", "bench.check",
)
ARTIFACT_BUILDERS = (
    ("rlink_rs_spark.operators.similarity", "load_or_train_ivf_codebook"),
    ("rlink_rs_spark.operators.dedup", "load_or_build_band_index"),
)
PHASES = (
    ("sources.latest_offset_ms", "latestOffset"),
    ("sources.get_batch_ms", "getBatch"),
    ("engine.query_planning_ms", "queryPlanning"),
    ("engine.add_batch_ms", "addBatch"),
    ("checkpoint.wal_commit_ms", "walCommit"),
    ("checkpoint.commit_offsets_ms", "commitOffsets"),
)
QUERY_JOB_UNITS = {
    "jobs": "count", "stages": "count", "tasks": "count", "single_task_stages": "count",
    "cpu_util": "ratio", "shuffle_bytes": "bytes", "spill_bytes": "bytes", "task_skew": "ratio",
    "gc_ms": "ms",
}


def _metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def _steal_s() -> float:
    """CPU time the hypervisor gave to other guests so far (all CPUs), from
    /proc/stat; 0 where the kernel does not report it."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def _med(xs: list[float]) -> float:
    """Median, or 0 for a layer the workload does not exercise."""
    return median(xs) if xs else 0.0


class Run:
    """Owns the session, the generated inputs and the temp root of one run."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, tmp_root: str, cores: int):
        if workload not in WORKLOADS:
            raise SystemExit(f"unknown workload {workload!r}; choose from {sorted(WORKLOADS)}")
        self.workload = WORKLOADS[workload]()
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.tmp = tmp_root
        self.cores = cores
        self.spark = None
        self.t_start = time.perf_counter()
        self.fingerprints: list[str] = []
        self.artifact_s: list[float] = []

    # --- set-up -------------------------------------------------------

    def generate(self) -> tuple[str, dict, list[float]]:
        """Generate the inputs GEN_REPS times (the md5 must repeat) and keep
        the last copy."""
        times, md5s = [], []
        for rep in range(GEN_REPS):
            out = os.path.join(self.tmp, f"inputs_{rep}")
            t0 = time.perf_counter()
            facts = gen.generate(out, self.seed, self.workload.events, self.workload.corpus)
            times.append(time.perf_counter() - t0)
            md5s.append(facts["md5"])
        if len(set(md5s)) != 1:
            raise RuntimeError(f"generator is not deterministic for seed {self.seed}: {md5s}")
        stream_dir = os.path.join(out, "events_stream")
        if os.path.isdir(stream_dir):
            gen.set_chunk_mtimes(stream_dir, time.time())
        for table in ("documents", "embeddings"):
            path = os.path.join(out, f"{table}.parquet")
            if os.path.exists(path):
                self.fingerprints.append(content_fingerprint(path))
        return out, facts, times

    def start_session(self, master: str | None = None, event_log: str | None = None):
        conf = {
            "spark.driver.memory": "3g",
            "spark.sql.warehouse.dir": os.path.join(self.tmp, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.eventLog.enabled": "true" if event_log else "false",
        }
        if event_log:
            os.makedirs(event_log, exist_ok=True)
            conf["spark.eventLog.dir"] = "file://" + event_log
            conf["spark.eventLog.compress"] = "false"
            conf["spark.eventLog.rolling.enabled"] = "false"
        self.spark = get_spark(
            "perfbench", master=master or f"local[{self.cores}]",
            shuffle_partitions=self.cores, extra_conf=conf,
        )
        return self.spark

    def wrap_artifact_builders(self, ctx: Context) -> None:
        """Time and span every call into the artifact builders; a builder
        called by another one is counted once, at the outermost call."""
        depth = [0]
        for mod_name, fn_name in ARTIFACT_BUILDERS:
            mod = importlib.import_module(mod_name)

            def wrapped(*a, _fn=getattr(mod, fn_name), _name=fn_name, **kw):
                depth[0] += 1
                t0 = time.perf_counter()
                try:
                    with ctx.tracer.span(_name, "artifacts"):
                        return _fn(*a, **kw)
                finally:
                    depth[0] -= 1
                    if depth[0] == 0:
                        self.artifact_s.append(time.perf_counter() - t0)

            setattr(mod, fn_name, wrapped)

    # --- runs ---------------------------------------------------------

    def measure(self, ctx: Context) -> list[list]:
        """Whole passes until ``seconds`` of operation time passed and at
        least the workload's ``min_passes`` ran."""
        passes: list[list] = []
        spent = 0.0
        while spent < self.seconds or len(passes) < self.workload.min_passes:
            ops = self.workload.pass_ops(ctx)
            passes.append(ops)
            spent += sum(op.wall_s for op in ops)
        return passes

    def execute(self) -> tuple[dict, dict]:
        """Set up, measure (and trace); return (report, result)."""
        host_control_sec = bench.host_control()
        inputs, facts, gen_s = self.generate()
        event_log = os.path.join(self.tmp, "eventlog") if self.trace else None

        t0 = time.perf_counter()
        spark = self.start_session(event_log=event_log)
        session_s = time.perf_counter() - t0

        tap = ProgressTap()
        spark.streams.addListener(tap)
        ops_dir = os.path.join(self.tmp, "ops")
        os.makedirs(ops_dir, exist_ok=True)
        ctx = Context(spark, inputs, facts, tap, NULL_TRACER, self.cores, ops_dir)
        ctx.duck = oracle.connect(inputs, os.path.join(self.tmp, "duckdb"), self.cores)
        self.workload.load_oracles(ctx)
        if self.trace:
            self.wrap_artifact_builders(ctx)

        warm_ops = [op for _ in range(WARM_PASSES) for op in self.workload.pass_ops(ctx)]
        warm_s = sum(op.wall_s for op in warm_ops)
        artifacts_build_s = sum(self.artifact_s)
        steal0, t_measure = _steal_s(), time.perf_counter()
        passes = self.measure(ctx)
        # share of the CPUs' time stolen by other guests while measuring:
        # runs that read slow on a shared host read high here
        steal_share = (_steal_s() - steal0) / ((time.perf_counter() - t_measure) * self.cores)
        all_ops = warm_ops + [op for p in passes for op in p]

        e2e = self.end_to_end(passes)
        e2e["setup_s"] = _metric(session_s + median(gen_s) + warm_s, "s")
        layer = None
        if self.trace:
            tracer = ctx.tracer = Tracer(run_id=f"{self.workload.name}-{self.seed}-{os.getpid()}")
            t_traced = time.perf_counter()
            traced = self.measure(ctx)
            # untraced passes again after the traced ones: the first
            # untraced pass still runs slower than later ones, so the
            # overhead compares the traced passes with the fastest of both.
            # Skipped when they would not end within RUN_LIMIT_S.
            after = []
            now = time.perf_counter()
            if now - self.t_start + (now - t_traced) < RUN_LIMIT_S:
                ctx.tracer = NULL_TRACER
                after = self.measure(ctx)
                ctx.tracer = tracer
            all_ops += [op for p in traced + after for op in p]
            traced_e2e = self.end_to_end(traced)
            untraced_e2e = self.end_to_end(passes + after)
            spark.streams.removeListener(tap)
            self.stop_session()
            layer = self.per_layer(ctx, traced, read_event_log(event_log))
            layer["session.start_s"] = _metric(session_s, "s")
            layer["inputs.generate_s"] = _metric(median(gen_s), "s")
            layer["warm_s"] = _metric(warm_s, "s")
            layer["artifacts.build_s"] = _metric(artifacts_build_s, "s")
            if "rows_per_s" in untraced_e2e and "rows_per_s" in traced_e2e:
                # traced minus untraced, as a share of the untraced result
                layer["trace.overhead_rows_per_s_pct"] = _metric(
                    100.0 * (untraced_e2e["rows_per_s"]["value"] / traced_e2e["rows_per_s"]["value"] - 1.0), "%"
                )
                layer["trace.overhead_step_ms_p50_pct"] = _metric(
                    100.0 * (traced_e2e["step_ms_p50"]["value"] / untraced_e2e["step_ms_p50"]["value"] - 1.0), "%"
                )
            baseline = 0.0
            if self.workload.name == "stream_window_agg":
                op = self.local1_baseline(ctx)
                all_ops.append(op)
                baseline = op.rows_in / op.wall_s if op.ok else 0.0
            layer["baseline.local1_rows_per_s"] = _metric(baseline, "1/s")

        attempted = len(all_ops)
        failed = sum(1 for op in all_ops if not op.ok)
        report = {
            "workload": self.workload.name,
            "seed": self.seed,
            "trace": int(self.trace),
            "env": {
                "cpus": self.cores,
                "master": f"local[{self.cores}]",
                "shuffle_partitions": self.cores,
                "spark": pyspark.__version__,
                "pyarrow": pyarrow.__version__,
                "input_md5": facts["md5"],
                "host_control_sec": host_control_sec,
                "loadavg": [round(x, 2) for x in os.getloadavg()],
                "steal_share": steal_share,
            },
            "inputs": {k: v for k, v in facts.items() if k != "md5"},
            "setup": {"session_s": session_s, "generate_s": gen_s, "warm_s": warm_s},
            "passes": len(passes),
            "untraced_passes_after_trace": len(after) if self.trace else 0,
            "attempted": attempted,
            "failed": failed,
            "op_fail_ratio": op_fail_ratio(attempted, failed),
            "failures": [f"{op.op_id}: {op.problem}" for op in all_ops if not op.ok][:20],
            "end_to_end": e2e,
            "workload_metrics": self.workload_metrics(passes),
        }
        if self.trace:
            report["spans"] = tracer.export()
        metrics = layer if self.trace else e2e
        return report, {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}

    def local1_baseline(self, ctx: Context):
        """One checked drain of the same pipeline on ``local[1]``, in a new
        context of the same (warm) JVM."""
        spark = self.start_session(master="local[1]")
        ctx.spark = spark
        ctx.tracer = NULL_TRACER
        ctx.tap = ProgressTap()
        spark.streams.addListener(ctx.tap)
        return self.workload.drain(ctx, name="drain_local1")

    # --- metrics ------------------------------------------------------

    def end_to_end(self, passes: list[list]) -> dict:
        """rows_per_s from the fastest measured pass (least disturbed by
        other guests on a shared host; every pass runs the same fixed mix):
        its input rows over its wall time. step_ms_p50/p90: percentiles of
        the step times (a window trigger; a sink epoch; a query) of every
        measured pass. Passes with a failed op are left out."""
        good = [p for p in passes if all(op.ok for op in p)]
        if not good:
            return {}
        best = min(good, key=lambda p: sum(op.wall_s for op in p))
        steps = [s for p in good for op in p for s in op.steps_ms]
        return {
            "rows_per_s": _metric(sum(op.rows_in for op in best) / sum(op.wall_s for op in best), "1/s"),
            "step_ms_p50": _metric(percentile(steps, 50), "ms"),
            "step_ms_p90": _metric(percentile(steps, 90), "ms"),
        }

    def workload_metrics(self, passes: list[list]) -> dict:
        """The workload's own metrics, medians over every measured op (or
        trigger), each with unit and sample count."""
        ops = [op for p in passes for op in p if op.ok]
        out: dict = {}
        if self.workload.name == "stream_window_agg":
            steps = [s for op in ops for s in op.steps_ms]
            if not steps:
                return out
            out["rows_per_s"] = {"value": _med([op.rows_in / op.wall_s for op in ops]), "unit": "1/s", "n": len(ops)}
            for p in (50, 90):
                out[f"batch_ms_p{p}"] = {"value": percentile(steps, p), "unit": "ms", "n": len(steps)}
            tail = tail_percentile(len(steps))
            if tail is not None:
                out["batch_ms_tail"] = {"value": percentile(steps, tail), "unit": "ms", "n": len(steps), "p": tail}
            return out
        for prefix, names in (("sink_s", SINK_NAMES), ("query_s", QUERY_NAMES)):
            for name in names:
                walls = [op.wall_s for op in ops if op.name == name]
                out[f"{prefix}.{name}"] = {"value": _med(walls), "unit": "s", "n": len(walls)}
        return out

    def per_layer(self, ctx: Context, passes: list[list], log) -> dict:
        """Per-layer metrics of the traced passes. A layer the workload does
        not exercise reads 0."""
        ops = [op for p in passes for op in p if op.ok]
        batches = [b for op in ops for b in op.extra.get("batches", [])]
        out: dict = {}
        for name, key in PHASES:
            out[name] = _metric(_med([b["duration_ms"].get(key, 0) for b in batches]), "ms")

        stateful = [b["state"] for b in batches if b["state"]]

        def state(key: str, per_store: bool = False) -> float:
            return _med(
                [sum(s[key] for s in st) / (sum(s["stores"] for s in st) if per_store else 1) for st in stateful]
            )

        out["state.commit_ms"] = _metric(state("commit_ms"), "ms")
        out["state.commit_ms_per_store"] = _metric(state("commit_ms", per_store=True), "ms")
        out["state.update_ms"] = _metric(state("update_ms"), "ms")
        out["state.removal_ms"] = _metric(state("removal_ms"), "ms")
        out["state.rows_total"] = _metric(state("rows_total"), "count")
        out["state.rows_updated"] = _metric(state("rows_updated"), "count")
        out["state.memory_bytes"] = _metric(state("memory_bytes"), "bytes")
        out["state.stores"] = _metric(max((sum(s["stores"] for s in st) for st in stateful), default=0), "count")
        out["state.rows_dropped_late"] = _metric(
            _med(
                [
                    sum(s["dropped_late"] for b in op.extra.get("batches", []) for s in b["state"])
                    for op in ops
                    if op.name == "drain"
                ]
            ),
            "count",
        )

        jobs = {op.op_id: job_metrics([op.op_id] + ctx.tap.runs_of(op.op_id), op.wall_s, self.cores, log) for op in ops}
        for name in SINK_NAMES:
            mine = [op for op in ops if op.name == name]
            epochs = [op.extra["batches"] for op in mine]
            out[f"sink.{name}.epochs"] = _metric(_med([len(e) for e in epochs]), "count")
            out[f"sink.{name}.epoch_ms"] = _metric(
                _med([b["duration_ms"].get("triggerExecution", 0) for e in epochs for b in e]), "ms"
            )
            out[f"sink.{name}.jobs_per_epoch"] = _metric(
                _med([jobs[op.op_id]["jobs"] / len(e) for op, e in zip(mine, epochs) if e]), "count"
            )
            for key, unit in (("pre_s", "s"), ("readback_s", "s"), ("bytes_written", "bytes")):
                out[f"sink.{name}.{key}"] = _metric(_med([op.extra[key] for op in mine]), unit)
        for name in QUERY_NAMES:
            mine = [op for op in ops if op.name == name]
            out[f"query.{name}.build_s"] = _metric(_med([op.extra["build_s"] for op in mine]), "s")
            out[f"query.{name}.exec_s"] = _metric(_med([op.extra["exec_s"] for op in mine]), "s")
            for key, unit in QUERY_JOB_UNITS.items():
                out[f"query.{name}.{key}"] = _metric(_med([jobs[op.op_id][key] for op in mine]), unit)

        n_pass = len(passes)
        per_op = [jobs[op.op_id] for op in ops]
        wall = sum(op.wall_s for op in ops)
        for key, unit in (
            ("jobs", "count"), ("tasks", "count"), ("single_task_stages", "count"),
            ("shuffle_bytes", "bytes"), ("spill_bytes", "bytes"), ("gc_ms", "ms"),
        ):
            out[f"engine.{key}"] = _metric(sum(m[key] for m in per_op) / n_pass, unit)
        busy = sum(m["cpu_util"] * op.wall_s for m, op in zip(per_op, ops))
        out["engine.cpu_util"] = _metric(busy / wall if wall else 0.0, "ratio")
        out["engine.task_skew"] = _metric(_med([m["task_skew"] for m in per_op]), "ratio")
        out["engine.task_retries"] = _metric(sum(m["task_retries"] for m in per_op), "count")

        self_times = ctx.tracer.self_times()
        for layer in SELF_LAYERS:
            out[f"self_s.{layer}"] = _metric(self_times.get(layer, 0.0) / n_pass, "s")
        return out

    # --- teardown -----------------------------------------------------

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def close(self) -> None:
        """Stop Spark, shut its JVM down and wait for it to exit."""
        self.stop_session()
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = gateway.proc
            gateway.shutdown()
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
            SparkContext._gateway = None
            SparkContext._jvm = None

