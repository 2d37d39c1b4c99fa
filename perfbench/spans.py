"""Benchmark-side instrumentation.

* ``ProgressTap``: a StreamingQueryListener that keeps every micro-batch
  progress report (per-phase ``durationMs``, state-operator counters)
  keyed by the query's run id, tagged with the benchmark operation that
  started the query. Untraced runs use it too: per-trigger wall times are
  an end-to-end metric of the streaming workloads.
* ``Tracer`` / ``NULL_TRACER``: spans (name, layer, start, end, parent,
  run id) recorded around each call the benchmark makes into a layer,
  held in memory and written into the report at exit; layer self time =
  span time not covered by child spans.
* ``read_event_log``: job, stage and task metrics from a Spark event log,
  attributed to benchmark operations by job group.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time
from dataclasses import dataclass, field

from pyspark.sql.streaming import StreamingQueryListener

from stats import median


class ProgressTap(StreamingQueryListener):
    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.current_op: str | None = None
        self.op_of_run: dict[str, str] = {}
        self.started_at: dict[str, float] = {}
        self.progress: dict[str, list[dict]] = {}
        self.n_started = 0
        self.n_terminated = 0

    def onQueryStarted(self, event):  # noqa: N802 (Spark API names)
        run_id = str(event.runId)
        with self._lock:
            self.op_of_run[run_id] = self.current_op or ""
            self.started_at[run_id] = time.perf_counter()
            self.progress.setdefault(run_id, [])
            self.n_started += 1

    def onQueryProgress(self, event):  # noqa: N802
        p = event.progress
        ops = list(p.stateOperators or [])
        row = {
            "batch_id": p.batchId,
            "input_rows": p.numInputRows,
            "duration_ms": {k: int(v) for k, v in dict(p.durationMs or {}).items()},
            "state": [
                {
                    "rows_total": o.numRowsTotal,
                    "rows_updated": o.numRowsUpdated,
                    "rows_removed": o.numRowsRemoved,
                    "commit_ms": o.commitTimeMs,
                    "update_ms": o.allUpdatesTimeMs,
                    "removal_ms": o.allRemovalsTimeMs,
                    "memory_bytes": o.memoryUsedBytes,
                    "dropped_late": o.numRowsDroppedByWatermark,
                    "stores": o.numStateStoreInstances,
                }
                for o in ops
            ],
        }
        with self._lock:
            self.progress.setdefault(str(p.runId), []).append(row)

    def onQueryIdle(self, event):  # noqa: N802
        pass

    def onQueryTerminated(self, event):  # noqa: N802
        with self._lock:
            self.n_terminated += 1

    def wait_idle(self, timeout: float = 30.0) -> None:
        """Block until every started query's terminated event arrived; the
        bus delivers per query in order, so its progress is complete."""
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            with self._lock:
                if self.n_terminated >= self.n_started:
                    return
            time.sleep(0.01)
        raise TimeoutError(
            f"listener saw {self.n_terminated} of {self.n_started} queries terminate"
        )

    def batches_of(self, op_id: str) -> list[dict]:
        """Progress rows of every query started during operation ``op_id``."""
        with self._lock:
            return [
                row
                for run_id, op in self.op_of_run.items()
                if op == op_id
                for row in self.progress.get(run_id, [])
            ]

    def runs_of(self, op_id: str) -> list[str]:
        with self._lock:
            return [r for r, op in self.op_of_run.items() if op == op_id]


@dataclass
class Span:
    name: str
    layer: str
    start: float
    end: float = 0.0
    parent: int | None = None
    run_id: str = ""


@dataclass
class Tracer:
    run_id: str
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    enabled = True

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, layer, time.perf_counter(), parent=parent, run_id=self.run_id))
        idx = len(self.spans) - 1
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def export(self) -> list[list]:
        """[name, layer, start, end, parent, run id] per span, times in
        seconds from the first span's start."""
        t0 = min((s.start for s in self.spans), default=0.0)
        return [[s.name, s.layer, s.start - t0, s.end - t0, s.parent, s.run_id] for s in self.spans]

    def self_times(self) -> dict[str, float]:
        """Seconds per layer of span time not covered by child spans."""
        child_time = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child_time[s.parent] += s.end - s.start
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            out[s.layer] = out.get(s.layer, 0.0) + (s.end - s.start) - child_time[i]
        return out


class _NullTracer:
    enabled = False
    spans: list[Span] = []

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        yield


NULL_TRACER = _NullTracer()


@dataclass
class StageStats:
    tasks: int = 0
    run_ms: list[int] = field(default_factory=list)
    gc_ms: int = 0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    retries: int = 0


def read_event_log(log_dir: str) -> tuple[dict[str, list[int]], dict[int, list[int]], dict[int, StageStats]]:
    """Parse the (single, uncompressed) event log under ``log_dir``.
    Returns (job group -> job ids, job id -> stage ids, stage id -> stats).
    A stage attempt that re-ran counts its extra tasks as retries."""
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {names}")
    jobs_of_group: dict[str, list[int]] = {}
    stages_of_job: dict[int, list[int]] = {}
    stages: dict[int, StageStats] = {}
    with open(os.path.join(log_dir, names[0])) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                jobs_of_group.setdefault(group, []).append(ev["Job ID"])
                stages_of_job[ev["Job ID"]] = list(ev.get("Stage IDs") or [])
            elif kind == "SparkListenerTaskEnd":
                st = stages.setdefault(ev["Stage ID"], StageStats())
                info = ev.get("Task Info") or {}
                m = ev.get("Task Metrics") or {}
                if info.get("Failed") or info.get("Killed") or ev.get("Stage Attempt ID", 0) > 0:
                    st.retries += 1
                if info.get("Failed") or info.get("Killed"):
                    continue
                st.tasks += 1
                st.run_ms.append(int(m.get("Executor Run Time", 0)))
                st.gc_ms += int(m.get("JVM GC Time", 0))
                st.shuffle_bytes += int((m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0))
                st.spill_bytes += int(m.get("Memory Bytes Spilled", 0)) + int(m.get("Disk Bytes Spilled", 0))
    return jobs_of_group, stages_of_job, stages


def job_metrics(
    groups: list[str],
    wall_s: float,
    cores: int,
    log: tuple[dict[str, list[int]], dict[int, list[int]], dict[int, StageStats]],
) -> dict[str, float]:
    """Scheduler metrics of the jobs run under ``groups`` over ``wall_s``
    seconds of operation wall time."""
    jobs_of_group, stages_of_job, stages = log
    jobs = [j for g in groups for j in jobs_of_group.get(g, [])]
    stage_ids = sorted({s for j in jobs for s in stages_of_job.get(j, []) if s in stages})
    ran = [stages[s] for s in stage_ids if stages[s].tasks]
    run_ms = sum(sum(st.run_ms) for st in ran)
    skews = [
        max(st.run_ms) / max(median(st.run_ms), 1.0) for st in ran if len(st.run_ms) >= 2
    ]
    return {
        "jobs": len(jobs),
        "stages": len(ran),
        "tasks": sum(st.tasks for st in ran),
        "single_task_stages": sum(1 for st in ran if st.tasks == 1),
        "cpu_util": run_ms / 1000.0 / (wall_s * cores) if wall_s > 0 else 0.0,
        "shuffle_bytes": sum(st.shuffle_bytes for st in ran),
        "spill_bytes": sum(st.spill_bytes for st in ran),
        "task_skew": max(skews) if skews else 1.0,
        "gc_ms": sum(st.gc_ms for st in ran),
        "task_retries": sum(stages[s].retries for s in stage_ids),
    }
