"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. One run is one fresh process with its own
Spark JVM on ``local[<cpus>]`` and one client in a closed loop:

1. set-up: generate the seeded inputs (three times; the md5 must repeat),
   start the session, compute the DuckDB oracles (untimed), then one
   full-size warm pass whose outputs are checked;
2. measure: whole passes of the workload's fixed operation mix until
   ``--seconds`` of operation time have passed and at least the
   workload's minimum number of passes ran, every output checked outside
   its timed span; rows_per_s comes from the fastest pass, the step
   percentiles from the steps of every pass;
3. with ``--trace 1``: the same measured loop again with spans and job
   groups on (the Spark event log is on for the whole run), for the
   per-layer metrics, then once more untraced when that still ends well
   within 180 s; the tracing overhead compares the traced loop with the
   untraced ones. ``stream_window_agg``
   also drains once on ``local[1]`` as the single-core baseline.

The second-to-last stdout line is a JSON ``report`` (run environment and
the workload's metrics by name, unit and sample count); the last line is
the result ``{"correct", "attempted", "failed", "metrics"}``. A wrong or
failed operation makes ``correct`` false and the exit code 1.

Everything the run writes goes under ``.perfbench_tmp/`` in the
repository root (TMPDIR, SPARK_LOCAL_DIRS, the JVM's temp dir, the event
log) and is deleted at exit, as are the ``artifacts/`` cache entries keyed
by the generated inputs' content fingerprints.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TMP_BASE = os.path.join(ROOT, ".perfbench_tmp")


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description="Seeded benchmark of rlink_rs_spark.")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def remove_artifacts(root: str, fingerprints: list[str]) -> list[str]:
    """Delete ``<root>/<cache>/<entry>`` entries whose name carries one of
    ``fingerprints`` (the artifact caches key entries by the content
    fingerprint of the input they were built from); return them."""
    removed = []
    if not fingerprints or not os.path.isdir(root):
        return removed
    for cache in sorted(os.listdir(root)):
        cdir = os.path.join(root, cache)
        if not os.path.isdir(cdir):
            continue
        for entry in sorted(os.listdir(cdir)):
            if any(fp in entry for fp in fingerprints):
                shutil.rmtree(os.path.join(cdir, entry))
                removed.append(os.path.join(cache, entry))
    return removed


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    cores = len(os.sched_getaffinity(0))
    # read by rlink_rs_spark.session at import
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    sys.path.insert(0, ROOT)
    # the program under test: importing it first makes a checkout without
    # it fail here, before anything is written
    import rlink_rs_spark.queries  # noqa: F401

    os.makedirs(TMP_BASE, exist_ok=True)
    tmp_root = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=TMP_BASE)
    os.environ["TMPDIR"] = tmp_root
    os.environ["SPARK_LOCAL_DIRS"] = tmp_root
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp_root}"
    tempfile.tempdir = tmp_root
    try:
        from harness import Run

        run = Run(args.workload, args.seed, args.seconds, bool(args.trace), tmp_root, cores)
        try:
            report, result = run.execute()
        finally:
            try:
                run.close()
            finally:
                remove_artifacts(os.path.join(ROOT, "artifacts"), run.fingerprints)
    finally:
        shutil.rmtree(tmp_root, ignore_errors=True)
        try:
            os.rmdir(TMP_BASE)
        except OSError:  # another run still uses it
            pass
    print(json.dumps({"report": report}))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
