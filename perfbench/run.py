#!/usr/bin/env python3
"""FADS benchmark: one run of one workload.

    python3 perfbench/run.py --workload reference_job --seed 1 --seconds 10 --trace 0

Run from the repository root; the program under test is the ``pyfads``
package next to ``perfbench/``.  The last line of stdout is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: with ``--trace 0`` the
end-to-end metrics (measured with tracing off), with ``--trace 1`` the
per-layer table (event log on, listener on, in-process layer timings).
Every scratch file lives in ``perfbench/.work/`` and is removed at exit.
See ``perfbench/README.md`` for what each metric means.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# name -> unit; the order is the order printed
END_TO_END = {
    "setup_s": "s",
    "job_s": "s",
    "rows_per_s": "rows/s",
    "info_loss": "ratio",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "io.scan_s": "s",
    "fads_batch.engine_s": "s",
    "fads_batch.engine_rows_per_s": "rows/s",
    "fads_batch.spark_overhead_s": "s",
    "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "spark.executor_run_s": "s",
    "spark.fads_task_skew": "ratio",
    "fads_core.process_s": "s",
    "fads_core.live_clusters": "count",
    "fads_stream.encode_ms": "ms",
    "fads_stream.decode_ms": "ms",
    "fads_stream.state_blob_kb": "KB",
    "stream.batches": "count",
    "stream.rows_per_batch_p50": "rows",
    "stream.trigger_ms_p50": "ms",
    "stream.add_batch_ms_p50": "ms",
    "stream.planning_ms_p50": "ms",
    "stream.wal_commit_ms_p50": "ms",
    "stream.state_rows": "count",
    "stream.state_mb": "MB",
    "stream.state_commit_ms_p50": "ms",
    "stream.released_over_offered": "ratio",
    "traced.job_s": "s",
}
WORKLOAD_NAMES = ("reference_job", "sparse_keyed")
REPLAY_CHUNKS = 6  # micro-batches of the stream replay


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _traced(spark, w, res, listener, work: str) -> dict[str, float]:
    import layers
    import spark_env

    m = layers.table(spark, w, res)
    # the streaming runtime on this workload's twin rows, replayed
    twin = res.frame.sort_values(["arrival_ms", "event_id"]).iloc[: w.twin_rows]
    out, qid = layers.replay_stream(spark, w, twin, work, REPLAY_CHUNKS)
    m["stream.released_over_offered"] = len(out) / len(twin)
    m.update(spark_env.stream_phases([p for p in listener.progress if p["id"] == qid]))
    return m


def _op_of(res):
    import spark_env

    def op_of(props):
        op = props.get(spark_env.OP_PROPERTY)
        return op if op in res.op_ids else None

    return op_of


def main(argv=None) -> int:
    args = _args(argv)
    t0 = time.time()
    if not os.path.isdir(os.path.join(ROOT, "pyfads")):
        print(f"perfbench: no pyfads package next to {HERE}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    os.environ.pop("SPARK_LOCAL_DIRS", None)  # keep Spark's scratch in the work dir
    # the Python workers import pyfads from the same tree, whatever the cwd
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    import spark_env
    import workloads

    w = workloads.WORKLOADS[args.workload]
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    trace = bool(args.trace)
    workloads.log(f"{args.workload} seed {args.seed}: starting Spark")
    try:
        spark = spark_env.start(work, trace)
        try:
            listener = None
            if trace:
                listener = spark_env.ProgressLog()
                spark.streams.addListener(listener)
            res = workloads.run(spark, w, args.seed, args.seconds, work, t0)
            if trace and res.metrics:
                traced = _traced(spark, w, res, listener, work)
        finally:
            spark_env.stop(spark)
        if trace and res.metrics:
            traced.update(spark_env.event_log_ops(
                os.path.join(work, "eventlog"), "FlatMapGroupsInPandas", _op_of(res)
            ))
            res.metrics = traced
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run's work dir is still there
            pass

    names = PER_LAYER if trace else END_TO_END
    missing = [n for n in names if n not in res.metrics]
    if missing:
        print(f"perfbench: run produced no value for {missing}", file=sys.stderr)
        return 1
    line = {
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {n: {"value": float(res.metrics[n]), "unit": u} for n, u in names.items()},
    }
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
