"""Spark session lifecycle and Spark's own measurement surfaces.

- :func:`start` / :func:`stop` — a local session sized to at most four task
  slots with a fixed 2 GB driver heap, every scratch path inside the
  benchmark's work directory, and a stop that waits for the JVM to exit.
- :func:`peak_rss_mb` — summed peak RSS (``VmHWM``) of the driver JVM and
  the Python workers (every process below this one).
- :class:`ProgressLog` — a :class:`pyfads.metrics.ThroughputListener` that
  also keeps each ``StreamingQueryProgress`` as parsed JSON.
- :func:`event_log_ops` — per-operation stage metrics folded from the event
  log that the traced run writes.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import signal
import statistics
import subprocess
import tempfile
import time

from pyfads.metrics import ThroughputListener

SLOTS = min(4, len(os.sched_getaffinity(0)))  # task slots: at most the cores we may use
OP_PROPERTY = "perfbench.op"  # job property naming the operation a job belongs to


def start(work: str, trace: bool):
    """Start the session; with ``trace`` the event log goes to
    ``<work>/eventlog``."""
    from pyspark.sql import SparkSession

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp  # PySpark's gateway handshake files
    tempfile.tempdir = tmp
    b = (
        SparkSession.builder.master(f"local[{SLOTS}]")
        .appName("perfbench")
        .config("spark.driver.memory", "2g")
        # a fixed, pre-touched heap: the JVM's resident set does not depend
        # on when the collector chose to grow the heap
        .config(
            "spark.driver.extraJavaOptions",
            f"-Xms2g -XX:+AlwaysPreTouch -Djava.io.tmpdir={tmp}",
        )
        .config("spark.local.dir", os.path.join(work, "local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(SLOTS))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.files.maxPartitionBytes", "2m")
        .config("spark.sql.files.openCostInBytes", "256k")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.streaming.numRecentProgressUpdates", "1000")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", "file://" + os.path.abspath(log_dir))
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop(spark, timeout_s: float = 60.0) -> None:
    """Stop the session and wait for the JVM and the Python workers to exit
    (PySpark's own stop leaves the gateway JVM running until this process
    exits, and the JVM's worker daemon outlives it briefly)."""
    from pyspark import SparkContext

    spawned = _descendants()
    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    finally:
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=timeout_s)
            except subprocess.TimeoutExpired:  # a hung JVM must not outlive the run
                proc.kill()
                proc.wait(timeout=timeout_s)
        deadline = time.monotonic() + timeout_s
        for pid in spawned:
            while _alive(pid):
                if time.monotonic() > deadline:
                    with contextlib.suppress(ProcessLookupError):
                        os.kill(pid, signal.SIGKILL)
                    break
                time.sleep(0.05)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # process ended while listing
            continue
        kids.setdefault(int(fields[1]), []).append(int(stat.split("/")[2]))
    return kids


def _descendants() -> list[int]:
    """Every process below this one: the driver JVM, the PySpark daemon and
    its workers."""
    kids = _children()
    todo, out = list(kids.get(os.getpid(), [])), []
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def peak_rss_mb() -> float:
    """Sum of ``VmHWM`` (peak resident set) over every descendant of this
    process."""
    total_kb = 0
    for pid in _descendants():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


class ProgressLog(ThroughputListener):
    """Keeps every progress update of every query as parsed JSON."""

    def __init__(self):
        super().__init__("perfbench")
        self.progress: list[dict] = []

    def onQueryProgress(self, event):  # noqa: N802
        super().onQueryProgress(event)
        self.progress.append(json.loads(event.progress.json))


def p50(xs) -> float:
    return float(statistics.median(xs)) if xs else float("nan")


def stream_phases(progress: list[dict]) -> dict[str, float]:
    """The ``stream.*`` per-layer table from a query's progress updates."""
    dur = [p.get("durationMs", {}) for p in progress]
    ops = [p["stateOperators"][0] for p in progress if p.get("stateOperators")]
    last = ops[-1] if ops else {}
    return {
        "stream.batches": float(len(progress)),
        "stream.rows_per_batch_p50": p50([p["numInputRows"] for p in progress]),
        "stream.trigger_ms_p50": p50([d.get("triggerExecution", 0) for d in dur]),
        "stream.add_batch_ms_p50": p50([d.get("addBatch", 0) for d in dur]),
        "stream.planning_ms_p50": p50([d.get("queryPlanning", 0) for d in dur]),
        "stream.wal_commit_ms_p50": p50([d.get("walCommit", 0) for d in dur]),
        "stream.state_rows": float(last.get("numRowsTotal", 0)),
        "stream.state_mb": float(last.get("memoryUsedBytes", 0)) / 2**20,
        "stream.state_commit_ms_p50": p50([o.get("commitTimeMs", 0) for o in ops]),
    }


def event_log_ops(log_dir: str, fads_node: str, op_of) -> dict[str, float]:
    """Fold the event log into the ``spark.*`` metrics.  ``op_of(props)``
    names the operation a job belongs to from its properties (``None``:
    not measured).  Per operation: summed task metrics over its stages and
    the skew (max / median task run time) of the stage running
    ``fads_node``; the median over operations is reported."""
    ops: set[str] = set()
    stage_op: dict[int, str] = {}
    fads_stages: set[int] = set()
    tasks: dict[int, list[dict]] = {}
    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    op = op_of(ev.get("Properties") or {})
                    if op is None:
                        continue
                    ops.add(op)
                    for st in ev.get("Stage Infos", []):
                        stage_op[st["Stage ID"]] = op
                        if any(fads_node in r.get("Scope", "") for r in st.get("RDD Info", [])):
                            fads_stages.add(st["Stage ID"])
                elif kind == "SparkListenerTaskEnd":
                    tasks.setdefault(ev["Stage ID"], []).append(ev.get("Task Metrics") or {})
    per_op = {op: {"read": 0.0, "write": 0.0, "run": 0.0, "skew": []} for op in ops}
    for sid, op in stage_op.items():
        acc = per_op[op]
        runs = []
        for m in tasks.get(sid, []):
            sr = m.get("Shuffle Read Metrics", {})
            acc["read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            acc["write"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
            acc["run"] += m.get("Executor Run Time", 0)
            runs.append(m.get("Executor Run Time", 0))
        if sid in fads_stages and runs:
            acc["skew"].append(max(runs) / max(statistics.median(runs), 1))
    vals = list(per_op.values())
    return {
        "spark.shuffle_read_mb": p50([v["read"] / 2**20 for v in vals]),
        "spark.shuffle_write_mb": p50([v["write"] / 2**20 for v in vals]),
        "spark.executor_run_s": p50([v["run"] / 1000 for v in vals]),
        "spark.fads_task_skew": p50([max(v["skew"]) for v in vals if v["skew"]]),
    }
