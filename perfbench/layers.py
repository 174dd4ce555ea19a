"""Per-layer timings for the traced run: calls into each module's public
functions on the run's own rows, timed from the benchmark's side.

- ``io``: ``events_with_arrival`` on the input, forced through noop;
- ``fads_batch``: ``run_fads_pandas`` in-process, once per FADS group;
- ``fads_core``: ``FADSState.process`` + ``flush`` on one key's rows;
- ``fads_stream``: ``encode_state`` / ``decode_state`` on that state plus
  the pending rows it still buffers.

Spark's own surfaces (the event log and ``StreamingQueryProgress``) are
read in :mod:`spark_env`.
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np
import pandas as pd

import spark_env
import verify
from pyfads.fads_batch import run_fads_pandas
from pyfads.fads_core import FADSState
from pyfads.fads_stream import decode_state, encode_state, fads_generalize_stream
from pyfads.io import events_with_arrival, stream_shuffle_scope

CORE_ROWS = 8000  # fads_core / codec: the first rows of the busiest key
REPS = 5


def _median_time(fn, reps: int = REPS) -> float:
    ts = []
    for _ in range(reps):
        t = time.perf_counter()
        fn()
        ts.append(time.perf_counter() - t)
    return statistics.median(ts)


def scan_s(spark, sf_dir: str) -> float:
    return _median_time(
        lambda: events_with_arrival(spark, sf_dir).write.format("noop").mode("overwrite").save(), 3
    )


def engine(frame: pd.DataFrame, grp, cfg) -> float:
    t = time.perf_counter()
    for g in grp:
        run_fads_pandas(frame.iloc[g], cfg)
    return time.perf_counter() - t


def core_and_codec(frame: pd.DataFrame, key: str | None, cfg) -> dict[str, float]:
    g = max(verify.groups(frame, key, None), key=len)[:CORE_ROWS]
    rows = frame.iloc[g]
    pids = rows[cfg.pid_col].to_numpy()
    q = rows[list(cfg.qid_cols)].to_numpy(dtype=np.float64)
    arr = rows[cfg.arrival_col].to_numpy(dtype=np.int64)
    state = FADSState(cfg)
    t = time.perf_counter()
    state.process(pids, q, arr)
    process_s = time.perf_counter() - t
    # the pending-row store as the streaming handler keeps it: the rows the
    # state still buffers, indexed by pid
    pending = rows.set_index(rows[cfg.pid_col].to_numpy())
    pending = pending.loc[[b[0] for b in state.buffer]]
    pending.index.name = cfg.pid_col
    blob = encode_state(state, pending)
    enc = _median_time(lambda: encode_state(state, pending))
    dec = _median_time(lambda: decode_state(blob, cfg))
    t = time.perf_counter()
    state.flush()
    process_s += time.perf_counter() - t
    return {
        "fads_core.process_s": process_s,
        "fads_core.live_clusters": float(len(state.clusters)),
        "fads_stream.encode_ms": 1000 * enc,
        "fads_stream.decode_ms": 1000 * dec,
        "fads_stream.state_blob_kb": len(blob) / 1024,
    }


def replay_stream(spark, w, frame: pd.DataFrame, work: str, chunks: int):
    """Feed ``frame`` (FADS-ready rows in arrival order) through
    ``fads_generalize_stream`` as ``chunks`` micro-batches from a file
    source; return the released rows and the query id once every row is
    ingested.  Rows still buffered (at most ``buffer_rows`` per key) stay
    unreleased: the idle flush is not awaited."""
    src_dir = os.path.join(work, "replay", "src")
    os.makedirs(src_dir, exist_ok=True)
    cut = np.linspace(0, len(frame), chunks + 1).astype(int)
    for i in range(chunks):
        path = os.path.join(src_dir, f"chunk_{i}.parquet")
        frame.iloc[cut[i] : cut[i + 1]].to_parquet(path, index=False)
        os.utime(path, (1_000_000 + i, 1_000_000 + i))  # the source orders by mtime
    schema = spark.read.parquet(src_dir).schema
    src = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src_dir)
    out = fads_generalize_stream(src, w.cfg, partition_cols=[w.key] if w.key else None)
    got: list[pd.DataFrame] = []
    with stream_shuffle_scope(spark, n_keys=w.keys):
        q = (
            out.writeStream.foreachBatch(lambda df, _bid: got.append(df.toPandas()))
            .option("checkpointLocation", os.path.join(work, "replay", "ck"))
            .start()
        )
        try:
            deadline = time.monotonic() + 120
            while sum(p["numInputRows"] for p in q.recentProgress) < len(frame):
                if not q.isActive or time.monotonic() > deadline:
                    raise RuntimeError(f"replay stream stalled: {q.exception()}")
                time.sleep(0.05)
        finally:
            q.stop()
    return pd.concat(got, ignore_index=True), q.id


def table(spark, w, res) -> dict[str, float]:
    """Every in-process per-layer metric for one run.  ``fads_batch``'s
    Spark overhead is the operation's wall time less the scan and the
    engine's share of it (engine time for the input, spread over the task
    slots the groups can use)."""
    cfg = w.cfg
    frame = res.frame
    grp = verify.groups(frame, w.key, w.max_group_rows)
    m = {"io.scan_s": scan_s(spark, res.input_dir)}
    eng = engine(frame, grp, cfg)
    m["fads_batch.engine_s"] = eng
    m["fads_batch.engine_rows_per_s"] = len(frame) / eng
    par = min(spark_env.SLOTS, len(grp))
    job_s = res.metrics["job_s"]
    m["fads_batch.spark_overhead_s"] = job_s - m["io.scan_s"] - eng / par
    m.update(core_and_codec(frame, w.key, cfg))
    m["traced.job_s"] = job_s
    return m
