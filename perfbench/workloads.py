"""The two workloads and how one run of each is measured.

- ``reference_job``: the first 20 s of the reference job's own traffic
  (offered at 1,000 rows/s, k=10, buffer 30, reuse 60 s) through parity
  batch FADS (``fads_generalize``, one group).  Up to ~2k live clusters
  per release: the cluster table does almost all the work.  The full 60 s
  run (~6k clusters) takes 20-25 s per operation on a shared 4-core host,
  so only one operation fit a run and its time moved 15-29 % with the host.
- ``sparse_keyed``: 150k rows at the sf0.1 fixture's arrival density (0.04
  rows/s, so clusters expire unused), 64 Zipf(1.1) ``event_type`` keys,
  k=5, buffer 15, through scale-out batch FADS
  (``fads_generalize_partitioned``, ``max_group_rows=2048``).  Scan,
  shuffle, Arrow transfer, per-group fixed cost and the kNN loop do the
  work; the cluster table is idle.

An operation is one complete FADS job over the whole input: the output is
materialized once in executor memory (so it can be checked without
re-running the job) and forced through the noop sink, with an
order-independent digest observed in the same job.
"""

from __future__ import annotations

import os
import statistics
import sys
import time
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import Observation

import gen
import spark_env
import verify
from pyfads.config import FADSConfig
from pyfads.fads_batch import fads_generalize, fads_generalize_partitioned
from pyfads.io import events_with_arrival


@dataclass(frozen=True)
class Workload:
    name: str
    rows: int
    density: float  # rows per second of arrival clock
    keys: int
    zipf_s: float
    cfg: FADSConfig
    key: str | None  # partition column; None is one parity group
    max_group_rows: int | None
    twin_rows: int  # the input's first rows, checked against the oracle
    warmup_ops: int  # full operations run (and checked) before timing


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "reference_job", 20_000, 1000.0, 1, 0.0, FADSConfig(), None, None, 2000,
            warmup_ops=2,
        ),
        Workload(
            "sparse_keyed", 150_000, 0.04, 64, 1.1,
            FADSConfig(k=5, buffer_rows=15), "event_type", 2048, 6000, warmup_ops=4,
        ),
    )
}


@dataclass
class Result:
    attempted: int = 0
    failed: int = 0
    metrics: dict = field(default_factory=dict)
    # what the traced per-layer timings need from the run
    frame: pd.DataFrame | None = None
    input_dir: str | None = None
    op_ids: set = field(default_factory=set)

    def check(self, fails: int, what: str) -> None:
        self.attempted += 1
        self.failed += int(fails > 0)
        if fails:
            log(f"FAILED: {what} ({fails})")


def log(msg: str) -> None:
    """Phase marks on stderr (stdout carries only the result line)."""
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


def _build(spark, w: Workload, sf_dir: str):
    df = events_with_arrival(spark, sf_dir)
    if w.key is None:
        return fads_generalize(df, w.cfg)
    return fads_generalize_partitioned(df, w.cfg, w.key, max_group_rows=w.max_group_rows)


def run(spark, w: Workload, seed: int, seconds: int, work: str, t0: float) -> Result:
    res = Result()
    cfg = w.cfg
    gen_s = []
    for _ in range(3):  # set-up is reported as a median: generate three times
        t = time.perf_counter()
        pdf = gen.events(seed, w.rows, w.density, w.keys, w.zipf_s)
        gen_s.append(time.perf_counter() - t)
    sf_dir = os.path.join(work, "input")
    gen.write_events(pdf, sf_dir)
    frame = gen.fads_frame(pdf)
    grp = verify.groups(frame, w.key, w.max_group_rows)
    span = gen.domains(w.rows, w.density)

    # the same-seed twin (the input's first rows) against the oracle; it is
    # also the warm-up of the Python workers, Arrow and codegen
    log("input generated")
    twin_dir = os.path.join(work, "twin")
    gen.write_events(pdf.iloc[: w.twin_rows], twin_dir)
    twin = gen.fads_frame(pdf.iloc[: w.twin_rows])
    twin_out = _build(spark, w, twin_dir).toPandas()
    res.check(verify.oracle_failures(
        twin_out, twin, verify.groups(twin, w.key, w.max_group_rows), cfg
    ), "twin against the oracle")
    log("twin checked against the oracle")
    want_ids = verify.expected_ids(events_with_arrival(spark, sf_dir))

    sc = spark.sparkContext
    walls: list[float] = []  # timed operations only
    first = None
    setup_s = deadline = None
    n = 0
    # time operations for ``seconds``: start another only if it fits
    while setup_s is None or not walls or (
        time.perf_counter() + statistics.mean(walls) <= deadline
    ):
        if setup_s is None and n == w.warmup_ops:  # warm-up operations are set-up
            setup_s = time.time() - t0 - sum(gen_s) + statistics.median(gen_s)
            deadline = time.perf_counter() + seconds
        op = f"op{n}"
        obs = Observation(op)
        out = _build(spark, w, sf_dir)
        out = out.observe(obs, *verify.digest_aggs(out.columns, cfg.qid_cols, span)).persist()
        sc.setLocalProperty(spark_env.OP_PROPERTY, op)
        t = time.perf_counter()
        out.write.format("noop").mode("overwrite").save()
        wall = time.perf_counter() - t
        sc.setLocalProperty(spark_env.OP_PROPERTY, None)
        m = obs.get
        fails = int((m["rows"], m["id_sum"], m["id_hash"]) != want_ids)
        if first is None:
            first = m
            fails += verify.kanon_failures(out, cfg, frame, grp)
        elif (m["row_hash"], m["row_hash2"]) != (first["row_hash"], first["row_hash2"]):
            fails += 1
        out.unpersist()
        res.check(fails, f"{op} output")
        if deadline is not None:
            walls.append(wall)
            res.op_ids.add(op)
        log(f"{op}: {wall:.3f} s, {fails} failed checks")
        n += 1
    rss = spark_env.peak_rss_mb()

    res.metrics = {
        "setup_s": setup_s,
        "job_s": statistics.median(walls),
        "rows_per_s": w.rows / statistics.median(walls),
        "info_loss": first["width_sum"] / first["rows"],
        "peak_rss_mb": rss,
    }
    res.frame, res.input_dir = frame, sf_dir
    return res

