"""Batch FADS generalization as a Spark DataFrame transformation.

The reference runs its FADS ProcessFunction at parallelism 1 over an
unbounded stream (TransactionGeneralizationJob.java:40, Generalizer.java).
The batch equivalent is ``groupBy(<one group>).applyInPandas(...)`` over
arrival-sorted rows — one Arrow batch stream through the sequential state
machine in :mod:`pyfads.fads_core`.

Two modes:

- :func:`fads_generalize` — **parity mode**: a single group reproduces the
  reference's sequential, order-sensitive semantics exactly.  By design this
  puts all rows through one task (the reference is parallelism-1 too); it is
  the correctness mode, not the scale mode.
- :func:`fads_generalize_partitioned` — **scale-out mode** (SURVEY.md
  §2.5.9): hash-partition on a key, run an independent FADS instance per
  group in parallel.  k-anonymity holds *within* each group (each released
  interval still covers >= k rows of its group); global bounds are per-group.
  This is the 100 TB path: work fans out across executors with a single
  shuffle on the partition key and no driver involvement.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F

from pyfads.config import FADSConfig
from pyfads.fads_core import FADSState, ReleasedBatch
from pyfads.schema import fads_output_schema

__all__ = ["fads_generalize", "fads_generalize_partitioned", "run_fads_pandas"]


def _frame_inputs(pdf: pd.DataFrame, cfg: FADSConfig):
    """An arrival-sorted frame -> the engine inputs (qids, arrivals, pids,
    legacy values); legacy values only in ``legacy_distance`` mode."""
    qids = pdf[list(cfg.qid_cols)].to_numpy(dtype=np.float64)
    arrivals = pdf[cfg.arrival_col].to_numpy(dtype=np.int64)
    pids = pdf[cfg.pid_col].to_numpy()
    legacy = None
    if cfg.legacy_distance:
        legacy = pdf[list(cfg.legacy_distance_cols or cfg.qid_cols)].to_numpy(dtype=np.float64)
    return qids, arrivals, pids, legacy


def _out_cols(input_cols, cfg: FADSConfig) -> list[str]:
    """Output column order (as in fads_output_schema): input order with
    each QID expanded in place into <col>_lo, <col>_hi."""
    cols: list[str] = []
    for c in input_cols:
        cols += [f"{c}_lo", f"{c}_hi"] if c in cfg.qid_cols else [c]
    return cols


def _assemble(
    frame: pd.DataFrame, pos: np.ndarray, released: ReleasedBatch, cfg: FADSConfig, input_cols
) -> pd.DataFrame:
    """The output frame: passthrough ``input_cols`` of ``frame`` gathered at
    the released rows' positions ``pos``, plus the released intervals as
    <qid>_lo/<qid>_hi columns."""
    out = {c: frame[c].to_numpy()[pos] for c in input_cols if c not in cfg.qid_cols}
    for j, q in enumerate(cfg.qid_cols):
        out[f"{q}_lo"] = released.lo[:, j]
        out[f"{q}_hi"] = released.hi[:, j]
    return pd.DataFrame(out, columns=_out_cols(input_cols, cfg))


def run_fads_pandas(pdf: pd.DataFrame, cfg: FADSConfig) -> pd.DataFrame:
    """Run the full FADS loop + flush over one pandas partition (one group):
    one :class:`pyfads.fads_core.FADSState` ``process`` over the
    arrival-sorted rows, then its ``flush``."""
    pdf = pdf.sort_values([cfg.arrival_col, cfg.pid_col], kind="mergesort").reset_index(
        drop=True
    )
    qids, arrivals, pids, legacy = _frame_inputs(pdf, cfg)
    state = FADSState(cfg)
    released = state.process(np.arange(len(pdf)), qids, arrivals, pids, legacy)
    released = ReleasedBatch(*map(np.concatenate, zip(released, state.flush())))
    return _assemble(pdf, released.row_ids, released, cfg, pdf.columns)


def _check_cols(df: DataFrame, cfg: FADSConfig) -> None:
    missing = [
        c
        for c in (
            *cfg.qid_cols,
            cfg.pid_col,
            cfg.arrival_col,
            *(cfg.legacy_distance_cols or () if cfg.legacy_distance else ()),
        )
        if c not in df.columns
    ]
    if missing:
        raise ValueError(f"input is missing required columns: {missing}")


def fads_generalize(df: DataFrame, cfg: FADSConfig) -> DataFrame:
    """Parity-mode batch FADS: single sequential group (reference semantics).

    Input must carry ``cfg.arrival_col`` (long arrival clock) — see
    ``pyfads.io.with_arrival``.  Output: non-QID columns pass through, each
    QID becomes ``<col>_lo``/``<col>_hi`` (Generalizer.java:259-269).
    """
    _check_cols(df, cfg)
    out_schema = fads_output_schema(df.schema, cfg)

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        return run_fads_pandas(pdf, cfg)

    return df.groupBy(F.lit(1).alias("__g")).applyInPandas(fn, out_schema)


def fads_generalize_partitioned(
    df: DataFrame,
    cfg: FADSConfig,
    partition_col: str,
    max_group_rows: int | None = None,
) -> DataFrame:
    """Scale-out batch FADS: independent FADS per ``partition_col`` group.

    One shuffle on the partition key, then embarrassingly parallel; each
    group's rows are k-anonymized against that group's own global bounds.

    ``max_group_rows`` is the hot-key guard (same discipline as the dedup
    side's ``_salt_cap``): the sequential per-group state machine makes one
    10x-hot key a 10x-long straggler task at 100 TB.  When set, each group
    is sub-split into arrival-contiguous runs of at most ``max_group_rows``
    rows (row_number over the group's arrival order), and FADS runs
    independently per run — so max task size is bounded at
    ``max_group_rows`` regardless of key skew.  Semantics: k-anonymity and
    global bounds hold *within each run* (each run behaves like its own
    bounded stream); releases never mix rows across runs.
    """
    _check_cols(df, cfg)
    if partition_col in cfg.qid_cols:
        raise ValueError("partition_col cannot be a QID column")
    if max_group_rows is not None and max_group_rows < cfg.buffer_rows + 1:
        raise ValueError("max_group_rows must exceed buffer_rows (a run smaller "
                         "than the buffer never overflows and only ever flushes)")
    out_schema = fads_output_schema(df.schema, cfg)

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        return run_fads_pandas(pdf.drop(columns="__fads_run", errors="ignore"), cfg)

    if max_group_rows is None:
        return df.groupBy(partition_col).applyInPandas(fn, out_schema)

    w = Window.partitionBy(partition_col).orderBy(cfg.arrival_col, cfg.pid_col)
    salted = df.withColumn(
        "__fads_run",
        ((F.row_number().over(w) - 1) / F.lit(max_group_rows)).cast("long"),
    )
    # pin a wide exchange on the (key, run) pair: the sub-split exists to
    # spread a hot key across cores, but the per-run rows are byte-small and
    # AQE's size-based coalescing was measured squashing ~800 runs onto 2
    # tasks (2.5x the wall time).  Same discipline as the dedup side's
    # explicit repartition before its CPU-bound verify stage.
    salted = salted.repartition(
        df.sparkSession.sparkContext.defaultParallelism, partition_col, "__fads_run"
    )
    return salted.groupBy(partition_col, "__fads_run").applyInPandas(fn, out_schema)
