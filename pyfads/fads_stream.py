"""Streaming FADS generalization (P6 stream / G1 / G3 / G14).

The reference is a Flink stateful ProcessFunction over an unbounded stream
(Generalizer.java:48-96: open/processElement/close at parallelism 1).  The
Structured-Streaming-native equivalents here:

- :func:`fads_generalize_stream` — ``groupBy(...).applyInPandasWithState``:
  the FADS state machine (:class:`pyfads.fads_core.FADSState`) plus the
  pending-row store ride in the ``GroupState`` value across micro-batches.
  Releases are emitted in append mode as buffer pressure triggers (G4); an
  idle processing-time timeout drains the buffer — the stream analogue of the
  reference's ``close()`` flush (G14, Generalizer.java:59-74).  TTL cluster
  expiry (G3) runs on the logical arrival clock inside the state machine,
  deterministic and replayable, never ``System.currentTimeMillis()``.
- :class:`ForeachBatchFADS` — driver-side variant per SURVEY.md §7.4.2:
  one shared state machine fed by ``foreachBatch``; ``flush()`` gives the
  exact end-of-stream drain.  Parity tool — the state lives on the driver,
  so it is NOT the 100 TB path; the stateful operator above is.

Ordering contract (G1): arrival order *within* a micro-batch is restored by
sorting on ``(arrival_col, pid_col)``; order *across* batches is the
source's responsibility (file source with ``maxFilesPerTrigger`` over
sequentially-named files, or a rate/Kafka source with monotone event time).

Scale notes: state per group is O(buffer_rows + live clusters) — bytes, not
gigabytes; with a partition column (:func:`fads_generalize_stream`'s
``partition_cols``) groups spread across executors exactly like the batch
scale-out mode, and shuffle happens once per micro-batch on the group key.
"""

from __future__ import annotations

import pickle
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming.state import GroupStateTimeout

from pyfads.config import FADSConfig
from pyfads.fads_batch import _assemble, _check_cols, _frame_inputs, _out_cols
from pyfads.fads_core import FADSState, _Clusters
from pyfads.schema import fads_output_schema

__all__ = [
    "fads_generalize_stream",
    "ForeachBatchFADS",
    "STATE_CODEC_VERSION",
    "encode_state",
    "decode_state",
]

# GroupState value: one binary blob holding the versioned state codec below.
_STATE_SCHEMA = "blob binary"

# ---------------------------------------------------------------------------
# State codec (VERDICT r3 item 4).
#
# The blob is a pickle of PLAIN BUILTINS ONLY (dict/list/tuple/int/float/
# str/bool/None) — never a pyfads class, never a pandas/numpy object.  A
# pickled class instance breaks on any code upgrade mid-stream (the checkpoint
# holds a byte-image of the old class layout); plain containers are stable
# across library and pyfads versions.  The layout is versioned so a future
# codec can read old checkpoints explicitly instead of crashing in pickle.
# ---------------------------------------------------------------------------

STATE_CODEC_VERSION = 1


def _py(v):
    """numpy scalar -> native builtin (numpy arrays in state rows come from
    .to_numpy(); .item() keeps the blob numpy-free)."""
    return v.item() if hasattr(v, "item") else v


def _encode_col(s: pd.Series) -> list:
    """One pending column -> plain-builtin list.  datetime/timedelta columns
    round-trip through int64 (``.tolist()`` on them yields pd.Timestamp /
    pd.Timedelta objects, which would smuggle pandas class references into
    the blob); everything else is numpy-scalar-stripped via ``_py``."""
    if s.dtype.kind in "Mm":
        return [None if pd.isna(v) else int(v) for v in s.astype("int64").tolist()]
    return [_py(v) for v in s.tolist()]


def _decode_col(vals: list, dtype: str) -> pd.Series:
    if dtype.startswith(("datetime64", "timedelta64")):
        return pd.Series(vals, dtype="int64").astype(dtype)
    return pd.Series(vals, dtype=dtype)


def encode_state(fads: FADSState, pending: pd.DataFrame | None) -> bytes:
    """FADSState + pending-row store -> versioned plain-builtin blob."""
    if pending is None:
        pend = None
    else:
        pend = {
            "cols": list(pending.columns),
            "dtypes": [str(t) for t in pending.dtypes],
            "data": {c: _encode_col(pending[c]) for c in pending.columns},
            "index_col": pending.index.name,
        }
    cl = fads.clusters
    doc = {
        "v": STATE_CODEC_VERSION,
        "glo": fads.glo.tolist(),
        "ghi": fads.ghi.tolist(),
        "buffer": [
            (_py(rid), [float(x) for x in q], int(arr), _py(pid), [float(x) for x in lq])
            for rid, q, arr, pid, lq in fads.buffer
        ],
        "clusters": list(zip(cl.lo.tolist(), cl.hi.tolist(), cl.created.tolist())),
        "last_arrival": int(fads.last_arrival),
        "pending": pend,
    }
    return pickle.dumps(doc, protocol=4)


def decode_state(blob: bytes, cfg: FADSConfig) -> tuple[FADSState, pd.DataFrame | None]:
    """Versioned blob -> live state.  ``cfg`` comes from the (current) query
    wiring, never from the checkpoint — config is code, state is data."""
    doc = pickle.loads(blob)
    v = doc.get("v") if isinstance(doc, dict) else None
    if v != STATE_CODEC_VERSION:
        raise ValueError(
            f"unknown FADS state codec version {v!r} (this build reads "
            f"v{STATE_CODEC_VERSION}); drain the stream with the old build "
            "or add an explicit upgrade path"
        )
    fads = FADSState(cfg)
    fads.glo = np.asarray(doc["glo"], dtype=np.float64)
    fads.ghi = np.asarray(doc["ghi"], dtype=np.float64)
    for rid, q, arr, pid, lq in doc["buffer"]:
        fads.buffer.append(
            (rid, np.asarray(q, dtype=np.float64), arr, pid, np.asarray(lq, dtype=np.float64))
        )
    if doc["clusters"]:
        lo, hi, created = zip(*doc["clusters"])
        fads.clusters = _Clusters(
            np.asarray(lo, dtype=np.float64),
            np.asarray(hi, dtype=np.float64),
            np.asarray(created, dtype=np.int64),
        )
    fads.last_arrival = doc["last_arrival"]
    pend = doc["pending"]
    if pend is None:
        return fads, None
    pending = pd.DataFrame(
        {c: _decode_col(pend["data"][c], t) for c, t in zip(pend["cols"], pend["dtypes"])}
    )[pend["cols"]]
    if pend["index_col"] is not None:
        pending.index = pending[pend["index_col"]]
    return fads, pending


def _check_pid_unique(pending: pd.DataFrame, cfg: FADSConfig) -> None:
    """The pending-row store is keyed by ``cfg.pid_col``; duplicates would
    silently drop sibling rows on release (or crash deep in the release
    path), so fail fast with a usable message."""
    if not pending.index.is_unique:
        dupes = pending.index[pending.index.duplicated()].unique().tolist()[:5]
        raise ValueError(
            f"streaming FADS requires a globally unique pid_col "
            f"({cfg.pid_col!r}); duplicate values seen: {dupes} — "
            "use a unique row-id column (e.g. monotonically_increasing_id) "
            "as pid_col and carry the person id as a passthrough column"
        )


def _release(
    released, pending: pd.DataFrame | None, cfg: FADSConfig, input_cols: list[str]
) -> tuple[pd.DataFrame, pd.DataFrame | None]:
    """Materialize a ReleasedBatch against the pending-row store.

    Returns (output frame, remaining pending rows).  ``released.row_ids``
    are ``cfg.pid_col`` values (globally unique), so releases may resolve
    rows buffered many micro-batches ago.
    """
    if not len(released.row_ids):
        return pd.DataFrame(columns=_out_cols(input_cols, cfg)), pending
    pos = pending.index.get_indexer(released.row_ids)
    keep = np.ones(len(pending), dtype=bool)
    keep[pos] = False
    return _assemble(pending, pos, released, cfg, input_cols), pending[keep]


def _ingest_batch(fads, pending, pdf, cfg, input_cols):
    """The ordering-contract-critical ingest sequence, shared by every
    streaming driver (G1): restore arrival order within the batch via a
    stable (arrival, pid) mergesort, key the pending store by pid, enforce
    pid uniqueness, run the state machine, materialize releases.

    Returns (output frame, new pending store)."""
    pdf = pdf.sort_values([cfg.arrival_col, cfg.pid_col], kind="mergesort")
    pdf.index = pdf[cfg.pid_col]
    pending = pdf if pending is None else pd.concat([pending, pdf])
    _check_pid_unique(pending, cfg)
    qids, arrivals, pids, legacy = _frame_inputs(pdf, cfg)
    released = fads.process(pids, qids, arrivals, legacy_vals=legacy)
    return _release(released, pending, cfg, input_cols)


def make_stream_handler(cfg: FADSConfig, input_cols: list[str], flush_after_ms: int):
    """The applyInPandasWithState handler (exposed for direct unit testing
    with a fake GroupState)."""

    def handle(key, pdf_iter: Iterator[pd.DataFrame], state) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            # G14: idle timeout == end-of-stream flush (reference close())
            if state.exists:
                fads, pending = decode_state(state.get[0], cfg)
                out, _ = _release(fads.flush(), pending, cfg, input_cols)
                state.remove()
                if len(out):
                    yield out
            return

        if state.exists:
            fads, pending = decode_state(state.get[0], cfg)
        else:
            fads = FADSState(cfg)
            pending = None

        # One micro-batch may arrive as several Arrow chunks in shuffle order;
        # collect and sort the whole batch before the sequential loop (G1).
        chunks = [p for p in pdf_iter if len(p)]
        if chunks:
            out, pending = _ingest_batch(
                fads, pending, pd.concat(chunks, ignore_index=True), cfg, input_cols
            )
            if len(out):
                yield out

        state.update((encode_state(fads, pending),))
        state.setTimeoutDuration(flush_after_ms)

    return handle


def fads_generalize_stream(
    df: DataFrame,
    cfg: FADSConfig,
    partition_cols: list[str] | None = None,
    flush_after_ms: int = 60_000,
) -> DataFrame:
    """Streaming FADS: stateful per-group generalization over a streaming
    DataFrame; returns the stream of released (generalized) rows.

    ``partition_cols=None`` is reference parity (one global group, one
    stateful task); a real partition column is the scale-out mode.  The
    group goes idle for ``flush_after_ms`` of processing time → buffer is
    drained and state dropped (G14).
    """
    _check_cols(df, cfg)
    if partition_cols:
        src, keys = df, list(partition_cols)
    else:
        # the grouping key must be an input attribute: materialize the
        # constant group column before grouping
        src, keys = df.withColumn("__g", F.lit(1)), ["__g"]
    grouped = src.groupBy(*keys)
    handler = make_stream_handler(cfg, df.columns, flush_after_ms)
    return grouped.applyInPandasWithState(
        handler,
        outputStructType=fads_output_schema(df.schema, cfg),
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


class ForeachBatchFADS:
    """Driver-side streaming FADS via ``foreachBatch`` (SURVEY.md §7.4.2).

    One shared sequential state machine across micro-batches; call
    :meth:`flush` after ``query.stop()`` for the end-of-stream drain.

    This is the parallelism-1 PARITY fallback (the reference's semantics
    are a single sequential state machine): each micro-batch is pulled to
    the driver with ``toPandas()``, so every micro-batch — not the whole
    stream, but each trigger's worth of rows — must fit in driver memory.
    Bound it with ``maxFilesPerTrigger`` / ``maxOffsetsPerTrigger``.  The
    primary executor-side path is :func:`fads_generalize_stream`
    (``applyInPandasWithState``), which keeps state on executors and
    scales out per key group.

    >>> fb = ForeachBatchFADS(cfg)
    >>> run_to_completion(stream.writeStream.foreachBatch(fb).start())
    >>> result = pd.concat([*fb.outputs, fb.flush()])
    """

    def __init__(self, cfg: FADSConfig):
        self.cfg = cfg
        self.fads = FADSState(cfg)
        self.pending: pd.DataFrame | None = None
        self.outputs: list[pd.DataFrame] = []
        self._input_cols: list[str] = []
        self._last_batch_id: int | None = None

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        cfg = self.cfg
        # foreachBatch is at-least-once: a retried micro-batch re-invokes
        # with the SAME batch_id, and double-ingesting it would corrupt the
        # shared sequential state machine — the standard foreachBatch
        # idempotency idiom is to skip already-seen ids (r11 advice)
        if self._last_batch_id is not None and batch_id <= self._last_batch_id:
            return
        self._input_cols = self._input_cols or batch_df.columns
        pdf = batch_df.toPandas()
        if len(pdf):
            out, self.pending = _ingest_batch(
                self.fads, self.pending, pdf, cfg, self._input_cols
            )
            if len(out):
                self.outputs.append(out)
        # mark AFTER the ingest succeeds: advancing the marker first would
        # make a failed-then-retried batch skip itself — silent data loss
        # (at-most-once), the opposite of what the guard is for
        # (code-review r12)
        self._last_batch_id = batch_id

    def flush(self) -> pd.DataFrame:
        """G14 end-of-stream drain (reference close(), Generalizer.java:59-74)."""
        out, self.pending = _release(
            self.fads.flush(), self.pending, self.cfg, self._input_cols
        )
        return out
