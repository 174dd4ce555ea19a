"""One stream harness: a chunked file source and a drive-to-completion loop.

Every streamed ``queries()`` entry and the taxi CLI is the same shape as
the reference job: an ordered file source, one stateful or stateless
operator, then an end-of-stream drain.  This module holds the two halves
they share:

- :func:`chunked_source` cuts a frame into value-contiguous parquet chunks
  (memoized per fixture fingerprint) and returns the
  ``maxFilesPerTrigger=1`` file stream over them: one ordered micro-batch
  per chunk.
- :func:`run_to_completion` drives a started query until its end
  condition holds, surfaces a dead query's own exception, and always
  stops it.
"""

from __future__ import annotations

import os
import time
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession, functions as F


def _scratch_dir(prefix: str) -> str:
    """Process-lifetime scratch dir for the serve-many store fixtures
    (codebook / signature / semantic stores, streaming chunk sources):
    mkdtemp plus an atexit rmtree, so repeated bench/test processes do
    not leak one directory per sf_dir per process (ADVICE r9)."""
    import atexit
    import shutil
    import tempfile

    path = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path


def _chunk_key(sf_dir: str, table: str) -> tuple:
    """Cache key for streamed-chunk / derived-store scratch dirs:
    (sf_dir, table, fixture mtime, size).  Regenerating the fixture
    in-place changes the key, so derived data is rebuilt instead of
    silently serving stale rows (ADVICE r10)."""
    p = os.path.join(sf_dir, table + ".parquet")
    try:
        st = os.stat(p)
        return (sf_dir, table, int(st.st_mtime_ns), st.st_size)
    except OSError:
        return (sf_dir, table)


# fingerprint -> (chunk dir, schema, row count)
_CHUNKS: dict[tuple, tuple] = {}


def chunked_source(
    spark: SparkSession,
    make_df: Callable[[], DataFrame],
    split: str | Callable[[DataFrame], Column],
    n: int,
    fingerprint: tuple,
) -> tuple[DataFrame, int]:
    """The frame ``make_df()`` as a file stream of ``n`` ordered
    micro-batches; returns ``(stream_df, n_rows)``.

    Cuts fall at the approximate i/n quantiles of ``split`` (a column name,
    or a function of the frame returning a column) and on VALUE
    boundaries: chunk i holds ``cut[i-1] < split <= cut[i]``, so rows with
    equal split values never straddle a micro-batch (the FADS
    stream-equals-batch contract needs this: the per-batch stable
    (arrival, pid) sort then reproduces the batch order globally).  Null
    split values go to the first chunk.  Each chunk is one parquet file
    with an explicit ascending mtime, so the file source ingests them in
    split order.

    The chunks and the row count are written once per ``fingerprint``,
    which must identify the frame's content, ``split`` and ``n`` (see
    :func:`_chunk_key`).  ``make_df`` runs only then: building a frame
    over a parquet fixture resolves its schema (~0.1 s), which a memoized
    call should not pay."""
    if fingerprint not in _CHUNKS:
        df = make_df()
        s = F.col(split) if isinstance(split, str) else split(df)
        probs = [i / n for i in range(1, n)]
        cuts = df.select(s.alias("_split")).approxQuantile("_split", probs, 0.001)
        edges = [None, *sorted(set(cuts)), None]
        d = _scratch_dir("pyfads_chunks_")
        for i, (lo, hi) in enumerate(zip(edges, edges[1:])):
            keep = F.lit(True) if lo is None else s > lo
            if hi is not None:
                keep = keep & (s <= hi)
            if lo is None:
                keep = keep | s.isNull()
            p = f"{d}/c{i}.parquet"
            df.filter(keep).coalesce(1).write.parquet(p)
            t = 1_700_000_000 + i * 60
            for f in os.listdir(p):
                os.utime(os.path.join(p, f), (t, t))
        _CHUNKS[fingerprint] = (d, df.schema, df.count())
    d, schema, n_rows = _CHUNKS[fingerprint]
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(d)
    )
    return src, n_rows


_POLL_S = 0.15


def _batch_id(q) -> int:
    lp = q.lastProgress
    return lp.get("batchId", -1) if lp else -1


def run_to_completion(
    q, until: Callable[[], bool] | None = None, deadline_s: float = 240
) -> None:
    """Drive the started streaming query ``q`` to completion, then stop it.

    ``until=None``: ``q.processAllAvailable()`` — it terminates for
    stateless queries, NoTimeout state, ``foreachBatch`` and
    ``availableNow`` queries.  With a ProcessingTimeTimeout armed the
    query schedules state-cleanup batches forever and that call never
    returns; pass ``until`` instead.  It is evaluated whenever a new batch
    commits (``lastProgress`` batchId advance), with a 1 s fallback, so
    an expensive check (a sink count job) does not compete with the
    stream's own micro-batches on every poll.

    A query that dies raises its own exception; a clean external stop
    returns.  An unmet ``until`` raises ``TimeoutError`` after
    ``deadline_s``.  Once ``until`` holds, the query settles for at most
    one batch boundary before the stop, so an in-flight state-cleanup
    batch is not aborted mid-commit (which logs CANNOT_WRITE_STATE_STORE).
    """
    try:
        if until is None:
            q.processAllAvailable()
            return
        deadline = time.monotonic() + deadline_s
        seen_bid, next_check = -2, 0.0
        while True:
            if not q.isActive:
                exc = q.exception()
                if exc is not None:
                    raise exc
                return
            bid, now = _batch_id(q), time.monotonic()
            if bid != seen_bid or now >= next_check:
                seen_bid, next_check = bid, now + 1.0
                if until():
                    break
            if now >= deadline:
                raise TimeoutError(
                    f"streaming query not complete after {deadline_s}s — "
                    "the stream stalled, not an operator value bug"
                )
            time.sleep(_POLL_S)
        _settle(q)
    finally:
        q.stop()


def _settle(q, cap_s: float = 5.0) -> None:
    """Wait for one batch boundary: return once the batchId advances (the
    batch in flight has committed) or the trigger goes idle.  Under the
    default ProcessingTime(0) trigger, cleanup batches run back to back
    and ``isTriggerActive`` is almost always true, so waiting for it alone
    burns the whole cap."""
    start = _batch_id(q)
    end = time.monotonic() + cap_s
    while time.monotonic() < end and q.isActive:
        if not q.status.get("isTriggerActive") or _batch_id(q) > start:
            return
        time.sleep(0.05)
