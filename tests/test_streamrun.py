"""Tests for the stream harness (pyfads.streamrun).

- ``run_to_completion`` against a stub StreamingQuery (no Spark): the
  poll loop, the deadline, the dead-query and external-stop paths, and the
  one-batch settle before the stop.
- ``chunked_source`` on a small local frame whose split column has
  duplicate values at the cut points.
"""

from __future__ import annotations

import os
import time as _t

import pytest

from pyfads import streamrun
from pyfads.streamrun import chunked_source, run_to_completion


class StubQuery:
    """StreamingQuery stand-in driven by a script of snapshots.

    Each snapshot is a dict with optional keys ``active`` (default True),
    ``exc`` (None), ``bid`` (lastProgress batchId, -1 = no progress yet),
    ``trigger`` (status isTriggerActive, True) and ``progress``
    (recentProgress, []).  Every ``isActive`` read — one per poll-loop
    iteration — moves to the next snapshot; the last one repeats."""

    def __init__(self, script):
        self._script = list(script)
        self._i = 0
        self.calls: list[str] = []
        self.stopped_at_bid: int | None = None

    def _snap(self, key, default):
        return self._script[min(self._i, len(self._script) - 1)].get(key, default)

    @property
    def isActive(self):
        active = self._snap("active", True)
        self._i += 1
        return active

    def exception(self):
        return self._snap("exc", None)

    @property
    def lastProgress(self):
        bid = self._snap("bid", -1)
        return {"batchId": bid} if bid >= 0 else None

    @property
    def status(self):
        return {"isTriggerActive": self._snap("trigger", True)}

    @property
    def recentProgress(self):
        return self._snap("progress", [])

    def processAllAvailable(self):
        self.calls.append("processAllAvailable")

    def stop(self):
        self.calls.append("stop")
        self.stopped_at_bid = self._snap("bid", -1)


def test_until_none_processes_all_available_then_stops():
    q = StubQuery([{}])
    run_to_completion(q)
    assert q.calls == ["processAllAvailable", "stop"]


def test_settle_returns_on_batch_advance_while_trigger_stays_active():
    # cleanup batches run back to back: isTriggerActive never reads False,
    # so only the batchId advance can end the settle
    q = StubQuery([{"bid": 5}] * 4 + [{"bid": 6}])
    t0 = _t.time()
    run_to_completion(q, until=lambda: True)
    assert _t.time() - t0 < 2
    assert q.stopped_at_bid == 6  # stopped after the in-flight batch committed
    assert q.calls == ["stop"]


def test_settle_returns_when_trigger_goes_idle():
    q = StubQuery([{"bid": 5, "trigger": False}])
    run_to_completion(q, until=lambda: True)
    assert q.calls == ["stop"]


def test_unmet_until_raises_timeout_and_stops():
    q = StubQuery([{"bid": 0}])
    t0 = _t.time()
    with pytest.raises(TimeoutError):
        run_to_completion(q, until=lambda: False, deadline_s=0.3)
    assert _t.time() - t0 < 3
    assert q.calls == ["stop"]


def test_until_is_evaluated_on_batch_advance():
    # one evaluation per committed batch (plus the 1 s fallback), not per
    # poll: five polls see three distinct batchIds
    checks: list[int] = []

    def until():
        checks.append(q.lastProgress["batchId"])
        return checks[-1] == 2

    q = StubQuery([{"bid": b} for b in (0, 0, 0, 1, 1)] + [{"bid": 2, "trigger": False}])
    run_to_completion(q, until=until)
    assert set(checks) == {0, 1, 2}
    assert len(checks) < 5


# ---------------------------------------------------------------------------
# chunked_source
# ---------------------------------------------------------------------------


def _frame(spark):
    # 0..9 with a heavy run of 4s and 7s, so the 1/3 and 2/3 cuts land
    # inside runs of equal values; one null split value
    vals = [0, 1, 2, 3] + [4] * 8 + [5, 6] + [7] * 8 + [8, 9, None]
    rows = [(i, v) for i, v in enumerate(vals)]
    return spark.createDataFrame(rows, "row_id bigint, s bigint"), rows


def _chunk_files(d):
    out = []
    for c in sorted(os.listdir(d)):
        for f in sorted(os.listdir(os.path.join(d, c))):
            if f.endswith(".parquet"):
                out.append(os.path.join(d, c, f))
    return out


def test_chunked_source_cuts_on_value_boundaries(spark):
    df, rows = _frame(spark)
    fp = ("test_chunked_source", 1)
    streamrun._CHUNKS.pop(fp, None)
    src, n_rows = chunked_source(spark, lambda: df, "s", 3, fp)
    assert src.isStreaming
    assert n_rows == len(rows)
    d = streamrun._CHUNKS[fp][0]
    files = _chunk_files(d)
    assert len(files) == 3  # one parquet file per chunk

    chunks = [
        sorted(tuple(r) for r in spark.read.parquet(f).collect()) for f in files
    ]
    # every split value lands in exactly one chunk
    per_chunk = [{v for _, v in ch} for ch in chunks]
    for i in range(3):
        for j in range(i + 1, 3):
            assert not per_chunk[i] & per_chunk[j]
    # the union of the chunks is the input
    assert sorted(r for ch in chunks for r in ch) == sorted(rows)
    # chunks hold ascending split ranges, with strictly ascending mtimes
    ranges = [sorted(v for v in s if v is not None) for s in per_chunk]
    assert all(ranges[i][-1] < ranges[i + 1][0] for i in range(2))
    mtimes = [os.stat(f).st_mtime for f in files]
    assert all(a < b for a, b in zip(mtimes, mtimes[1:]))

    # same fingerprint: same dir, frame not rebuilt, files not rewritten
    # (new writes get new part-file names)
    def no_rebuild():
        raise AssertionError("memoized chunks rebuilt the frame")

    chunked_source(spark, no_rebuild, "s", 3, fp)
    assert streamrun._CHUNKS[fp][0] == d
    assert _chunk_files(d) == files
    # new fingerprint: rebuilt into a new dir
    fp2 = ("test_chunked_source", 2)
    chunked_source(spark, lambda: df, "s", 3, fp2)
    assert streamrun._CHUNKS[fp2][0] != d
    assert len(_chunk_files(streamrun._CHUNKS[fp2][0])) == 3


def test_chunked_source_streams_one_chunk_per_batch_in_order(spark):
    df, rows = _frame(spark)
    fp = ("test_chunked_source", 1)
    src, _n = chunked_source(spark, lambda: df, "s", 3, fp)
    batches: dict[int, list] = {}

    def collect(batch_df, batch_id):
        batches[batch_id] = [tuple(r) for r in batch_df.collect()]

    run_to_completion(src.writeStream.foreachBatch(collect).start())
    got = [batches[b] for b in sorted(batches) if batches[b]]
    assert len(got) == 3
    non_null = [sorted(v for _, v in b if v is not None) for b in got]
    assert all(non_null[i][-1] < non_null[i + 1][0] for i in range(2))
    assert sorted(r for b in got for r in b) == sorted(rows)
