"""Tests for the taxi_job CLI helpers (ADVICE r6 items):

- drain: the CLI runs ``run_to_completion(q, until=input_drained(q))``,
  which must surface a failed streaming query (re-raise its exception)
  instead of polling recentProgress forever, return promptly on a clean
  external stop, and return once three batches in a row read no input.
- ``--pid auto``: real nycTaxiRides input carries a START *and* an END
  event per rideId (NYCTaxiRideSource.java emits both halves), so keying
  the pending store on rideId alone violates the uniqueness contract; the
  synthesized ``rideId#eventKind`` key must let the composed job run on
  such input, and the bare rideId key must fail loudly (not hang).
"""

from __future__ import annotations

import gzip
import os
import time as _t

import pytest
from pyspark.sql import functions as F

from pyfads.config import FADSConfig
from pyfads.streamrun import run_to_completion
from pyfads.taxi_job import AUTO_PID_COL, input_drained, with_auto_pid
from tests.test_streamrun import StubQuery


# ---------------------------------------------------------------------------
# the CLI's drain: run_to_completion(q, until=input_drained(q)) against a
# stub StreamingQuery
# ---------------------------------------------------------------------------


def _drain(q):
    run_to_completion(q, until=input_drained(q))
    assert q.calls == ["stop"]


def test_drain_reraises_failed_query():
    boom = RuntimeError("poison line killed the stream")
    q = StubQuery(
        [
            {"progress": [{"batchId": 0, "numInputRows": 40}]},
            {"active": False, "exc": boom},
        ]
    )
    with pytest.raises(RuntimeError, match="poison line"):
        run_to_completion(q, until=input_drained(q))
    assert q.calls == ["stop"]


def test_drain_returns_on_clean_external_stop():
    q = StubQuery(
        [
            {"progress": [{"batchId": 0, "numInputRows": 40}]},
            {"active": False},
        ]
    )
    t0 = _t.time()
    _drain(q)
    assert _t.time() - t0 < 5  # returned, did not spin


def test_drain_returns_after_three_zero_input_batches():
    q = StubQuery(
        [
            {"bid": 0, "progress": [{"batchId": 0, "numInputRows": 40}]},
            {
                "bid": 3,
                "trigger": False,
                "progress": [
                    {"batchId": 1, "numInputRows": 0},
                    {"batchId": 2, "numInputRows": 0},
                    {"batchId": 3, "numInputRows": 0},
                ],
            },
        ]
    )
    _drain(q)


# ---------------------------------------------------------------------------
# --pid auto vs real START/END pairs per ride
# ---------------------------------------------------------------------------


def _paired_taxi_lines(n_rides: int = 60) -> list[str]:
    """nycTaxiRides-format CSV where EVERY ride contributes both a START and
    an END line (the real dataset's shape), interleaved in time order."""
    from datetime import datetime, timedelta, timezone

    base = datetime(2020, 3, 1, tzinfo=timezone.utc)
    fmt = lambda d: d.strftime("%Y-%m-%d %H:%M:%S")
    lines = []
    for i in range(n_rides):
        start = base + timedelta(seconds=11 * i)
        end = start + timedelta(seconds=5)  # END arrives right after START
        ride = i + 1
        common = f"-73.9{i % 100:02d},40.7{i % 100:02d},-73.800,40.600," f"{1 + i % 4},{100 + i % 7},{5000 + i}"
        lines.append(f"{ride},START,{fmt(start)},{fmt(end)},{common}")
        lines.append(f"{ride},END,{fmt(end)},{fmt(start)},{common}")
    return lines


def _write_gz(tmp_path, lines):
    src_dir = tmp_path / "taxi_gz"
    src_dir.mkdir()
    p = src_dir / "nycTaxiRides_0.gz"
    with gzip.open(p, "wt") as fh:
        fh.write("\n".join(lines) + "\n")
    os.utime(p, (1_700_000_000, 1_700_000_000))
    return src_dir


def _run_stream(spark, tmp_path, parsed_transform, pid_col, timeout_s=180):
    """Compose the P2->P6->P7 chain over the paired fixture; return
    (rows_released, query_exception)."""
    from pyfads.fads_stream import fads_generalize_stream
    from pyfads.io import parse_taxi_lines
    from pyfads.schema import fads_output_schema

    lines = _paired_taxi_lines(60)
    src_dir = _write_gz(tmp_path, lines)
    cfg = FADSConfig(
        k=10,
        buffer_rows=30,
        reuse_ms=60_000,
        qid_cols=("rideId", "taxiId", "endTime"),
        pid_col=pid_col,
        arrival_col="arrival_ms",
    )
    raw = spark.readStream.text(str(src_dir))
    parsed = parsed_transform(parse_taxi_lines(raw))
    enriched = parsed.withColumn("arrival_ms", F.col("startTime"))
    released = fads_generalize_stream(enriched, cfg, flush_after_ms=3_600_000)
    out_dir = str(tmp_path / "out_parquet")
    ckpt = str(tmp_path / "ckpt")
    q = (
        released.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .start()
    )
    out_schema = fads_output_schema(enriched.schema, cfg)
    expected_n = len(lines) - cfg.buffer_rows
    exc = None
    try:
        deadline = _t.time() + timeout_s
        while _t.time() < deadline:
            if not q.isActive:
                exc = q.exception()
                break
            try:
                n = spark.read.schema(out_schema).parquet(out_dir).count()
            except Exception:
                n = 0
            if n >= expected_n:
                break
            _t.sleep(2)
        try:
            got_n = spark.read.schema(out_schema).parquet(out_dir).count()
        except Exception:
            got_n = 0
    finally:
        q.stop()
    return got_n, exc, expected_n


def test_auto_pid_runs_on_real_start_end_pairs(spark, tmp_path):
    got_n, exc, expected_n = _run_stream(
        spark, tmp_path, with_auto_pid, AUTO_PID_COL
    )
    assert exc is None, f"query failed: {exc}"
    assert got_n == expected_n


def test_bare_rideid_pid_fails_loudly_on_start_end_pairs(spark, tmp_path):
    got_n, exc, _ = _run_stream(
        spark, tmp_path, lambda df: df, "rideId", timeout_s=120
    )
    assert exc is not None, (
        "duplicate rideId (START+END pair) must fail the uniqueness check, "
        f"but the query released {got_n} rows without error"
    )
    assert "unique" in str(exc).lower()
