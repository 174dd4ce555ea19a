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
- the CLI itself, run as ``python -m pyfads.taxi_job`` in a non-UTC host
  zone.
"""

from __future__ import annotations

import dataclasses
import gzip
import os
import time

import pytest

from pyfads.streamrun import run_to_completion
from pyfads.taxi_job import AUTO_PID_COL, TAXI_CFG, input_drained, run_job
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
    t0 = time.monotonic()
    _drain(q)
    assert time.monotonic() - t0 < 5  # returned, did not spin


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


def _run_stream(spark, tmp_path, pid_col):
    """Run the reference job over the paired fixture; return
    (rows_released, rows_expected)."""
    lines = _paired_taxi_lines(60)
    src_dir = _write_gz(tmp_path, lines)
    cfg = dataclasses.replace(TAXI_CFG, pid_col=pid_col)
    expected_n = len(lines) - cfg.buffer_rows
    out, _ = run_job(
        spark, str(src_dir), str(tmp_path / "out_parquet"), str(tmp_path / "ckpt"),
        cfg, flush_after_ms=3_600_000, expect_rows=expected_n,
    )
    return out.count(), expected_n


def test_auto_pid_runs_on_real_start_end_pairs(spark, tmp_path):
    got_n, expected_n = _run_stream(spark, tmp_path, AUTO_PID_COL)
    assert got_n == expected_n


def test_bare_rideid_pid_fails_loudly_on_start_end_pairs(spark, tmp_path):
    # duplicate rideId (START+END pair) must fail the uniqueness check, and
    # the query's own exception must surface instead of a hang
    with pytest.raises(Exception, match="(?i)unique"):
        _run_stream(spark, tmp_path, "rideId")


def test_cli_parses_utc_and_prints_sink_count(tmp_path):
    """``python -m pyfads.taxi_job`` end to end in a host zone that is not
    UTC: the ride clock must still parse as UTC (NYCTaxiRideSource.java
    parses UTC), and the printed count must be the sink's."""
    import re
    import subprocess
    import sys
    from datetime import datetime, timezone

    import pyarrow.parquet as pq

    lines = _paired_taxi_lines(60)
    src_dir = _write_gz(tmp_path, lines)
    out_dir = tmp_path / "out"
    env = {**os.environ, "TZ": "America/New_York"}
    res = subprocess.run(
        [sys.executable, "-m", "pyfads.taxi_job", str(src_dir), str(out_dir), "--cpus", "2"],
        env=env, capture_output=True, text=True, timeout=180,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    assert res.returncode == 0, res.stderr[-2000:]
    printed = int(re.search(r"released (\d+) generalized rows", res.stdout).group(1))
    got = pq.read_table(
        [str(p) for p in out_dir.glob("*.parquet")], columns=[AUTO_PID_COL, "arrival_ms"]
    ).to_pylist()
    assert printed == len(got)
    assert len(lines) - TAXI_CFG.buffer_rows <= printed <= len(lines)
    # START and END lines of a ride both carry the ride's UTC start second
    start_ms = {}
    for ln in lines:
        ride, kind, t1, t2 = ln.split(",")[:4]
        t = t1 if kind == "START" else t2
        utc = datetime.strptime(t, "%Y-%m-%d %H:%M:%S").replace(tzinfo=timezone.utc)
        start_ms[f"{ride}#{kind}"] = int(utc.timestamp()) * 1000
    assert all(r["arrival_ms"] == start_ms[r[AUTO_PID_COL]] for r in got)
