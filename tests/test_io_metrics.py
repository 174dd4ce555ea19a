"""IO (P1/P2/P3/P7) and metrics (P5) tests."""

from __future__ import annotations

import pandas as pd

from pyfads.io import (
    parse_csv_with_pid,
    parse_taxi_lines,
    read_table,
    with_arrival,
    write_parquet,
)
from pyfads.metrics import BatchThroughput, observe_count
from pyfads.schema import TAXI_RIDE_SCHEMA

from tests.conftest import SF_DIR


def test_taxi_parse_start_end(spark):
    """fromString semantics (NYCTaxiRideSource.java:204-244): START keeps
    (t1,t2) order, END swaps; empty lon/lat -> 0.0."""
    lines = spark.createDataFrame(
        [
            ("42,START,2013-01-01 00:00:00,2013-01-01 00:05:00,-73.9,40.7,-73.8,40.8,2,7,9",),
            ("43,END,2013-01-01 00:10:00,2013-01-01 00:02:00,,,-73.8,40.8,1,7,9",),
        ],
        ["value"],
    )
    out = parse_taxi_lines(lines).toPandas().sort_values("rideId").reset_index(drop=True)
    assert list(out.columns) == [f.name for f in TAXI_RIDE_SCHEMA.fields]
    start = out.iloc[0]
    assert bool(start.isStart) and start.startTime == 1356998400000 and start.endTime == 1356998700000
    end = out.iloc[1]
    # END: token t1 is the event time -> endTime; t2 -> startTime
    assert not bool(end.isStart)
    assert end.endTime == 1356999000000 and end.startTime == 1356998520000
    assert end.startLon == 0.0 and end.startLat == 0.0  # empty -> 0.0


def test_taxi_csv_gz_roundtrip(spark, tmp_path):
    """P1: Spark reads .gz natively; parse returns the 11-col record."""
    import gzip

    p = tmp_path / "rides.csv.gz"
    with gzip.open(p, "wt") as f:
        f.write("1,START,2013-01-01 00:00:00,2013-01-01 00:05:00,-73.9,40.7,-73.8,40.8,2,7,9\n")
        f.write("1,END,2013-01-01 00:05:00,2013-01-01 00:00:00,-73.9,40.7,-73.8,40.8,2,7,9\n")
    from pyfads.io import read_taxi_csv

    out = read_taxi_csv(spark, str(p))
    assert out.count() == 2
    assert [(f.name, f.dataType) for f in out.schema.fields] == [
        (f.name, f.dataType) for f in TAXI_RIDE_SCHEMA.fields
    ]


def test_parse_csv_with_pid(spark):
    from pyspark.sql import types as T

    schema = T.StructType(
        [T.StructField("a", T.LongType()), T.StructField("b", T.StringType())]
    )
    lines = spark.createDataFrame([("1,x",), ("2,y",)], ["value"])
    out = parse_csv_with_pid(lines, schema).toPandas()
    assert set(out.columns) == {"pid", "a", "b"}
    assert len(set(out.pid)) == 2  # unique PIDs (CSVParser.java:61-64)


def test_with_arrival_deterministic(spark):
    ev = read_table(spark, SF_DIR, "events")
    a = with_arrival(ev, ["ts", "event_id"]).select("event_id", "arrival_ms").toPandas()
    b = with_arrival(ev, ["ts", "event_id"]).select("event_id", "arrival_ms").toPandas()
    pd.testing.assert_frame_equal(
        a.sort_values("event_id").reset_index(drop=True),
        b.sort_values("event_id").reset_index(drop=True),
    )


def test_write_parquet_roundtrip(spark, tmp_path):
    ev = read_table(spark, SF_DIR, "events").limit(100)
    write_parquet(ev, str(tmp_path / "out"), partition_by=["event_type"])
    back = spark.read.parquet(str(tmp_path / "out"))
    assert back.count() == 100


def test_batch_throughput_and_observe(spark):
    ev = read_table(spark, SF_DIR, "events")
    observed, obs = observe_count(ev)
    with BatchThroughput("count") as t:
        observed.write.format("noop").mode("overwrite").save()
        t.rows = obs.get["rows"]
    assert t.rows == ev.count()
    assert t.rows_per_sec > 0
    assert t.mean > 0


def test_parse_taxi_lines_permissive_drops_poison_lines(spark):
    """Strict mode (reference parity) fails on a malformed rideId;
    permissive mode drops exactly the poison rows and parses the rest —
    one bad line costs one record, not the stream."""
    import pytest as _pt

    from pyfads.io import parse_taxi_lines

    good = "7,START,2020-03-01 00:00:00,2020-03-01 00:05:00,-73.9,40.7,-73.8,40.6,2,101,5007"
    bad_id = "oops,START,2020-03-01 00:00:00,2020-03-01 00:05:00,,,,-73.8,1,101,5008"
    bad_time = "8,START,not-a-time,2020-03-01 00:05:00,-73.9,40.7,-73.8,40.6,1,101,5009"
    short = "9,START"
    df = spark.createDataFrame(
        [(good,), (bad_id,), (bad_time,), (short,)], "value string"
    )
    rows = parse_taxi_lines(df, permissive=True).collect()
    assert [r.rideId for r in rows] == [7]
    assert rows[0].startTime == 1583020800000 and rows[0].passengerCnt == 2
    with _pt.raises(Exception):
        parse_taxi_lines(df).collect()  # strict: poison line kills the job


def test_parse_taxi_lines_is_utc_under_any_session_zone(spark):
    """The ride clock is UTC (NYCTaxiRideSource.java:57-58, 219-225): the
    parsed epochs must not move with the session time zone, in either
    mode, a time that falls in New York's DST gap included."""
    from datetime import datetime, timezone

    def utc_ms(t):
        d = datetime.strptime(t, "%Y-%m-%d %H:%M:%S").replace(tzinfo=timezone.utc)
        return int(d.timestamp()) * 1000

    t0, t1, gap = "2013-01-01 00:00:00", "2013-01-01 00:05:00", "2013-03-10 02:30:00"
    df = spark.createDataFrame(
        [
            (f"1,START,{t0},{t1},-73.9,40.7,-73.8,40.8,2,7,9",),
            (f"2,END,{t1},{t0},-73.9,40.7,-73.8,40.8,2,7,9",),
            (f"3,START,{gap},{t1},-73.9,40.7,-73.8,40.8,2,7,9",),
        ],
        "value string",
    )
    expected = {
        1: (utc_ms(t0), utc_ms(t1)),
        2: (utc_ms(t0), utc_ms(t1)),
        3: (utc_ms(gap), utc_ms(t1)),
    }
    old = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        for permissive in (False, True):
            rows = parse_taxi_lines(df, permissive=permissive).collect()
            got = {r.rideId: (r.startTime, r.endTime) for r in rows}
            assert got == expected, permissive
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)
