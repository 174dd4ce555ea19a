"""The reference job as a CLI: gz taxi CSV -> FADS -> parquet.

Drop-in for `TransactionGeneralizationJob.main`
(reference TransactionGeneralizationJob.java:35-79): the same P1-P7 chain
the reference wires — throttled gz CSV source, line parse with START/END
time swap, arrival enrichment, throughput logging, the stateful FADS
generalizer (defaults k=10, buffer=30, reuse 60000 ms, QIDs {0,1,5} =
rideId/taxiId/endTime, pid=auto), parquet sink — composed as ONE
Structured Streaming query (the composed form is parity-tested row-for-row
against the pure-Python oracle in tests/test_fads_stream.py).

Usage:
    python -m pyfads.taxi_job INPUT_DIR OUTPUT_DIR \
        [--k 10] [--buffer 30] [--reuse-ms 60000] \
        [--qids rideId,taxiId,endTime] [--pid auto] \
        [--checkpoint DIR] [--cpus 4]

INPUT_DIR holds nycTaxiRides-format .gz (or plain) CSV files; the query
runs until every file present is consumed (three consecutive micro-batches
read zero input rows, see :func:`input_drained`), settles for one batch
boundary and exits — run it again to pick up new files (state restores
from the checkpoint).

``--pid auto`` (the default) synthesizes a globally unique row key
``concat(rideId, '#', eventKind)``: real nycTaxiRides input emits a START
*and* an END event per rideId (NYCTaxiRideSource.java emits both halves),
so a bare ``--pid rideId`` would trip the streaming pending-store's
uniqueness check on the first batch containing both halves of a ride.
The key is content-derived (stable across micro-batch replays and
checkpoint restarts, unlike ``monotonically_increasing_id`` whose
per-partition counters reset each batch) and rideId stays available as a
passthrough column.  Pass an explicit column name to key on it directly
(it must then be globally unique across the whole stream).
"""

from __future__ import annotations

import argparse
import sys
import tempfile

AUTO_PID_COL = "__pid"


def with_auto_pid(parsed):
    """Add the synthesized unique row key ``__pid = rideId#START|END``.

    nycTaxiRides emits exactly one START and one END per rideId
    (NYCTaxiRideSource.java), so the pair is unique; being content-derived
    it is stable across micro-batch replays and checkpoint restarts
    (unlike ``monotonically_increasing_id``, whose per-partition counters
    reset each micro-batch and collide across batches)."""
    from pyspark.sql import functions as F

    kind = F.when(F.col("isStart"), F.lit("START")).otherwise(F.lit("END"))
    return parsed.withColumn(
        AUTO_PID_COL, F.concat_ws("#", F.col("rideId"), kind)
    )


def input_drained(q):
    """``until`` condition for :func:`pyfads.streamrun.run_to_completion`:
    the file source is drained once three consecutive completed batches
    read zero input rows.

    Drain detection must watch the INPUT side, not the sink: FADS buffers
    rows in state, so early micro-batches can release nothing while ingest
    files are still queued — a sink-count heuristic would stop early.  With
    a ProcessingTimeTimeout armed the query keeps scheduling state-cleanup
    batches after the last file, and each of those reads zero rows."""
    seen: dict[int, int] = {}  # batchId -> numInputRows

    def until() -> bool:
        for pr in q.recentProgress:
            seen[pr["batchId"]] = int(pr["numInputRows"])
        done = sorted(seen)
        return len(done) >= 3 and all(seen[b] == 0 for b in done[-3:])

    return until


def main(argv: "list[str] | None" = None) -> int:
    ap = argparse.ArgumentParser(
        prog="python -m pyfads.taxi_job", description=__doc__.split("\n")[0]
    )
    ap.add_argument("input_dir")
    ap.add_argument("output_dir")
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument("--buffer", type=int, default=30)
    ap.add_argument("--reuse-ms", type=int, default=60_000)
    ap.add_argument("--qids", default="rideId,taxiId,endTime")
    ap.add_argument("--pid", default="auto")
    ap.add_argument("--checkpoint", default=None)
    ap.add_argument("--cpus", type=int, default=4)
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession, functions as F

    from pyfads.config import FADSConfig
    from pyfads.fads_stream import fads_generalize_stream
    from pyfads.io import parse_taxi_lines
    from pyfads.metrics import ThroughputListener
    from pyfads.streamrun import run_to_completion

    spark = (
        SparkSession.builder.master(f"local[{args.cpus}]")
        .config("spark.sql.shuffle.partitions", str(args.cpus))
        .appName("pyfads-taxi-job")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")

    cfg = FADSConfig(
        k=args.k,
        buffer_rows=args.buffer,
        reuse_ms=args.reuse_ms,
        qid_cols=tuple(args.qids.split(",")),
        pid_col=AUTO_PID_COL if args.pid == "auto" else args.pid,
        arrival_col="arrival_ms",
    )
    ckpt = args.checkpoint or tempfile.mkdtemp(prefix="pyfads_taxi_ckpt_")

    raw = spark.readStream.option("maxFilesPerTrigger", 1).text(args.input_dir)
    parsed = parse_taxi_lines(raw)  # P2: START/END dispatch, empty -> 0.0
    if args.pid == "auto":
        parsed = with_auto_pid(parsed)  # see module docstring
    enriched = parsed.withColumn("arrival_ms", F.col("startTime"))  # P4
    listener = ThroughputListener("TaxiJob")  # P5
    spark.streams.addListener(listener)
    released = fads_generalize_stream(enriched, cfg)  # P6 (G1-G14 inside)

    q = (
        released.writeStream.format("parquet")  # P7
        .option("path", args.output_dir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .start()
    )
    from pyfads.schema import fads_output_schema

    out_schema = fads_output_schema(enriched.schema, cfg)

    def _count() -> int:
        try:
            return spark.read.schema(out_schema).parquet(args.output_dir).count()
        except Exception:
            return 0

    run_to_completion(q, until=input_drained(q), deadline_s=float("inf"))
    print(
        f"released {_count()} generalized rows -> {args.output_dir} (ckpt: {ckpt})"
    )
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
