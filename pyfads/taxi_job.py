"""The reference job: gz taxi CSV -> FADS -> parquet, and its CLI.

:func:`run_job` is the one composition of the reference's P1-P7 chain
(TransactionGeneralizationJob.java:35-79): throttled gz CSV source, line
parse with START/END time swap (UTC), arrival enrichment, throughput
logging, the stateful FADS generalizer (:data:`TAXI_CFG`: k=10,
buffer=30, reuse 60000 ms, QIDs {0,1,5} = rideId/taxiId/endTime), parquet
sink — as ONE Structured Streaming query.  The CLI below, the
``taxi_job_composed`` gate entry and the taxi stream tests all run it
(tests/test_fads_stream.py checks it row-for-row against the pure-Python
oracle).

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
import dataclasses
import sys
import tempfile

from pyfads.config import FADSConfig

AUTO_PID_COL = "__pid"

# Generalizer(10, 30, 60000, keys {0,1,5}, pidKey 0) over the 11-field
# ride tuple (TransactionGeneralizationJob.java:66-72)
TAXI_CFG = FADSConfig(qid_cols=("rideId", "taxiId", "endTime"), pid_col="rideId")


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


def run_job(
    spark,
    input_dir: str,
    output_dir: str,
    checkpoint: str,
    cfg: FADSConfig = TAXI_CFG,
    *,
    flush_after_ms: int = 60_000,
    expect_rows: "int | None" = None,
    deadline_s: float = 240,
):
    """Run the P1->P7 chain over ``input_dir`` as one streaming query and
    drive it to completion; returns ``(released frame, listener)``.

    The query ends once the sink holds ``expect_rows`` rows, or, with
    ``expect_rows=None``, once :func:`input_drained`; in both cases also
    only after the :class:`ThroughputListener` has counted every input row
    the query reported (listener events are delivered asynchronously).  A
    failed query re-raises its own exception; an unmet end condition raises
    ``TimeoutError`` after ``deadline_s``.  State lives in one group
    (parity mode), so the query runs with one state partition."""
    from pyspark.errors import AnalysisException
    from pyspark.sql import functions as F

    from pyfads.fads_stream import fads_generalize_stream
    from pyfads.io import parse_taxi_lines, stream_shuffle_scope
    from pyfads.metrics import ThroughputListener
    from pyfads.schema import fads_output_schema
    from pyfads.streamrun import run_to_completion

    raw = spark.readStream.option("maxFilesPerTrigger", 1).text(input_dir)  # P1
    parsed = parse_taxi_lines(raw)  # P2: START/END dispatch, empty -> 0.0
    if cfg.pid_col == AUTO_PID_COL:
        parsed = with_auto_pid(parsed)  # see module docstring
    enriched = parsed.withColumn(cfg.arrival_col, F.col("startTime"))  # P4
    released = fads_generalize_stream(enriched, cfg, flush_after_ms=flush_after_ms)  # P6
    out_schema = fads_output_schema(enriched.schema, cfg)

    def sink_rows() -> int:
        try:
            return spark.read.schema(out_schema).parquet(output_dir).count()
        except AnalysisException as e:
            if e.getCondition() != "PATH_NOT_FOUND":
                raise
            return 0  # the sink has not created its directory yet

    listener = ThroughputListener("TaxiJob")  # P5
    spark.streams.addListener(listener)
    try:
        with stream_shuffle_scope(spark, n_keys=1):
            q = (
                released.writeStream.format("parquet")  # P7
                .option("path", output_dir)
                .option("checkpointLocation", checkpoint)
                .outputMode("append")
                .start()
            )
            drained = input_drained(q)
            reported: dict[int, int] = {}  # batchId -> numInputRows

            def until() -> bool:
                for pr in q.recentProgress:
                    reported[pr["batchId"]] = int(pr["numInputRows"])
                if listener.rows_total < sum(reported.values()):
                    return False
                if expect_rows is None:
                    return drained()
                # a zero-input last batch: every batch that read input (and
                # wrote what the sink holds) has reported its progress
                return (
                    bool(reported)
                    and reported[max(reported)] == 0
                    and sink_rows() >= expect_rows
                )

            run_to_completion(q, until=until, deadline_s=deadline_s)
    finally:
        spark.streams.removeListener(listener)
    return spark.read.schema(out_schema).parquet(output_dir), listener


def main(argv: "list[str] | None" = None) -> int:
    ap = argparse.ArgumentParser(
        prog="python -m pyfads.taxi_job", description=__doc__.split("\n")[0]
    )
    ap.add_argument("input_dir")
    ap.add_argument("output_dir")
    ap.add_argument("--k", type=int, default=TAXI_CFG.k)
    ap.add_argument("--buffer", type=int, default=TAXI_CFG.buffer_rows)
    ap.add_argument("--reuse-ms", type=int, default=TAXI_CFG.reuse_ms)
    ap.add_argument("--qids", default=",".join(TAXI_CFG.qid_cols))
    ap.add_argument("--pid", default="auto")
    ap.add_argument("--checkpoint", default=None)
    ap.add_argument("--cpus", type=int, default=4)
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{args.cpus}]")
        .config("spark.sql.shuffle.partitions", str(args.cpus))
        .appName("pyfads-taxi-job")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")

    cfg = dataclasses.replace(
        TAXI_CFG,
        k=args.k,
        buffer_rows=args.buffer,
        reuse_ms=args.reuse_ms,
        qid_cols=tuple(args.qids.split(",")),
        pid_col=AUTO_PID_COL if args.pid == "auto" else args.pid,
    )
    ckpt = args.checkpoint or tempfile.mkdtemp(prefix="pyfads_taxi_ckpt_")
    out, _ = run_job(
        spark, args.input_dir, args.output_dir, ckpt, cfg, deadline_s=float("inf")
    )
    print(f"released {out.count()} generalized rows -> {args.output_dir} (ckpt: {ckpt})")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
