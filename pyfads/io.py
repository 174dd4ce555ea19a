"""Sources, parsing, arrival enrichment, sinks (P1/P2/P3/P4/P7).

The reference's ingest is a hand-rolled gzipped-CSV source that busy-waits
to cap throughput (NYCTaxiRideSource.java:124-158) and a generic CSV→tuple
map (CSVParser.java:52-86).  Spark-first replacements:

- batch reads: ``spark.read.csv`` (Spark decompresses ``.gz`` natively) /
  ``spark.read.parquet`` — predicate pushdown and column pruning come free.
- rate control is a *source* concern: a file source with
  ``maxFilesPerTrigger`` — never a busy-wait that burns a core
  (SURVEY.md §4.2).
- arrival time (P4, TransactionGeneralizationJob.java:58-61): the
  reference attaches ``System.currentTimeMillis()``; we default to a
  *deterministic* arrival clock derived from the data so runs are
  replayable (SURVEY.md §7.4.5).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from pyfads.schema import TAXI_CSV_TOKEN_ORDER

__all__ = [
    "read_table",
    "epoch_ms",
    "spread",
    "read_taxi_csv",
    "parse_taxi_lines",
    "parse_csv_with_pid",
    "with_arrival",
    "write_parquet",
    "write_bucketed",
    "write_range_layout",
    "read_jsonl",
    "write_jsonl",
    "read_orc",
    "write_orc",
    "register_views",
    "stream_state_partitions",
    "stream_shuffle_scope",
]

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver-generated parquet table (TESTDATA.md).

    Timestamp columns (``ts``, ``l_shipdate``, ``o_orderdate``) arrive as
    whatever the parquet logical type dictates — TIMESTAMP_NTZ for
    ``timestamp[us]`` files (the current testdata), long epoch-nanos if the
    session has the legacy ``nanosAsLong`` conf and the file is
    TIMESTAMP(NANOS).  Use :func:`epoch_ms` to get epoch millis regardless;
    it matches DuckDB ``epoch_ms(col)`` for the oracle comparisons.
    """
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


_EPOCH_NTZ = "TIMESTAMP_NTZ '1970-01-01 00:00:00'"


def epoch_ms(df: DataFrame, col: str):
    """Epoch-millisecond column for ``col``, whatever its physical type.

    - ``timestamp_ntz``: tz-independent ``timestampdiff`` against the epoch
      literal — matches DuckDB ``epoch_ms`` on the same naive value without
      depending on the session time zone.
    - ``timestamp`` (LTZ): ``unix_millis``.
    - ``bigint``: legacy nanos-as-long parquet reads; integer div (float
      division would lose precision above 2^53).
    """
    dt = dict(df.dtypes)[col]
    if dt == "bigint":
        return F.expr(f"{col} div 1000000")
    if dt == "timestamp_ntz":
        return F.expr(f"timestampdiff(MILLISECOND, {_EPOCH_NTZ}, {col})")
    return F.unix_millis(F.col(col))


def spread(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Round-robin repartition ONLY when the scan has fewer partitions than
    cores — a small input file otherwise pins CPU-heavy per-row work (md5
    fingerprints, minhash signatures) to one task.  On a real cluster the
    scan already has >= cores partitions and this is a no-op, so the 100 TB
    path never pays the shuffle."""
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def events_with_arrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events table prepared for FADS: numeric QIDs + deterministic
    arrival clock (event-time millis; ties broken by event_id inside the
    generalizer's stable sort)."""
    ev = read_table(spark, sf_dir, "events")
    ms = epoch_ms(ev, "ts")
    return ev.select(
        "event_id",
        F.col("user_id").cast("double").alias("user_id"),
        "value",
        ms.cast("double").alias("ts_millis"),
        "event_type",
        ms.alias("arrival_ms"),
    )


def parse_taxi_lines(
    lines: DataFrame, value_col: str = "value", permissive: bool = False
) -> DataFrame:
    """P2 — parse raw taxi-ride CSV lines into the 11-column record.

    Semantics of NYCTaxiRideSource.fromString (:204-244): token order is
    rideId, START|END, time, time, lon, lat, lon, lat, passengerCnt, taxiId,
    driverId; START events put (time1, time2) into (startTime, endTime), END
    events swap them; empty lon/lat parse as 0.0 (:231-234); times are
    ``yyyy-MM-dd HH:mm:ss`` UTC strings → epoch millis (:219-225), whatever
    the session time zone.
    Pure built-in functions — stays inside whole-stage codegen.

    ``permissive=False`` (default) is reference parity: a malformed
    rideId/time fails the job, exactly like Long.parseLong/parseDateTime
    in NYCTaxiRideSource (a poison-pill line kills the Flink job too).
    ``permissive=True`` is the production switch: try_-variants parse,
    and rows whose KEY fields (rideId, startTime) are unparsable are
    DROPPED — a bad line costs one record, not the stream.
    """
    tok = F.split(F.col(value_col), ",")
    if permissive:
        # try_element_at: a SHORT line yields NULLs (ANSI getItem throws
        # ArrayIndexOutOfBounds — which is also what the reference's
        # tokens[i] does, hence getItem stays in strict mode)
        c = {
            name: F.try_element_at(tok, F.lit(i + 1))
            for i, name in enumerate(TAXI_CSV_TOKEN_ORDER)
        }
    else:
        c = {name: tok.getItem(i) for i, name in enumerate(TAXI_CSV_TOKEN_ORDER)}
    is_start = c["eventKind"] == F.lit("START")
    # the times are UTC: parse them with an explicit offset so the epoch
    # does not depend on the session time zone
    fmt = "yyyy-MM-dd HH:mm:ssXXX"
    utc = lambda s: F.concat(s, F.lit("+00:00"))  # noqa: E731
    if permissive:
        to_ms = lambda s: F.unix_millis(  # noqa: E731
            F.try_to_timestamp(utc(s), F.lit(fmt))
        )
        lng = lambda s: s.try_cast("long")  # noqa: E731
        sht = lambda s: s.try_cast("short")  # noqa: E731
    else:
        to_ms = lambda s: F.unix_millis(  # noqa: E731
            F.to_timestamp(utc(s), fmt)
        )
        lng = lambda s: s.cast("long")  # noqa: E731
        sht = lambda s: s.cast("short")  # noqa: E731
    # try_cast: ANSI mode (Spark 4 default) hard-fails cast('' as double);
    # the reference maps empty lon/lat to 0.0 (NYCTaxiRideSource.java:231-234)
    dbl0 = lambda s: F.coalesce(s.try_cast("double"), F.lit(0.0))
    out = lines.select(
        lng(c["rideId"]).alias("rideId"),
        lng(c["taxiId"]).alias("taxiId"),
        lng(c["driverId"]).alias("driverId"),
        is_start.alias("isStart"),
        F.when(is_start, to_ms(c["time1"])).otherwise(to_ms(c["time2"])).alias("startTime"),
        F.when(is_start, to_ms(c["time2"])).otherwise(to_ms(c["time1"])).alias("endTime"),
        dbl0(c["startLon"]).alias("startLon"),
        dbl0(c["startLat"]).alias("startLat"),
        dbl0(c["endLon"]).alias("endLon"),
        dbl0(c["endLat"]).alias("endLat"),
        sht(c["passengerCnt"]).alias("passengerCnt"),
    )
    if permissive:
        out = out.filter(
            F.col("rideId").isNotNull() & F.col("startTime").isNotNull()
        )
    return out


def read_taxi_csv(spark: SparkSession, path: str) -> DataFrame:
    """P1+P2 — read (optionally gzipped) taxi-ride CSV; Spark handles .gz."""
    return parse_taxi_lines(spark.read.text(path))


def parse_csv_with_pid(
    lines: DataFrame,
    schema,
    delimiter: str = ",",
    add_pid: bool = True,
    value_col: str = "value",
    pid_col: str = "pid",
) -> DataFrame:
    """P3 — CSVParser analogue (CSVParser.java:52-86): delimited text →
    typed columns via ``from_csv``, plus an auto-increment PID column
    (CSVParser.java:61-64).

    ``monotonically_increasing_id`` is partition-dependent; for a
    *deterministic* PID use :func:`with_arrival`-style ``row_number`` over an
    explicit ordering instead.  The reference's rows/s rate limit
    (CSVParser.java:76-81) is a source concern in Spark — a file stream's
    ``maxFilesPerTrigger`` (:func:`pyfads.streamrun.chunked_source`).
    """
    ddl = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in schema.fields)
    out = lines.select(
        F.from_csv(F.col(value_col), ddl, {"sep": delimiter}).alias("r")
    ).select("r.*")
    if add_pid:
        out = out.select(F.monotonically_increasing_id().alias(pid_col), "*")
    return out


def with_arrival(
    df: DataFrame,
    order_cols: list[str],
    arrival_col: str = "arrival_ms",
    from_ts_col: str | None = None,
) -> DataFrame:
    """P4 — deterministic arrival enrichment.

    The reference attaches processing-time millis per record
    (TransactionGeneralizationJob.java:58-61); for replayable batch runs we
    derive the clock from the data: either ``epoch_ms(from_ts_col)``
    (event time as the logical clock, tz-independent) or a dense
    ``row_number`` sequence over ``order_cols``.

    NOTE (scale): the single ``Window.orderBy`` variant is a global sort into
    one partition — acceptable for parity experiments only.  At scale prefer
    ``from_ts_col`` (no shuffle at all) or a pre-sorted source.
    """
    if from_ts_col is not None:
        # epoch_ms, not unix_millis: on TIMESTAMP_NTZ the latter casts via
        # the session timezone, making the replayable clock tz-dependent
        return df.withColumn(arrival_col, epoch_ms(df, from_ts_col))
    w = Window.orderBy(*[F.col(c) for c in order_cols])
    return df.withColumn(arrival_col, F.row_number().over(w).cast("long"))


def write_parquet(
    df: DataFrame, path: str, mode: str = "overwrite", partition_by: list[str] | None = None
) -> None:
    """P7 — parquet sink (the reference only prints to stdout; an AlertSink
    is commented out at TransactionGeneralizationJob.java:74-76)."""
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_col: str,
    n_buckets: int,
    sort: bool = True,
    mode: str = "overwrite",
) -> None:
    """Persist a table hash-bucketed (and bucket-sorted) on ``bucket_col``
    so every later equi-join or aggregation keyed on it is co-located:
    Spark's bucketed scan exposes the hash partitioning to the planner and
    the Exchange disappears from the plan entirely.

    This is the 100 TB shape for iterated corpus pipelines — bucket the
    corpus by doc_id once at ingest, and the dedup-pairs joins, survivor
    anti-joins, and per-doc feature joins all run shuffle-free thereafter
    (verified by ``tests/test_bucketed.py``, which asserts no Exchange in
    the joined plan).  Requires ``saveAsTable`` (bucket metadata lives in
    the catalog; plain ``.parquet(path)`` writes would lose it)."""
    w = df.write.format("parquet").mode(mode).bucketBy(n_buckets, bucket_col)
    if sort:
        w = w.sortBy(bucket_col)
    w.saveAsTable(table_name)


def read_jsonl(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """JSON-lines source — the lingua franca of LLM corpus interchange.

    Always pass ``schema`` in production: schema inference is a full extra
    pass over the data (fatal at 100 TB) and silently unions drifting
    shapes.  Parsing is PERMISSIVE (Spark's default): malformed lines null
    out instead of failing the job."""
    r = spark.read
    if schema is not None:
        r = r.schema(schema)
    return r.json(path)


def write_jsonl(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """JSON-lines sink (one object per line, gzip-able, splittable when
    uncompressed — for archival/interchange; parquet remains the query
    format)."""
    df.write.mode(mode).json(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC source (Spark's built-in native reader) — the columnar
    interchange format of Hive-era warehouses.  Same pushdown surface as
    parquet: predicate/column pruning reach the stripe level, so migrating
    an ORC-resident corpus into this engine needs no conversion pass."""
    return spark.read.orc(path)


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """ORC sink (zlib default codec; stripe-level stats written)."""
    df.write.mode(mode).orc(path)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view so ad-hoc ``spark.sql``
    works against the same names the DuckDB oracles use — the interactive
    query surface of the engine."""
    for t in TABLES:
        read_table(spark, sf_dir, t).createOrReplaceTempView(t)


def write_range_layout(
    df: DataFrame, path: str, sort_col: str, n_files: int, mode: str = "overwrite"
) -> None:
    """Compact/re-layout a dataset into ``n_files`` range-partitioned,
    internally-sorted parquet files on ``sort_col``.

    The 100 TB maintenance pass: small-file compaction plus data-skipping
    layout in one write.  ``repartitionByRange`` gives files pairwise
    disjoint key ranges (equal keys never straddle a boundary) and
    ``sortWithinPartitions`` tightens every parquet row-group's min/max
    stats, so later scans filtered on ``sort_col`` skip whole files and
    row groups at the footer level (verified file-by-file from the parquet
    metadata in ``tests/test_bucketed.py``)."""
    (
        df.repartitionByRange(n_files, F.col(sort_col))
        .sortWithinPartitions(sort_col)
        .write.mode(mode)
        .parquet(path)
    )


STREAM_ROWS_PER_STATE_PARTITION = 50_000
"""Sizing target for streaming STATE partitions: a state store instance
per shuffle partition is opened, updated, snapshotted and committed EVERY
micro-batch, so partitions beyond the stream's key/volume needs are pure
per-batch I/O overhead (measured: an empty state-cleanup micro-batch of
the 1-key FADS parity stream cost 1.4 s against 32 state stores).  50k
input rows per partition is a few MB of state — far below the 100 MB-1 GB
per-partition guidance for batch shuffles (guide §2.2), so the derived
count errs toward MORE partitions as data grows; at 100 TB the same rule
yields thousands of partitions."""


def stream_state_partitions(
    spark: SparkSession, n_rows: "int | None" = None, n_keys: "int | None" = None
) -> int:
    """Scale-adaptive state-partition count for a stream about to start:
    bounded by the distinct state-key count when the caller knows it (a
    partition can never hold less than one key's state, so partitions
    beyond ``n_keys`` stay empty forever), else by input volume via
    :data:`STREAM_ROWS_PER_STATE_PARTITION`, and always by the session's
    core count."""
    import math

    cores = spark.sparkContext.defaultParallelism
    cap = cores
    if n_keys is not None:
        cap = min(cap, n_keys)
    elif n_rows is not None:
        cap = min(cap, math.ceil(n_rows / STREAM_ROWS_PER_STATE_PARTITION))
    return max(1, cap)


class stream_shuffle_scope:
    """Context manager: pin ``spark.sql.shuffle.partitions`` (the value a
    streaming query captures into its checkpoint at start) for the stream
    started inside the block, restoring the session conf on exit.  Keep
    the block open until the query is stopped — the conf is read by the
    query's run thread at initialization, not at ``start()`` return.

    SINGLE-THREADED sessions only: the conf is session-global, so any
    concurrent query on the same SparkSession (another driver thread, or
    batch work submitted inside the block) silently inherits the pinned
    value (possibly 1).  Nested/concurrent scopes on one session are
    likewise unsafe (last exit wins the restore).  Fine in the bench and
    tests, which drive one query at a time; a multi-tenant service should
    set the conf on a per-query cloned session instead (ADVICE r12)."""

    def __init__(
        self,
        spark: SparkSession,
        n_rows: "int | None" = None,
        n_keys: "int | None" = None,
    ) -> None:
        self._spark = spark
        self._n = stream_state_partitions(spark, n_rows, n_keys)

    def __enter__(self) -> int:
        self._old = self._spark.conf.get("spark.sql.shuffle.partitions")
        self._spark.conf.set("spark.sql.shuffle.partitions", str(self._n))
        return self._n

    def __exit__(self, *exc) -> None:
        self._spark.conf.set("spark.sql.shuffle.partitions", self._old)


# --------------------------------------------------------------------------
# Keyed upsert (MERGE latest-wins) with selective partition rewrite
# --------------------------------------------------------------------------


def merge_latest(
    existing: DataFrame,
    batch: DataFrame,
    key_col: str,
    version_col: str,
) -> DataFrame:
    """Latest-wins merge of ``batch`` into ``existing``: one row per key,
    highest ``version_col`` wins, and at equal versions the batch row wins
    (upsert semantics).  Pure DataFrame logic — one row_number over the
    unioned sides, shuffle-free when both sides are bucketed on the key.

    Precondition: each SIDE holds at most one row per (key, version) — the
    tie-break orders by (version desc, side) only, so duplicate
    (key, version) rows WITHIN a side would survive arbitrarily.  Callers
    that cannot guarantee this should pre-dedup the side (e.g. with
    :func:`pyfads.dedup.exact_dedup`) before merging.
    """
    cols = existing.columns
    if batch.columns != cols:
        batch = batch.select(*cols)
    tagged = existing.withColumn("__src", F.lit(0)).unionByName(
        batch.withColumn("__src", F.lit(1))
    )
    w = Window.partitionBy(key_col).orderBy(
        F.desc(version_col), F.desc("__src")
    )
    return (
        tagged.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(*cols)
    )


def upsert_partitioned(
    spark: SparkSession,
    path: str,
    batch: DataFrame,
    key_col: str,
    version_col: str,
    n_parts: int = 64,
    part_col: str = "part_id",
) -> list[int]:
    """Upsert ``batch`` into the hash-partitioned parquet dataset at
    ``path``, rewriting ONLY the partitions that contain batch keys
    (dynamic partition overwrite) — the poor-man's MERGE for plain
    parquet, no table format required.

    Layout: rows live under ``part_id=<pmod(xxhash64(key), n_parts)>``
    directories (created on first call).  Each upsert (1) derives the
    affected partition ids from the batch keys — at most ``n_parts``
    small values, (2) reads back only those partitions (directory-level
    partition pruning; untouched partitions are never opened), (3) merges
    latest-wins via :func:`merge_latest`, (4) writes with
    ``partitionOverwriteMode=dynamic`` so only the affected directories
    are replaced.  Returns the sorted affected partition ids.

    100 TB shape: cost per upsert is O(batch + affected partitions), not
    O(corpus) — with daily batches touching b of n partitions, the rewrite
    is b/n of the corpus.  Raise ``n_parts`` so one partition is a few GB;
    for transactional semantics swap the directory layout for a table
    format (the merge logic is unchanged).

    Caveats (plain-parquet limits, by design): the write is NOT atomic —
    a crash during job commit can leave some affected partitions replaced
    and others not (re-running the same upsert repairs them: the merge is
    idempotent, tests/test_upsert.py), and there must be no concurrent
    writer to ``path`` while an upsert is in flight.  Both go away under a
    table format.  The dynamic overwrite mode is scoped to THIS write via
    a DataFrameWriter option, so concurrent jobs in the same session keep
    their own overwrite semantics.
    """
    import os

    pid = F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_parts)).cast("int")
    batch = batch.withColumn(part_col, pid)
    if not os.path.exists(path):
        batch.write.partitionBy(part_col).mode("overwrite").parquet(path)
        return sorted(r[part_col] for r in batch.select(part_col).distinct().collect())
    affected = sorted(
        r[part_col] for r in batch.select(part_col).distinct().collect()
    )
    existing = spark.read.parquet(path).filter(F.col(part_col).isin(affected))
    merged = merge_latest(existing, batch, key_col, version_col)
    (
        merged.write.option("partitionOverwriteMode", "dynamic")
        .partitionBy(part_col)
        .mode("overwrite")
        .parquet(path)
    )
    return affected
