"""Query registry: every implemented operator from SURVEY.md §2 as a
(spark, sf_dir) -> DataFrame callable, with a matching DuckDB-runnable ANSI
SQL oracle where the semantics are SQL-expressible.

Column-name discipline: the driver's comparator sorts columns by name and
hashes values, so every computed column is aliased identically in the Spark
code and the SQL.

Timestamp columns in the testdata are ``timestamp[us]`` parquet: Spark reads
them as TIMESTAMP_NTZ, DuckDB as TIMESTAMP — so oracles use
``epoch_ms(col)`` where Spark uses :func:`pyfads.io.epoch_ms` (a
tz-independent ``timestampdiff`` against the epoch; both floor to millis).

Float-literal parity rule: embed double constants in oracle SQL as
``CAST('<repr>' AS DOUBLE)`` (string cast).  A bare 17-digit literal
parses as DECIMAL(18,17) in DuckDB, and its DECIMAL->DOUBLE conversion is
one ulp off the correctly-rounded string parse for some values (measured:
-0.20963932573795319) — enough to flip a value-hash comparison.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
# values are SQL strings, or zero-arg callables -> SQL for oracles that are
# expensive or data-dependent to build (golden FADS tables, trained IVF
# codebooks — see pyfads.golden); resolved lazily by resolve_oracles()
ORACLES: dict[str, "str | Callable[[], str]"] = {}


def query(name: str, oracle: "str | Callable[[], str] | None" = None):
    """Register a queries() entry (+ optional DuckDB oracle SQL or lazy
    SQL builder)."""

    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def resolve_oracles() -> dict[str, str]:
    """Materialize every oracle to a SQL string (builders cache internally,
    keyed by $SPARK_GRAFT_ORACLE_SF_DIR — the sf dir the driver's DuckDB
    views point at).

    A builder that fails (e.g. the oracle sf dir is absent in this
    environment) drops only ITS entry — the query then gets a rows-only
    check — instead of taking every plain-string oracle down with it.
    """
    import sys

    out: dict[str, str] = {}
    for n, o in ORACLES.items():
        if callable(o):
            try:
                out[n] = o()
            except Exception as exc:  # pragma: no cover - environment-dependent
                print(f"[pyfads] oracle builder {n} failed: {exc}", file=sys.stderr)
        else:
            out[n] = o
    return out


# --------------------------------------------------------------------------
# Flagship: batch FADS on events (P6/G12/G14).  The sequential stateful loop
# is not directly SQL-expressible, so the oracle is a golden literal table:
# the independent pure-Python implementation (pyfads.oracle) generates the
# expected intervals at oracle-build time and DuckDB joins them back to the
# events view (pyfads.golden.fads_*_oracle).
# --------------------------------------------------------------------------

from pyfads import golden as _golden  # noqa: E402


@query("fads_generalize_events", oracle=_golden.fads_generalize_events_oracle)
def fads_generalize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyfads import FADSConfig, fads_generalize
    from pyfads.io import events_with_arrival

    return fads_generalize(events_with_arrival(spark, sf_dir), FADSConfig())


@query("fads_partitioned_events", oracle=_golden.fads_partitioned_events_oracle)
def fads_partitioned_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-out FADS (SURVEY.md §2.5.9): independent per-event_type groups."""
    from pyfads import fads_generalize_partitioned
    from pyfads.io import events_with_arrival

    return fads_generalize_partitioned(
        events_with_arrival(spark, sf_dir), _golden.FADS_PARTITIONED_CFG, "event_type"
    )


@query("fads_hotkey_events", oracle=_golden.fads_hotkey_events_oracle)
def fads_hotkey_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-out FADS with the hot-key guard engaged: per-event_type groups
    sub-split into arrival-contiguous runs of <= 120 rows
    (fads_batch.fads_generalize_partitioned max_group_rows), so one skewed
    key cannot produce an unbounded straggler task.  The golden oracle
    re-derives the same run-splitting independently."""
    from pyfads import fads_generalize_partitioned
    from pyfads.io import events_with_arrival

    return fads_generalize_partitioned(
        events_with_arrival(spark, sf_dir),
        _golden.FADS_PARTITIONED_CFG,
        "event_type",
        max_group_rows=120,
    )


@query("fads_legacy_events", oracle=_golden.fads_legacy_events_oracle)
def fads_legacy_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shipped-bug parity mode (r10 verdict item 3): ``legacy_distance``
    replays the reference's SHIPPED neighbour distance byte-for-byte —
    the (abs/hi)-lo operator-precedence bug of Generalizer.java:356,
    IEEE x/0 -> inf and 0/0 -> NaN included — instead of the intended
    normalized L1.  Oracle: the independent pure-Python golden run in the
    same mode (pyfads.oracle supports it natively)."""
    from pyfads import FADSConfig, fads_generalize
    from pyfads.io import events_with_arrival

    cfg = FADSConfig(legacy_distance=True)
    return fads_generalize(events_with_arrival(spark, sf_dir), cfg)


@query("fads_distinct_pids_events", oracle=_golden.fads_distinct_pids_events_oracle)
def fads_distinct_pids_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intended-semantics parity mode of the reference's distinct-PID
    neighbour rule (Generalizer.java:205-216): the k-1 nearest neighbours
    must carry pairwise-distinct PIDs.  The PID here is ``user_id`` (it
    repeats in events, so the rule actually engages — with the unique
    event_id it would be a no-op); pid-as-QID is the reference's own
    pattern (TransactionGeneralizationJob.java:66-72).

    Ordering contract: the engine's arrival sort tiebreaks on the pid, so
    with a NON-unique pid the (arrival, pid) pair must be unique for the
    run to be deterministic — true of the fixtures (verified: zero tied
    (ms, user) groups at every sf) and replayed identically by the golden
    twin's stable sort."""
    from pyfads import FADSConfig, fads_generalize
    from pyfads.io import events_with_arrival

    cfg = FADSConfig(pid_col="user_id", distinct_pids=True)
    return fads_generalize(events_with_arrival(spark, sf_dir), cfg)


def _fads_stream_source(spark: SparkSession, sf_dir: str) -> tuple:
    """events_with_arrival as three arrival-contiguous micro-batches (cut
    on arrival_ms VALUE boundaries); returns (stream_df, row count)."""
    from pyfads.io import events_with_arrival
    from pyfads.streamrun import _chunk_key, chunked_source

    return chunked_source(
        spark,
        lambda: events_with_arrival(spark, sf_dir),
        "arrival_ms",
        3,
        (_chunk_key(sf_dir, "events"), "arrival_ms"),
    )


def _run_fads_stream(
    spark: SparkSession,
    sf_dir: str,
    cfg,
    sink_name: str,
    partition_cols: "list[str] | None" = None,
) -> DataFrame:
    """Drive fads_generalize_stream over the chunked events source until
    the memory sink holds the full release count (the ProcessingTimeTimeout
    flush releases the buffered tail; the stream itself never ends)."""
    from pyfads.fads_stream import fads_generalize_stream
    from pyfads.io import stream_shuffle_scope
    from pyfads.streamrun import run_to_completion

    src, n_events = _fads_stream_source(spark, sf_dir)
    out = fads_generalize_stream(
        src, cfg, partition_cols=partition_cols, flush_after_ms=2_000
    )
    # state partitions sized to the stream's KEY cardinality (guide §2):
    # the unpartitioned parity stream holds exactly ONE state group, the
    # event_type-partitioned one a handful — every partition beyond that
    # holds zero state forever and pays store open/commit I/O per batch
    # (measured 1.4 s per EMPTY cleanup batch against 32 stores).
    n_keys = 1 if not partition_cols else None
    with stream_shuffle_scope(spark, n_rows=n_events, n_keys=n_keys):
        q = (
            out.writeStream.format("memory")
            .queryName(sink_name)
            .outputMode("append")
            .start()
        )
        run_to_completion(
            q, until=lambda: spark.table(sink_name).count() >= n_events
        )
    got = spark.table(sink_name).count()
    if got < n_events:
        # fail LOUDLY: returning the partial sink table would go red at the
        # oracle in a way indistinguishable from a value bug, making a
        # stream stall misdiagnosable (r11 advice)
        raise TimeoutError(
            f"{sink_name}: streaming query released only {got}/{n_events} "
            "rows before the 240s polling deadline — the stream stalled, "
            "this is not an operator value bug"
        )
    return spark.table(sink_name)


@query("fads_stream_events", oracle=_golden.fads_generalize_events_oracle)
def fads_stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING FADS under the driver gate (r10 verdict item 2): the
    flagship config driven through a real ``applyInPandasWithState``
    Structured Streaming query — three arrival-contiguous parquet chunks
    fed one per micro-batch (state survives a pickle round-trip through
    the state store at each boundary), idle ProcessingTimeTimeout flush
    draining the buffer (G14).  Oracle: the SAME golden table as the
    batch flagship — stream==batch parity is the operator's contract
    (pytest-proven in tests/test_fads_stream.py; this entry puts it under
    the driver's independent check).

    Chunks split on arrival_ms VALUE boundaries, so rows with equal
    arrivals never straddle a chunk (the per-batch stable (arrival, pid)
    mergesort then reproduces the batch order globally)."""
    from pyfads import FADSConfig

    return _run_fads_stream(spark, sf_dir, FADSConfig(), "fads_stream_events_sink")


@query("fads_stream_partitioned", oracle=_golden.fads_partitioned_events_oracle)
def fads_stream_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCALE-OUT streaming FADS under the driver gate: one independent
    stateful FADS instance per event_type key (the reference's keyBy
    scale-out, SURVEY §2.5.9), driven through applyInPandasWithState over
    the same arrival-contiguous chunks — each key's state crosses every
    micro-batch boundary through the state store independently.  Oracle:
    the SAME golden table as the batch fads_partitioned_events (per-group
    stream==batch parity)."""
    return _run_fads_stream(
        spark,
        sf_dir,
        _golden.FADS_PARTITIONED_CFG,
        "fads_stream_partitioned_sink",
        ["event_type"],
    )


@query("fads_stream_foreachbatch", oracle=_golden.fads_generalize_events_oracle)
def fads_stream_foreachbatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LAST streaming FADS code path under the driver gate: the
    documented parallelism-1 ``foreachBatch`` parity fallback
    (pyfads.fads_stream.ForeachBatchFADS — each micro-batch toPandas'd
    into ONE shared sequential state machine, the closest shape to the
    reference's single Flink operator).  A foreachBatch query has no
    GroupState timeout, so it drains without a sink poll; then flush()
    drains the tail — the entry is deterministic.  Oracle: the same
    flagship golden (micro-batch boundaries cannot change a sequential
    machine's releases when chunks arrive in arrival order)."""
    import pandas as pd

    from pyfads import FADSConfig
    from pyfads.fads_stream import ForeachBatchFADS
    from pyfads.streamrun import run_to_completion

    src, _n = _fads_stream_source(spark, sf_dir)
    fb = ForeachBatchFADS(FADSConfig())
    run_to_completion(src.writeStream.foreachBatch(fb).start())
    out = pd.concat([*fb.outputs, fb.flush()], ignore_index=True)
    return spark.createDataFrame(out)


# fixture fingerprint -> (gz fixture dir, fixture row count)
_TAXI_JOB: dict[tuple, tuple[str, int]] = {}


@query("taxi_job_composed", oracle=_golden.taxi_job_composed_oracle)
def taxi_job_composed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPOSED reference job under the driver gate (r11 verdict item
    3): :func:`pyfads.taxi_job.run_job`, the one P1->P7 composition
    (gz nycTaxiRides CSV -> line parse -> arrival enrichment -> throughput
    listener -> streaming stateful FADS -> parquet sink, one Structured
    Streaming query), run with a 2 s flush until the sink holds every
    fixture row.  Fixture: CSV synthesized deterministically from the
    events table (pyfads.golden.taxi_fixture_lines), split into three gz
    files on arrival-SECOND value boundaries (equal arrivals never
    straddle a micro-batch).  Oracle: the independent pure-Python golden
    over the same derivation."""
    import gzip
    import os
    import shutil
    import tempfile

    from pyfads.streamrun import _chunk_key, _scratch_dir
    from pyfads.taxi_job import run_job

    key = _chunk_key(sf_dir, "events")
    # the fixture derivation is a full DuckDB scan + python sort — pay it
    # once per fixture fingerprint, not per bench rep (code-review r12)
    if key not in _TAXI_JOB:
        rows = _golden.taxi_fixture_lines(sf_dir)
        d = _scratch_dir("pyfads_taxijob_")
        secs = sorted({r[0] for r in rows})
        cuts = (secs[len(secs) // 3], secs[(2 * len(secs)) // 3])
        chunks: list[list[str]] = [[], [], []]
        for r in rows:
            i = 0 if r[0] <= cuts[0] else (1 if r[0] <= cuts[1] else 2)
            chunks[i].append(r[4])
        os.makedirs(f"{d}/in")
        for i, ch in enumerate(chunks):
            if not ch:
                # a degenerate cut (<= 3 distinct arrival seconds) leaves a
                # chunk empty; writing it would emit one empty line the
                # strict parser dies on under ANSI mode (code-review r12)
                continue
            p = f"{d}/in/nycTaxiRides_{i}.gz"
            with gzip.open(p, "wt") as fh:
                fh.write("\n".join(ch) + "\n")
            t = 1_700_000_000 + i * 60  # mtime-ordered => arrival-ordered
            os.utime(p, (t, t))
        _TAXI_JOB[key] = (d, len(rows))
    d, n = _TAXI_JOB[key]
    # previous reps' sink/checkpoint dirs are dead weight once their query
    # stopped — drop them so a long bench process doesn't grow disk
    for stale in os.listdir(d):
        if stale.startswith("run_"):
            shutil.rmtree(os.path.join(d, stale), ignore_errors=True)
    run_dir = tempfile.mkdtemp(dir=d, prefix="run_")
    out, _ = run_job(
        spark, f"{d}/in", f"{run_dir}/out", f"{run_dir}/ckpt",
        flush_after_ms=2_000, expect_rows=n,
    )
    return out.select(
        "driverId",
        "rideId_lo",
        "rideId_hi",
        "taxiId_lo",
        "taxiId_hi",
        "endTime_lo",
        "endTime_hi",
        F.col("arrival_ms").cast("long").alias("arrival_ms"),
    )


def _kanon_audit_sql() -> str:
    rel = _golden.fads_generalize_events_oracle()
    return f"""
WITH rel AS ({rel})
SELECT user_id_lo, user_id_hi, value_lo, value_hi, ts_millis_lo, ts_millis_hi,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(DISTINCT event_id) AS BIGINT) AS n_pids,
       count(DISTINCT event_id) < 10 AS violates_k
FROM rel
GROUP BY user_id_lo, user_id_hi, value_lo, value_hi, ts_millis_lo, ts_millis_hi
"""


@query("kanon_audit_events", oracle=_kanon_audit_sql)
def kanon_audit_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Independent k-anonymity audit of the flagship's published table
    (pyfads.primitives.kanon_audit): per generalized box, row count,
    distinct-PID count, and a violates-k verdict — the check a privacy
    team runs over the RELEASED data, composed directly on the
    fads_generalize_events output and oracled against the same golden."""
    from pyfads.primitives import kanon_audit

    released = QUERIES["fads_generalize_events"](spark, sf_dir)
    return kanon_audit(
        released, ["user_id", "value", "ts_millis"], "event_id", k=10
    )


def _ldiv_audit_sql() -> str:
    rel = _golden.fads_generalize_events_oracle()
    return f"""
WITH rel AS ({rel})
SELECT user_id_lo, user_id_hi, value_lo, value_hi, ts_millis_lo, ts_millis_hi,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(DISTINCT event_type) AS BIGINT) AS n_sensitive,
       count(DISTINCT event_type) < 2 AS violates_l
FROM rel
GROUP BY user_id_lo, user_id_hi, value_lo, value_hi, ts_millis_lo, ts_millis_hi
"""


@query("ldiv_audit_events", oracle=_ldiv_audit_sql)
def ldiv_audit_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit of the flagship release
    (pyfads.primitives.ldiversity_audit): per generalized box, the
    distinct count of the SENSITIVE attribute (event_type) and a
    violates-l verdict — k-anonymity alone cannot catch the homogeneity
    attack (k people, one disease); this is the companion check.  The
    reference has no sensitive-attribute machinery, so violations here
    are an expected FINDING about plain FADS, not a bug: the audit is
    the operator."""
    from pyfads.primitives import ldiversity_audit

    released = QUERIES["fads_generalize_events"](spark, sf_dir)
    return ldiversity_audit(
        released, ["user_id", "value", "ts_millis"], "event_type", l=2
    )


def _tclose_audit_sql() -> str:
    rel = _golden.fads_generalize_events_oracle()
    return f"""
WITH rel AS ({rel}),
nt AS (SELECT CAST(count(*) AS BIGINT) AS N FROM rel),
gdist AS (SELECT event_type, CAST(count(*) AS BIGINT) AS Nv FROM rel GROUP BY event_type),
bn AS (
  SELECT user_id_lo, user_id_hi, value_lo, value_hi, ts_millis_lo, ts_millis_hi,
         CAST(count(*) AS BIGINT) AS n_rows
  FROM rel GROUP BY 1, 2, 3, 4, 5, 6
),
bv AS (
  SELECT user_id_lo, user_id_hi, value_lo, value_hi, ts_millis_lo, ts_millis_hi,
         event_type, CAST(count(*) AS BIGINT) AS cv
  FROM rel GROUP BY 1, 2, 3, 4, 5, 6, 7
),
grid AS (
  SELECT bn.*, g.event_type, g.Nv, COALESCE(bv.cv, 0) AS cv, nt.N
  FROM bn CROSS JOIN gdist g CROSS JOIN nt
  LEFT JOIN bv USING (user_id_lo, user_id_hi, value_lo, value_hi,
                      ts_millis_lo, ts_millis_hi, event_type)
)
SELECT user_id_lo, user_id_hi, value_lo, value_hi, ts_millis_lo, ts_millis_hi,
       first(n_rows) AS n_rows,
       CAST(sum(abs(cv * N - Nv * n_rows)) AS BIGINT) AS tv_scaled,
       8 * CAST(sum(abs(cv * N - Nv * n_rows)) AS BIGINT)
           > 2 * 3 * first(n_rows) * first(N) AS violates_t
FROM grid GROUP BY 1, 2, 3, 4, 5, 6
"""


@query("tclose_audit_events", oracle=_tclose_audit_sql)
def tclose_audit_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit of the flagship release
    (pyfads.primitives.tcloseness_audit, t = 3/8): per generalized box,
    the integer-scaled total-variation distance between the box's
    event_type distribution and the table's — the skew-attack check the
    k/l audits cannot see.  Completes the privacy-audit trio; boxes past
    the threshold are findings to triage, not necessarily bugs (plain
    FADS optimizes info-loss, not distribution closeness)."""
    from pyfads.primitives import tcloseness_audit

    released = QUERIES["fads_generalize_events"](spark, sf_dir)
    return tcloseness_audit(
        released, ["user_id", "value", "ts_millis"], "event_type", t_num=3, t_den=8
    )


def _register_primitives() -> None:
    from pyfads import primitives_queries  # noqa: F401  (registers on import)


def _register_llm_ops() -> None:
    from pyfads import llm_queries  # noqa: F401


def _register_windows() -> None:
    from pyfads import windows  # noqa: F401


def _register_analytics() -> None:
    from pyfads import analytics_queries  # noqa: F401


def _register_tpch() -> None:
    from pyfads import tpch_queries  # noqa: F401


def _register_packing() -> None:
    from pyfads import packing_queries  # noqa: F401


def _register_curation() -> None:
    from pyfads import curation_queries  # noqa: F401


for _reg in (
    _register_primitives,
    _register_llm_ops,
    _register_windows,
    _register_analytics,
    _register_tpch,
    _register_packing,
    _register_curation,
):
    try:
        _reg()
    except ModuleNotFoundError:
        # module not built yet — registry stays partial during bring-up
        pass
    except ImportError as _exc:  # pragma: no cover - defensive
        # a bare `except ImportError` here once swallowed a CIRCULAR import
        # (helper imported from a mid-initialization module) and silently
        # dropped the final registration of an otherwise-loaded module.
        # Registration bugs must be loud.
        import sys as _sys

        print(f"[pyfads] query registration {_reg.__name__} failed: {_exc}", file=_sys.stderr)
        raise


# --------------------------------------------------------------------------
# Driver-window rotation.  The round driver's correctness gate compares the
# FIRST ~50 registered entries against their DuckDB oracles; entries past
# that window only get the (identical) local mirror in
# tests/test_queries_vs_duckdb.py.  To give every entry a hard driver-green
# row across rounds, the registry is re-ordered here — and the order is
# COMPUTED, not hand-maintained (the r5 verdict's ask): the three flagship
# stateful-FADS entries stay pinned at the head (continuously verified),
# then every entry sorted by the round of its most recent driver-green
# CORRECTNESS_r*.json row, oldest/never first, registration order as the
# tie-break.  Entries that have never had a driver row therefore always
# lead the window, and long-green entries rotate to the back on their own.
# If no CORRECTNESS files are present (fresh checkout), registration order
# is kept unchanged.
# --------------------------------------------------------------------------
_PINNED_FIRST: tuple[str, ...] = (
    "fads_generalize_events",
    "fads_partitioned_events",
    "fads_hotkey_events",
)


def _latest_green_rounds() -> dict[str, int]:
    """name -> newest round with a driver-green row (rows+schema match,
    hash not False, no error).  Empty dict when no CORRECTNESS files."""
    import glob
    import json
    import os
    import re

    roots = {os.path.dirname(os.path.dirname(os.path.abspath(__file__))), os.getcwd()}
    latest: dict[str, int] = {}
    for root in roots:
        for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
            m = re.search(r"_r(\d+)\.json$", path)
            if not m:
                continue
            rnd = int(m.group(1))
            try:
                with open(path) as fh:
                    rows = json.load(fh)
            except (OSError, ValueError):
                continue
            if not isinstance(rows, dict):
                continue
            for name, row in rows.items():
                if not isinstance(row, dict):
                    continue
                green = (
                    row.get("rows_match")
                    and row.get("schema_match", True)
                    and row.get("hash_match") is not False
                    and not row.get("err")
                )
                if green:
                    latest[name] = max(latest.get(name, -1), rnd)
    return latest


def _rotate_registry() -> None:
    latest = _latest_green_rounds()
    if not latest:
        return
    reg_index = {n: i for i, n in enumerate(QUERIES)}
    pinned = [n for n in _PINNED_FIRST if n in QUERIES]
    rest = sorted(
        (n for n in QUERIES if n not in set(pinned)),
        key=lambda n: (latest.get(n, -1), reg_index[n]),
    )
    reordered = {n: QUERIES[n] for n in (*pinned, *rest)}
    QUERIES.clear()
    QUERIES.update(reordered)


_rotate_registry()
