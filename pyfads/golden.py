"""Golden / literal-constant DuckDB oracles for the queries whose semantics
are not directly ANSI-SQL-expressible (VERDICT r3 item 1):

- ``fads_generalize_events`` / ``fads_partitioned_events`` — the sequential
  FADS release loop (reference Generalizer.java:98-189).  The expected
  output is generated at oracle-build time by the *independent* pure-Python
  oracle (:mod:`pyfads.oracle` — list-based, no shared code with the
  production numpy state machine, hypothesis-fuzzed against it) and written
  as a golden parquet; the SQL joins it back to the ``events`` view for the
  passthrough columns.  FADS interval bounds are exact copies of input
  values (min/max/snapshots — no arithmetic rounding), so the hash
  comparison is bit-exact by construction.
- ``ann_lsh_topk`` — the random hyperplanes are deterministic
  (seeded ``np.random.default_rng``), so they are embedded as SQL literals
  and DuckDB *independently* recomputes the sign-bit bucketing, the
  (table, bucket) candidate equi-join, and the exact-cosine re-rank.
- ``ann_ivf_topk`` — the k-means codebook is deterministic given
  (data, seed); the oracle trains it at build time with the same
  :func:`pyfads.similarity._kmeans_spherical` over the same deterministic
  md5-ordered sample, embeds the centroids as literals, and DuckDB
  independently recomputes cell assignment (raw-dot argmax — ordering is
  scale-invariant, so skipping the unit-normalization is exact), the cell
  equi-join, and the exact-cosine re-rank.

Data-dependent builders read parquet from ``$SPARK_GRAFT_ORACLE_SF_DIR``
(default ``/root/testdata/sf0.01`` — the scale the round driver compares
at; tests point it at their own fixture dir in conftest.py).  Everything
here is build-time-only driver tooling — nothing on the 100 TB query path.
"""

from __future__ import annotations

import functools
import hashlib
import os

import numpy as np

from pyfads.config import FADSConfig
from pyfads.similarity import SEM_MAX_CELL

# the scale-out FADS entries' config (batch, hot-key and streamed forms),
# shared with their golden so both sides run the same parameters
FADS_PARTITIONED_CFG = FADSConfig(k=5, buffer_rows=15)

GOLDEN_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".golden_cache")


def oracle_sf_dir() -> str:
    """The sf dir the DuckDB oracle views point at (driver: sf0.01)."""
    return os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")


def _table_path(sf_dir: str, table: str) -> str:
    """DuckDB-readable path for ``{sf_dir}/{table}.parquet``: the fixture
    tables are single files, but Spark-written fixtures (scripts/make_sf1.py)
    are DIRECTORIES of part files — DuckDB needs an explicit glob for
    those (found by the r6 sf1 sweep: ann_pca_lsh_topk's codebook read
    failed on /tmp/sf1)."""
    p = f"{sf_dir}/{table}.parquet"
    return f"{p}/*.parquet" if os.path.isdir(p) else p


def _lit(x: float) -> str:
    """Shortest-round-trip double literal (DuckDB parses correctly rounded)."""
    return repr(float(x))


def _vec_lit(v) -> str:
    return "[" + ", ".join(_lit(x) for x in v) + "]"


# --------------------------------------------------------------------------
# FADS golden tables
# --------------------------------------------------------------------------


def _events_rows(sf_dir: str):
    """(event_id, (user_id, value, ts_millis), arrival, event_type) rows,
    ts→millis exactly like pyfads.io.events_with_arrival / DuckDB epoch_ms."""
    import duckdb

    con = duckdb.connect()
    rows = con.sql(
        "SELECT event_id, CAST(user_id AS DOUBLE), value, epoch_ms(ts), event_type "
        f"FROM '{_table_path(sf_dir, 'events')}'"
    ).fetchall()
    con.close()
    return rows


def _run_golden(rows, cfg):
    """Arrival-sort like run_fads_pandas, run the pure-Python oracle."""
    from pyfads.oracle import fads_oracle

    ordered = sorted(rows, key=lambda r: (r[3], r[0]))
    return fads_oracle(
        [(eid, (u, v, float(ms)), ms) for eid, u, v, ms, _et in ordered], cfg
    )


def _write_golden(path: str, released: dict) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    eids = sorted(released)
    cols = {
        "event_id": pa.array(eids, type=pa.int64()),
        "user_id_lo": pa.array([released[e][0][0] for e in eids], type=pa.float64()),
        "user_id_hi": pa.array([released[e][1][0] for e in eids], type=pa.float64()),
        "value_lo": pa.array([released[e][0][1] for e in eids], type=pa.float64()),
        "value_hi": pa.array([released[e][1][1] for e in eids], type=pa.float64()),
        "ts_millis_lo": pa.array([released[e][0][2] for e in eids], type=pa.float64()),
        "ts_millis_hi": pa.array([released[e][1][2] for e in eids], type=pa.float64()),
    }
    os.makedirs(GOLDEN_DIR, exist_ok=True)
    pq.write_table(pa.table(cols), path)


def _fads_golden_sql(name: str, partitioned: bool, max_group_rows: int | None = None) -> str:
    sf_dir = oracle_sf_dir()
    tag = os.path.basename(sf_dir.rstrip("/"))
    if max_group_rows is not None:
        tag = f"{tag}.mgr{max_group_rows}"
    path = os.path.join(GOLDEN_DIR, f"{name}.{tag}.parquet")
    rows = _events_rows(sf_dir)
    if partitioned:
        cfg = FADS_PARTITIONED_CFG
        released: dict = {}
        groups = sorted({r[4] for r in rows})
        for g in groups:
            grows = sorted((r for r in rows if r[4] == g), key=lambda r: (r[3], r[0]))
            if max_group_rows is None:
                released.update(_run_golden(grows, cfg))
            else:
                # hot-key guard semantics (fads_batch.fads_generalize_partitioned):
                # arrival-contiguous runs of at most max_group_rows rows, an
                # independent FADS instance per run
                for i in range(0, len(grows), max_group_rows):
                    released.update(_run_golden(grows[i : i + max_group_rows], cfg))
    else:
        released = _run_golden(rows, FADSConfig())
    _write_golden(path, released)
    return f"""
SELECT g.event_id, g.user_id_lo, g.user_id_hi, g.value_lo, g.value_hi,
       g.ts_millis_lo, g.ts_millis_hi,
       e.event_type, epoch_ms(e.ts) AS arrival_ms
FROM read_parquet('{path}') g JOIN events e USING (event_id)
"""


@functools.lru_cache(maxsize=None)
def _fads_golden_cached(name: str, partitioned: bool, sf_dir: str, max_group_rows: int | None = None) -> str:
    return _fads_golden_sql(name, partitioned, max_group_rows)


def fads_generalize_events_oracle() -> str:
    return _fads_golden_cached("fads_generalize_events", False, oracle_sf_dir())


def fads_partitioned_events_oracle() -> str:
    return _fads_golden_cached("fads_partitioned_events", True, oracle_sf_dir())


def fads_hotkey_events_oracle(max_group_rows: int = 120) -> str:
    return _fads_golden_cached("fads_hotkey_events", True, oracle_sf_dir(), max_group_rows)


@functools.lru_cache(maxsize=None)
def _fads_mode_golden_cached(name: str, sf_dir: str, legacy: bool, distinct: bool) -> str:
    """Golden builder for the opt-in reference-parity modes (r10 verdict
    item 3): ``legacy_distance`` replays the reference's SHIPPED
    (abs/hi)-lo distance precedence bug (Generalizer.java:356) and
    ``distinct_pids`` its intended pairwise-distinct-PID neighbour rule
    (Generalizer.java:205-216).  Same flagship config otherwise; the
    expected table comes from the independent pure-Python oracle run in
    the matching mode."""
    tag = os.path.basename(sf_dir.rstrip("/"))
    path = os.path.join(GOLDEN_DIR, f"{name}.{tag}.parquet")
    cfg = FADSConfig(
        pid_col="user_id" if distinct else "event_id",
        legacy_distance=legacy,
        distinct_pids=distinct,
    )
    from pyfads.oracle import fads_oracle

    rows = _events_rows(sf_dir)
    if distinct:
        # pid = user_id (repeats, so the distinct-PID rule actually
        # engages); the batch engine's stable (arrival, pid) mergesort is
        # replayed by python's stable sort over parquet-order rows
        ordered = sorted(rows, key=lambda r: (r[3], r[1]))
        orows = [(eid, (u, v, float(ms)), ms, u) for eid, u, v, ms, _et in ordered]
    else:
        ordered = sorted(rows, key=lambda r: (r[3], r[0]))
        orows = [(eid, (u, v, float(ms)), ms) for eid, u, v, ms, _et in ordered]
    released = fads_oracle(orows, cfg)
    _write_golden(path, released)
    return f"""
SELECT g.event_id, g.user_id_lo, g.user_id_hi, g.value_lo, g.value_hi,
       g.ts_millis_lo, g.ts_millis_hi,
       e.event_type, epoch_ms(e.ts) AS arrival_ms
FROM read_parquet('{path}') g JOIN events e USING (event_id)
"""


def fads_legacy_events_oracle() -> str:
    return _fads_mode_golden_cached("fads_legacy_events", oracle_sf_dir(), True, False)


def fads_distinct_pids_events_oracle() -> str:
    return _fads_mode_golden_cached(
        "fads_distinct_pids_events", oracle_sf_dir(), False, True
    )


# --------------------------------------------------------------------------
# Composed taxi job (r11 verdict item 3): the full reference pipeline —
# gz nycTaxiRides CSV -> parse -> arrival enrich -> listener -> FADS ->
# parquet sink (TransactionGeneralizationJob.java:36-79) — as ONE gate
# entry.  The CSV fixture is synthesized deterministically from the events
# view, so the Spark entry and this golden derive from the same rows.
# --------------------------------------------------------------------------


def taxi_fixture_lines(sf_dir: str) -> list[tuple]:
    """Deterministic NYCTaxiRideSource-format CSV lines derived from the
    events table — token order rideId,START|END,time,time,lon,lat,lon,lat,
    passengerCnt,taxiId,driverId (NYCTaxiRideSource.java:204-244).  One
    line per event: rideId = driverId = event_id (a unique pid AND a
    unique passthrough join key), taxiId = user_id, the ride clock is the
    event's arrival second (so parse_taxi_lines, which parses UTC,
    recovers startTime = sec*1000 exactly — the replayable arrival
    clock), endTime = start + a content-derived duration.  A slice of
    lines are END events (parse swaps the time pair back) and a slice
    carry empty lon/lat (reference maps them to 0.0) so the entry
    exercises the full P2 dispatch.  Returns ``(arrival_sec, rideId,
    taxiId, duration_s, line)`` sorted by (arrival_sec, rideId)."""
    from datetime import datetime, timezone

    fmt = lambda s: datetime.fromtimestamp(s, tz=timezone.utc).strftime(  # noqa: E731
        "%Y-%m-%d %H:%M:%S"
    )
    out = []
    for eid, u, _v, ms, _et in _events_rows(sf_dir):
        eid, taxi, sec = int(eid), int(u), int(ms) // 1000
        dur = 300 + eid % 997
        t1, t2 = fmt(sec), fmt(sec + dur)
        if eid % 10 == 3:  # END line: parse swaps (time1, time2) back
            kind, ta, tb = "END", t2, t1
        else:
            kind, ta, tb = "START", t1, t2
        lon = "" if eid % 17 == 5 else f"-73.9{eid % 100:02d}"
        lat = "" if eid % 17 == 5 else f"40.7{eid % 100:02d}"
        line = ",".join(
            [
                str(eid), kind, ta, tb, lon, lat, lon, lat,
                str(1 + eid % 4), str(taxi), str(eid),
            ]
        )
        out.append((sec, eid, taxi, dur, line))
    out.sort(key=lambda r: (r[0], r[1]))
    return out


@functools.lru_cache(maxsize=None)
def _taxi_job_golden_cached(sf_dir: str, fingerprint: tuple = ()) -> str:
    """Golden for the composed job: the independent pure-Python FADS
    oracle over the same (rideId, taxiId, endTime) derivation the CSV
    fixture encodes — QIDs and config exactly the reference job's
    (Generalizer(10, 30, 60000), pid = rideId which is itself a QID).

    ``fingerprint`` is the events fixture's (mtime_ns, size) — the same
    device as the query side's _chunk_key — so a regenerated fixture
    rebuilds the golden instead of serving stale rows while the CSV
    chunks rebuild (code-review r12)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyfads.oracle import fads_oracle

    tag = os.path.basename(sf_dir.rstrip("/"))
    path = os.path.join(GOLDEN_DIR, f"taxi_job_composed.{tag}.parquet")
    cfg = FADSConfig()
    rows = taxi_fixture_lines(sf_dir)
    orows = [
        (rid, (float(rid), float(taxi), float((sec + dur) * 1000)), sec * 1000)
        for sec, rid, taxi, dur, _line in rows
    ]
    released = fads_oracle(orows, cfg)
    arr = {rid: sec * 1000 for sec, rid, _t, _d, _l in rows}
    rids = sorted(released)
    cols = {
        "driverId": pa.array(rids, type=pa.int64()),
        "rideId_lo": pa.array([released[r][0][0] for r in rids], type=pa.float64()),
        "rideId_hi": pa.array([released[r][1][0] for r in rids], type=pa.float64()),
        "taxiId_lo": pa.array([released[r][0][1] for r in rids], type=pa.float64()),
        "taxiId_hi": pa.array([released[r][1][1] for r in rids], type=pa.float64()),
        "endTime_lo": pa.array([released[r][0][2] for r in rids], type=pa.float64()),
        "endTime_hi": pa.array([released[r][1][2] for r in rids], type=pa.float64()),
        "arrival_ms": pa.array([arr[r] for r in rids], type=pa.int64()),
    }
    os.makedirs(GOLDEN_DIR, exist_ok=True)
    pq.write_table(pa.table(cols), path)
    return (
        "SELECT driverId, rideId_lo, rideId_hi, taxiId_lo, taxiId_hi, "
        "endTime_lo, endTime_hi, arrival_ms "
        f"FROM read_parquet('{path}')"
    )


def taxi_job_composed_oracle() -> str:
    sf = oracle_sf_dir()
    try:
        st = os.stat(os.path.join(sf, "events.parquet"))
        fp = (int(st.st_mtime_ns), st.st_size)
    except OSError:
        fp = ()
    return _taxi_job_golden_cached(sf, fp)


# --------------------------------------------------------------------------
# ANN LSH: hyperplane literals, sign-bit bucketing recomputed in SQL
# --------------------------------------------------------------------------


def _fold_sql(terms: str) -> str:
    """DuckDB left fold ``0.0 + t1 + t2 + ...`` over the list expression
    ``terms``.  list_prepend(0.0) seeds it like Spark's
    ``aggregate(..., 0.0D, +)`` and list_reduce adds in list order, so the
    sum is bit-identical to the Spark fold (proven by ann_cosine_dim1024)
    and to numpy's similarity.fold_dots replay; unlike a ``+`` chain it
    stays under DuckDB's max_expression_depth at any length."""
    return f"list_reduce(list_prepend(0.0::DOUBLE, {terms}), (acc, x) -> acc + x)"


# Spark's dot_expr/norm_expr write the explicit chain up to this dimension
# (the codegen cliff) and fold above it.
_CHAIN_MAX_DIM = 128


def _dot_sql(a: str, b: str, dim: int, fold: bool = False) -> str:
    """Left-associated dot of the list expressions ``a`` and ``b`` over
    elements 1..dim, each widened to DOUBLE before the multiply — the twin
    of similarity.dot_expr (chain up to _CHAIN_MAX_DIM, fold above), or
    with ``fold=True`` of similarity._dot_fold, which folds at every dim."""
    if fold or dim > _CHAIN_MAX_DIM:
        return _fold_sql(
            f"list_transform(range(1, {dim + 1}), i -> {a}[i]::DOUBLE * {b}[i]::DOUBLE)"
        )
    return " + ".join(f"{a}[{i}]::DOUBLE * {b}[{i}]::DOUBLE" for i in range(1, dim + 1))


def _norm_sql(a: str, dim: int, fold: bool = False) -> str:
    """L2 norm of the list expression ``a``, in :func:`_dot_sql`'s form."""
    return f"sqrt({_dot_sql(a, a, dim, fold)})"


def _embeddings_cte(tile: int) -> str:
    """The `e0` source: the raw embeddings view, optionally widened by
    deterministic tiling (mirrors flatten(array_repeat(...)) Spark-side)."""
    if tile <= 1:
        return "embeddings"
    cat = " || ".join(["embedding"] * tile)
    return f"(SELECT vec_id, {cat} AS embedding FROM embeddings)"


def _cosine_rerank_sql(dim: int, k: int) -> str:
    """Shared tail: candidate (q_id, neighbor_id) pairs -> exact cosine ->
    per-query row_number top-k.  Expects CTEs `e` (zero-norm-filtered
    embeddings) and `cand`."""
    dot = _dot_sql("a.embedding", "b.embedding", dim)
    na = _norm_sql("a.embedding", dim)
    nb = _norm_sql("b.embedding", dim)
    return f"""
pairs AS (
  SELECT cand.q_id, cand.neighbor_id,
         ({dot}) / ({na} * {nb}) AS cosine
  FROM cand
  JOIN e a ON a.vec_id = cand.q_id
  JOIN e b ON b.vec_id = cand.neighbor_id
)
SELECT q_id, neighbor_id, cosine, rank
FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY q_id
                                    ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
  FROM pairs
)
WHERE rank <= {k}
"""


def ann_lsh_topk_oracle(
    dim: int = 64,
    k: int = 10,
    n_planes: int = 4,
    n_tables: int = 8,
    seed: int = 42,
    n_queries: int = 8,
    tile: int = 1,
) -> str:
    """Fully independent DuckDB twin of similarity.ann_lsh_topk: the seeded
    hyperplanes (similarity._hyperplanes) are data-independent constants, so
    DuckDB recomputes sign-bit buckets, the (table, bucket) equi-join, and
    the exact-cosine top-k from scratch.  ``tile`` > 1 widens the fixture
    vectors by concatenation (the wide-dim variants)."""
    from pyfads.similarity import _hyperplanes

    planes = _hyperplanes(dim, n_planes, n_tables, seed)
    vals = ",\n  ".join(
        f"({t}, {j}, {_vec_lit(planes[t, j])})"
        for t in range(n_tables)
        for j in range(n_planes)
    )
    norm = _norm_sql("e0.embedding", dim)
    dot = _dot_sql("e.embedding", "p.pvec", dim, fold=True)
    return f"""
WITH planes(table_idx, plane_idx, pvec) AS (VALUES
  {vals}
),
e AS (SELECT vec_id, embedding FROM {_embeddings_cte(tile)} e0 WHERE {norm} > 0),
sgn AS (
  SELECT e.vec_id, p.table_idx, p.plane_idx, ({dot}) > 0 AS pos
  FROM e CROSS JOIN planes p
),
codes AS (
  SELECT vec_id, table_idx,
         CAST(sum(CASE WHEN pos THEN 1 << plane_idx ELSE 0 END) AS BIGINT) AS bucket
  FROM sgn GROUP BY vec_id, table_idx
),
cand AS (
  SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS neighbor_id
  FROM codes q JOIN codes c USING (table_idx, bucket)
  WHERE q.vec_id < {n_queries} AND q.vec_id <> c.vec_id
),
{_cosine_rerank_sql(dim, k)}
"""


# --------------------------------------------------------------------------
# ANN IVF: codebook trained at build time, centroid literals, cell
# assignment recomputed in SQL
# --------------------------------------------------------------------------



def _embeddings_count(sf_dir: str) -> int:
    import duckdb

    con = duckdb.connect()
    n = con.sql(f"SELECT count(*) FROM '{_table_path(sf_dir, 'embeddings')}'").fetchone()[0]
    con.close()
    return int(n)


def _ivf_centroids(sf_dir: str, n_centroids: int, seed: int, tile: int = 1, sample_rows: "int | None" = None):
    """Replicates similarity.train_ivf_centroids outside Spark: same
    md5-ordered bounded sample (same default_codebook_sample sizing), same
    spherical k-means — bitwise-identical codebook (same numpy, same
    machine).  ``tile`` widens the sample the same way the Spark query
    tiles its input."""
    import duckdb

    from pyfads.similarity import _kmeans_spherical, default_codebook_sample

    if sample_rows is None:
        sample_rows = default_codebook_sample(n_centroids)

    con = duckdb.connect()
    rows = con.sql(f"SELECT vec_id, embedding FROM '{_table_path(sf_dir, 'embeddings')}'").fetchall()
    con.close()
    # mirror the Spark path exactly: ann_ivf_topk drop_zero_norm-filters the
    # corpus BEFORE train_ivf_centroids samples it (tiling preserves
    # zero-norm-ness, so filtering the base vectors is equivalent)
    rows = [r for r in rows if (np.asarray(r[1], dtype=np.float64) ** 2).sum() > 0]
    rows.sort(key=lambda r: hashlib.md5(str(r[0]).encode()).hexdigest())
    m = np.asarray([r[1] for r in rows[:sample_rows]], dtype=np.float64)
    if tile > 1:
        m = np.tile(m, (1, tile))
    return _kmeans_spherical(m, n_centroids, seed)


@functools.lru_cache(maxsize=None)
def _ann_ivf_cached(sf_dir: str, dim: int, k: int, n_centroids: int, n_probe: int, seed: int, n_queries: int, tile: int) -> str:
    cents = _ivf_centroids(sf_dir, n_centroids, seed, tile)
    vals = ",\n  ".join(f"({j}, {_vec_lit(cents[j])})" for j in range(len(cents)))
    norm = _norm_sql("e0.embedding", dim)
    dot = _dot_sql("e.embedding", "c.cvec", dim, fold=True)
    return f"""
WITH cents(cell, cvec) AS (VALUES
  {vals}
),
e AS (SELECT vec_id, embedding FROM {_embeddings_cte(tile)} e0 WHERE {norm} > 0),
celldot AS (
  SELECT e.vec_id, c.cell, ({dot}) AS dp
  FROM e CROSS JOIN cents c
),
ranked AS (
  SELECT vec_id, cell,
         row_number() OVER (PARTITION BY vec_id ORDER BY dp DESC, cell) AS rn
  FROM celldot
),
ccells AS (SELECT vec_id AS c_id, cell FROM ranked WHERE rn <= 1),
qcells AS (SELECT vec_id AS q_id, cell FROM ranked WHERE rn <= {n_probe} AND vec_id < {n_queries}),
cand AS (
  SELECT DISTINCT q_id, c_id AS neighbor_id
  FROM qcells JOIN ccells USING (cell)
  WHERE q_id <> c_id
),
{_cosine_rerank_sql(dim, k)}
"""


def ann_ivf_topk_oracle(
    dim: int = 64,
    k: int = 10,
    n_centroids: int = 32,
    n_probe: int = 4,
    seed: int = 7,
    n_queries: int = 8,
    tile: int = 1,
) -> str:
    return _ann_ivf_cached(oracle_sf_dir(), dim, k, n_centroids, n_probe, seed, n_queries, tile)


@functools.lru_cache(maxsize=None)
def _ann_ivf_filtered_cached(
    sf_dir: str, dim: int, k: int, n_centroids: int, n_probe: int, seed: int,
    n_queries: int, filter_col: str,
) -> str:
    """DuckDB twin of similarity.ann_ivf_filtered_topk: the IVF twin with
    the metadata predicate replayed as the same composite (cell,
    filter_col) candidate join — same codebook literals, same chain
    arithmetic, same rerank tail."""
    cents = _ivf_centroids(sf_dir, n_centroids, seed, 1)
    vals = ",\n  ".join(f"({j}, {_vec_lit(cents[j])})" for j in range(len(cents)))
    norm = _norm_sql("e0.embedding", dim)
    dot = _dot_sql("e.embedding", "c.cvec", dim, fold=True)
    return f"""
WITH cents(cell, cvec) AS (VALUES
  {vals}
),
e AS (SELECT vec_id, {filter_col}, embedding FROM embeddings e0 WHERE {norm} > 0),
celldot AS (
  SELECT e.vec_id, c.cell, ({dot}) AS dp
  FROM e CROSS JOIN cents c
),
ranked AS (
  SELECT vec_id, cell,
         row_number() OVER (PARTITION BY vec_id ORDER BY dp DESC, cell) AS rn
  FROM celldot
),
ccells AS (
  SELECT r.vec_id AS c_id, e.{filter_col} AS f, r.cell
  FROM ranked r JOIN e ON e.vec_id = r.vec_id WHERE r.rn <= 1
),
qcells AS (
  SELECT r.vec_id AS q_id, e.{filter_col} AS f, r.cell
  FROM ranked r JOIN e ON e.vec_id = r.vec_id
  WHERE r.rn <= {n_probe} AND r.vec_id < {n_queries}
),
cand AS (
  SELECT DISTINCT q_id, c_id AS neighbor_id
  FROM qcells JOIN ccells USING (cell, f)
  WHERE q_id <> c_id
),
{_cosine_rerank_sql(dim, k)}
"""


def ann_ivf_filtered_oracle(
    dim: int = 64,
    k: int = 10,
    n_centroids: int = 32,
    n_probe: int = 4,
    seed: int = 7,
    n_queries: int = 8,
    filter_col: str = "label",
) -> str:
    return _ann_ivf_filtered_cached(
        oracle_sf_dir(), dim, k, n_centroids, n_probe, seed, n_queries, filter_col
    )


@functools.lru_cache(maxsize=None)
def _mmr_rerank_cached(
    sf_dir: str, dim: int, k: int, pool: int, lam: float, n_queries: int
) -> str:
    """Golden literal table for similarity.mmr_rerank: the shortlist is
    recomputed with the CHAIN arithmetic (left-associated python float64 —
    bit-identical to the JVM chain cosine_topk feeds the UDF), then the
    greedy selection runs through the SAME pyfads.similarity.mmr_select
    the Spark worker calls — selection, ranks, and micros agree by shared
    code, not reimplementation.  All-integer output, so the literal table
    carries no float-parity risk at all."""
    import duckdb

    from pyfads.similarity import mmr_select

    con = duckdb.connect()
    rows = con.sql(
        f"SELECT vec_id, embedding FROM '{_table_path(sf_dir, 'embeddings')}'"
    ).fetchall()
    con.close()

    def chain_dot(a, b):
        acc = a[0] * b[0]
        for i in range(1, len(a)):
            acc = acc + a[i] * b[i]
        return acc

    import math

    vecs, norms = {}, {}
    for vid, emb in rows:
        e = [float(x) for x in emb]
        sq = chain_dot(e, e)
        if sq > 0:
            vecs[vid] = e
            norms[vid] = math.sqrt(sq)
    out_rows = []
    for q in sorted(v for v in vecs if v < n_queries):
        cands = []
        for c in vecs:
            if c == q:
                continue
            cos = chain_dot(vecs[q], vecs[c]) / (norms[q] * norms[c])
            cands.append((c, cos))
        cands.sort(key=lambda t: (-t[1], t[0]))
        short = cands[:pool]
        ids = [c for c, _ in short]
        rel = np.array([cos for _, cos in short], dtype=np.float64)
        M = np.array([vecs[c] for c in ids], dtype=np.float64)
        for nid, r, s in mmr_select(ids, rel, M, k, float(lam)):
            out_rows.append((q, nid, r, s))
    if not out_rows:
        # no qualifying query (e.g. every vec_id < n_queries zero-norm):
        # an empty VALUES list is a DuckDB parse error — emit a typed
        # empty relation instead (code-review r12)
        return """
SELECT CAST(NULL AS BIGINT) AS q_id, CAST(NULL AS BIGINT) AS neighbor_id,
       CAST(NULL AS BIGINT) AS sel_rank, CAST(NULL AS BIGINT) AS mmr_micros
WHERE FALSE
"""
    vals = ",\n  ".join(f"({q}, {n}, {r}, {s})" for q, n, r, s in out_rows)
    return f"""
SELECT CAST(q_id AS BIGINT) AS q_id,
       CAST(neighbor_id AS BIGINT) AS neighbor_id,
       CAST(sel_rank AS BIGINT) AS sel_rank,
       CAST(mmr_micros AS BIGINT) AS mmr_micros
FROM (VALUES
  {vals}
) AS t(q_id, neighbor_id, sel_rank, mmr_micros)
"""


def mmr_rerank_oracle(
    dim: int = 64, k: int = 10, pool: int = 20, lam: float = 0.7, n_queries: int = 8
) -> str:
    return _mmr_rerank_cached(oracle_sf_dir(), dim, k, pool, float(lam), n_queries)


def _salt_key_sql(max_cell: int) -> str:
    """The DuckDB replay of similarity._salt_cells' sub-cell key: the
    id-ordered row_number split is deterministic, so both engines derive
    the IDENTICAL string key (the minhash/image-neardup cap-replay
    precedent — an unsalted oracle would diverge the moment a cell
    exceeds the cap)."""
    return (
        "CAST(cell AS VARCHAR) || '#' ||\n"
        "         CAST((row_number() OVER (PARTITION BY cell ORDER BY vec_id)"
        f" - 1)\n              // {int(max_cell)} AS VARCHAR)"
    )


def _semantic_tail(
    dim: int,
    threshold: float,
    n_assign: int = 1,
    max_cell: "int | None" = SEM_MAX_CELL,
    probe_margin: "float | None" = None,
) -> str:
    """The keeper/verify tail shared by every semantic-dedup twin: expects
    CTEs ``e`` (vec_id, embedding) and ``withp`` (vec_id, cell,
    centroid_cos) — plus ``celldot`` when ``n_assign > 1`` — and emits the
    ``dropped`` CTE + final projection.  ``max_cell`` replays
    similarity._salt_cells' hot-cell cap on the pair join key;
    ``probe_margin`` replays the adaptive-probe boundary test
    (rank >= 2 probes kept only when dp1 - dp_r < margin * |v|)."""
    pair_dot = _dot_sql("ea.embedding", "eb.embedding", dim, fold=True)
    na, nb = (_norm_sql(f"{t}.embedding", dim, fold=True) for t in ("ea", "eb"))
    verify = (
        f"(pa.centroid_cos < pb.centroid_cos\n"
        f"        OR (pa.centroid_cos = pb.centroid_cos AND pa.vec_id < pb.vec_id))\n"
        f"  JOIN e ea ON ea.vec_id = pa.vec_id\n"
        f"  JOIN e eb ON eb.vec_id = pb.vec_id\n"
        f"  WHERE ({pair_dot}) / (({na}) * ({nb})) >= '{threshold!r}'::DOUBLE"
    )
    if n_assign <= 1:
        pair_src, pair_key, salt = "withp", "cell", ""
        if max_cell is not None:
            salt = f"""withs AS (
  SELECT vec_id, cell, centroid_cos,
         {_salt_key_sql(max_cell)} AS scell
  FROM withp
),
"""
            pair_src, pair_key = "withs", "scell"
        dropped_sql = f"""{salt}dropped AS (
  SELECT pb.vec_id AS b_id, count(*) AS n
  FROM {pair_src} pa
  JOIN {pair_src} pb ON pa.{pair_key} = pb.{pair_key}
   AND {verify}
  GROUP BY pb.vec_id
)"""
    else:
        # multi-probe: candidates come from SHARED probe cells (rn <=
        # n_assign), deduped to distinct pairs BEFORE the verify so a pair
        # sharing two probe cells counts once; priority stays the PRIMARY
        # cell's centroid_cos (withp).  The salt cap applies per probe
        # bucket, exactly as similarity.semantic_dedup salts its probe
        # frame; the adaptive margin replays the dp1 - dp_r < margin * |v|
        # boundary test before any rank >= 2 probe is emitted.
        if probe_margin is None:
            probe0_sql = f"""probe0 AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell,
           row_number() OVER (PARTITION BY vec_id ORDER BY dp DESC, cell) AS rn
    FROM celldot)
  WHERE rn <= {n_assign}
)"""
        else:
            probe0_sql = f"""ranked AS (
  SELECT vec_id, cell, dp,
         row_number() OVER (PARTITION BY vec_id ORDER BY dp DESC, cell) AS rn
  FROM celldot
),
probe0 AS (
  SELECT vec_id, cell FROM ranked WHERE rn = 1
  UNION ALL
  SELECT r.vec_id, r.cell
  FROM ranked r
  JOIN ranked r1 ON r1.vec_id = r.vec_id AND r1.rn = 1
  JOIN e ON e.vec_id = r.vec_id
  WHERE r.rn >= 2 AND r.rn <= {n_assign}
    AND (r1.dp - r.dp) < '{probe_margin!r}'::DOUBLE * ({_norm_sql("e.embedding", dim, fold=True)})
)"""
        if max_cell is not None:
            probe_sql = f"""{probe0_sql},
probe AS (
  SELECT vec_id,
         {_salt_key_sql(max_cell)} AS scell
  FROM probe0
),
cand AS (
  SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
  FROM probe a JOIN probe b USING (scell)
  WHERE a.vec_id <> b.vec_id
)"""
        else:
            probe_sql = f"""{probe0_sql},
cand AS (
  SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
  FROM probe0 a JOIN probe0 b USING (cell)
  WHERE a.vec_id <> b.vec_id
)"""
        dropped_sql = f"""{probe_sql},
dropped AS (
  SELECT c.b_id, count(*) AS n
  FROM cand c
  JOIN withp pa ON pa.vec_id = c.a_id
  JOIN withp pb ON pb.vec_id = c.b_id
   AND {verify}
  GROUP BY c.b_id
)"""
    return f"""{dropped_sql}
SELECT w.vec_id, CAST(w.cell AS INTEGER) AS cell, w.centroid_cos,
       CAST(COALESCE(d.n, 0) AS BIGINT) AS n_better_neighbors,
       COALESCE(d.n, 0) = 0 AS is_kept
FROM withp w LEFT JOIN dropped d ON w.vec_id = d.b_id
"""


def _dvec_lit(v) -> str:
    """A DOUBLE[] literal via the '<repr>'::DOUBLE strtod path — for
    centroid values that feed OUTPUT columns / priority comparisons, not
    just a rank."""
    return "[" + ", ".join(f"'{_lit(x)}'::DOUBLE" for x in v) + "]"


def _semantic_dedup_sql(
    cents, dim: int, threshold: float, src: str, n_assign: int = 1,
    max_cell: "int | None" = SEM_MAX_CELL,
    probe_margin: "float | None" = None,
) -> str:
    """Shared SQL body for the flat-codebook semantic-dedup twins:
    ``cents`` is the (n_centroids, dim) codebook embedded as
    '<repr>'::DOUBLE literals; ``src`` is the embedding source subquery
    (table or golden parquet) exposing (vec_id, embedding).  Assignment
    replays the fold-dot argmax; centroid_cos and the pair cosine replay
    Spark's fold expressions term for term (:func:`_semantic_tail`)."""
    vals = ",\n  ".join(f"({j}, {_dvec_lit(cents[j])})" for j in range(len(cents)))
    norm0 = _norm_sql("e0.embedding", dim)
    dot = _dot_sql("e.embedding", "c.cvec", dim, fold=True)
    ne = _norm_sql("e.embedding", dim, fold=True)
    return f"""
WITH cents(cell, cvec) AS (VALUES
  {vals}
),
e AS (SELECT vec_id, embedding FROM {src} e0 WHERE {norm0} > 0),
celldot AS (
  SELECT e.vec_id, c.cell, ({dot}) AS dp
  FROM e CROSS JOIN cents c
),
assigned AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell,
           row_number() OVER (PARTITION BY vec_id ORDER BY dp DESC, cell) AS rn
    FROM celldot)
  WHERE rn = 1
),
withp AS (
  SELECT a.vec_id, a.cell, ({dot}) / ({ne}) AS centroid_cos
  FROM assigned a JOIN e ON e.vec_id = a.vec_id JOIN cents c ON c.cell = a.cell
),
{_semantic_tail(dim, threshold, n_assign, max_cell, probe_margin)}"""


def _semantic_dedup_two_level_sql(
    coarse, fine, fine_coarse, dim: int, threshold: float, src: str
) -> str:
    """Two-level (coarse->fine) semantic-dedup twin: assignment is
    HIERARCHICAL — argmax over the coarse codebook, then argmax over the
    fine centroids OF that coarse cell only — exactly the two-stage
    fold-dot argmax similarity._two_level_assign_udf runs; the global cell
    id is the fine centroid's index and the keeper priority is the cosine
    to the FINE centroid.  The verify tail is the shared one."""
    cvals = ",\n  ".join(f"({j}, {_dvec_lit(coarse[j])})" for j in range(len(coarse)))
    fvals = ",\n  ".join(
        f"({j}, {int(fine_coarse[j])}, {_dvec_lit(fine[j])})" for j in range(len(fine))
    )
    norm0 = _norm_sql("e0.embedding", dim)
    cdot = _dot_sql("e.embedding", "c.cvec", dim, fold=True)
    fdot = _dot_sql("e.embedding", "f.fvec", dim, fold=True)
    ne = _norm_sql("e.embedding", dim, fold=True)
    return f"""
WITH ccents(ccell, cvec) AS (VALUES
  {cvals}
),
fcents(fid, ccell, fvec) AS (VALUES
  {fvals}
),
e AS (SELECT vec_id, embedding FROM {src} e0 WHERE {norm0} > 0),
coarsedot AS (
  SELECT e.vec_id, c.ccell, ({cdot}) AS dp
  FROM e CROSS JOIN ccents c
),
cassigned AS (
  SELECT vec_id, ccell FROM (
    SELECT vec_id, ccell,
           row_number() OVER (PARTITION BY vec_id ORDER BY dp DESC, ccell) AS rn
    FROM coarsedot)
  WHERE rn = 1
),
finedot AS (
  SELECT e.vec_id, f.fid, ({fdot}) AS dp
  FROM e JOIN cassigned a ON a.vec_id = e.vec_id
  JOIN fcents f ON f.ccell = a.ccell
),
assigned AS (
  SELECT vec_id, fid AS cell FROM (
    SELECT vec_id, fid,
           row_number() OVER (PARTITION BY vec_id ORDER BY dp DESC, fid) AS rn
    FROM finedot)
  WHERE rn = 1
),
withp AS (
  SELECT a.vec_id, a.cell, ({fdot}) / ({ne}) AS centroid_cos
  FROM assigned a JOIN e ON e.vec_id = a.vec_id JOIN fcents f ON f.fid = a.cell
),
{_semantic_tail(dim, threshold, 1)}"""


@functools.lru_cache(maxsize=None)
def _semantic_dedup_cached(
    sf_dir: str, dim: int, threshold: float, n_centroids: int, seed: int,
    plant_n: int = 0, n_assign: int = 1, probe_margin: "float | None" = None,
) -> str:
    """DuckDB twin of similarity.semantic_dedup over the embeddings table:
    the SAME k-means codebook (bitwise, via _ivf_centroids — trained on
    the UNPLANTED base, the train-once/serve-many posture).  ``plant_n``
    > 0 mirrors the registered query's planted scaled copies (the
    Gaussian fixtures have no true semantic dups — same device as
    embedding_near_dup)."""
    cents = _ivf_centroids(sf_dir, n_centroids, seed)
    src = "embeddings"
    if plant_n > 0:
        src = f"""(
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 10000000 AS vec_id,
         list_transform(embedding, x -> x::DOUBLE * CAST(1.5 AS DOUBLE)) AS embedding
  FROM embeddings WHERE vec_id < {plant_n}
)"""
    return _semantic_dedup_sql(
        cents, dim, threshold, src, n_assign, probe_margin=probe_margin
    )


def semantic_dedup_oracle(
    dim: int = 64,
    threshold: float = 0.9,
    n_centroids: "int | None" = None,
    seed: int = 7,
    plant_n: int = 0,
    n_assign: int = 1,
    probe_margin: "float | None" = None,
) -> str:
    from pyfads.similarity import adaptive_n_centroids

    sf = oracle_sf_dir()
    if n_centroids is None:
        # same rule the registered query applies to its UNPLANTED base
        n_centroids = adaptive_n_centroids(_embeddings_count(sf))
    return _semantic_dedup_cached(
        sf, dim, float(threshold), n_centroids, seed, plant_n, n_assign,
        None if probe_margin is None else float(probe_margin),
    )


@functools.lru_cache(maxsize=None)
def _semantic_components_cached(
    sf_dir: str, dim: int, threshold: float, n_centroids: int, seed: int,
    plant_n: int,
) -> str:
    """DuckDB twin of the semantic duplicate GRAPH view: within-cell
    tau-edges (similarity.semantic_tau_pairs — same codebook, same fold
    cosine) closed transitively by a recursive CTE into components labeled
    with their min member id — the exact fixpoint
    dedup.connected_components converges to (the lexical _cc_ctes
    precedent)."""
    cents = _ivf_centroids(sf_dir, n_centroids, seed)
    src = "embeddings"
    if plant_n > 0:
        src = f"""(
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 10000000 AS vec_id,
         list_transform(embedding, x -> x::DOUBLE * CAST(1.5 AS DOUBLE)) AS embedding
  FROM embeddings WHERE vec_id < {plant_n}
)"""
    vals = ",\n  ".join(f"({j}, {_dvec_lit(cents[j])})" for j in range(len(cents)))
    norm0 = _norm_sql("e0.embedding", dim)
    assign_dot = _dot_sql("e.embedding", "c.cvec", dim, fold=True)
    pair_dot = _dot_sql("ea.embedding", "eb.embedding", dim, fold=True)
    na, nb = (_norm_sql(f"{t}.embedding", dim, fold=True) for t in ("ea", "eb"))
    return f"""
WITH RECURSIVE cents(cell, cvec) AS (VALUES
  {vals}
),
e AS (SELECT vec_id, embedding FROM {src} e0 WHERE {norm0} > 0),
celldot AS (
  SELECT e.vec_id, c.cell, ({assign_dot}) AS dp
  FROM e CROSS JOIN cents c
),
assigned AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell,
           row_number() OVER (PARTITION BY vec_id ORDER BY dp DESC, cell) AS rn
    FROM celldot)
  WHERE rn = 1
),
salted AS (
  SELECT vec_id,
         {_salt_key_sql(SEM_MAX_CELL)} AS scell
  FROM assigned
),
p AS (
  SELECT a.vec_id AS u, b.vec_id AS v
  FROM salted a JOIN salted b ON a.scell = b.scell AND a.vec_id < b.vec_id
  JOIN e ea ON ea.vec_id = a.vec_id
  JOIN e eb ON eb.vec_id = b.vec_id
  WHERE ({pair_dot}) / (({na}) * ({nb})) >= '{threshold!r}'::DOUBLE
),
edges AS (SELECT u, v FROM p UNION SELECT v, u FROM p),
reach(src, node) AS (
    SELECT vec_id, vec_id FROM e
  UNION
    SELECT r.src, ed.v FROM reach r JOIN edges ed ON ed.u = r.node
)
SELECT src AS vec_id, CAST(min(node) AS BIGINT) AS group_id
FROM reach GROUP BY src
"""


def semantic_components_oracle(
    dim: int = 64,
    threshold: float = 0.9,
    n_centroids: "int | None" = None,
    seed: int = 7,
    plant_n: int = 0,
) -> str:
    from pyfads.similarity import adaptive_n_centroids

    sf = oracle_sf_dir()
    if n_centroids is None:
        n_centroids = adaptive_n_centroids(_embeddings_count(sf))
    return _semantic_components_cached(
        sf, dim, float(threshold), n_centroids, seed, plant_n
    )


@functools.lru_cache(maxsize=None)
def _semantic_twolevel_cached(
    sf_dir: str, dim: int, threshold: float, n_coarse: int, n_fine: int,
    seed: int, plant_n: int,
) -> str:
    """DuckDB twin of similarity.semantic_dedup with a TWO-LEVEL codebook
    over the embeddings table: replays train_two_level_centroids exactly —
    the same coarse codebook (_ivf_centroids), the same hierarchical
    fold-dot assignment of the full nonzero corpus, the same per-cell
    md5-ordered bounded sample, and the same per-cell fine k-means
    (similarity._train_fine_codebooks, shared function) — then the
    hierarchical SQL body."""
    import duckdb

    from pyfads.similarity import (
        _train_fine_codebooks,
        default_fine_sample,
        fold_dots,
        top_cells,
    )

    coarse = _ivf_centroids(sf_dir, n_coarse, seed)
    con = duckdb.connect()
    rows = con.sql(
        f"SELECT vec_id, embedding FROM '{_table_path(sf_dir, 'embeddings')}'"
    ).fetchall()
    con.close()
    rows = [r for r in rows if (np.asarray(r[1], dtype=np.float64) ** 2).sum() > 0]
    ids = [r[0] for r in rows]
    m = np.asarray([r[1] for r in rows], dtype=np.float64)
    cells = top_cells(fold_dots(m, coarse), 1)[:, 0]
    per_cell = default_fine_sample(n_fine)
    order = sorted(
        range(len(ids)),
        key=lambda j: (
            int(cells[j]),
            hashlib.md5(str(ids[j]).encode()).hexdigest(),
            ids[j],
        ),
    )
    members: dict[int, list] = {}
    for j in order:
        c = int(cells[j])
        bucket = members.setdefault(c, [])
        if len(bucket) < per_cell:
            bucket.append(m[j])
    mats = {c: np.asarray(v, dtype=np.float64) for c, v in members.items()}
    fine, fine_coarse = _train_fine_codebooks(mats, coarse, n_fine, seed)
    src = "embeddings"
    if plant_n > 0:
        src = f"""(
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 10000000 AS vec_id,
         list_transform(embedding, x -> x::DOUBLE * CAST(1.5 AS DOUBLE)) AS embedding
  FROM embeddings WHERE vec_id < {plant_n}
)"""
    return _semantic_dedup_two_level_sql(coarse, fine, fine_coarse, dim, threshold, src)


def semantic_dedup_twolevel_oracle(
    dim: int = 64,
    threshold: float = 0.9,
    n_coarse: int = 8,
    n_fine: int = 8,
    seed: int = 7,
    plant_n: int = 0,
) -> str:
    return _semantic_twolevel_cached(
        oracle_sf_dir(), dim, float(threshold), n_coarse, n_fine, seed, plant_n
    )


def _doc_embed_vectors(sf_dir: str, dim: int, hseed: str):
    """Pure-Python twin of text.doc_embed_hash over the documents parquet:
    (sorted doc_ids, int-valued float64 matrix).  Tokenization mirrors
    Spark split(text, ' ') exactly (str.split(' ') keeps empties), bigrams
    mirror word_ngrams(2); bucket = low md5 bits, sign = md5 bit 32."""
    import duckdb

    con = duckdb.connect()
    rows = con.sql(
        f"SELECT doc_id, text FROM '{_table_path(sf_dir, 'documents')}'"
    ).fetchall()
    con.close()
    ids, vecs = [], []
    from pyfads.text import doc_embed_hash_py

    for doc_id, text in sorted(rows):
        # NULL text keeps its row with the zero vector (doc_embed_hash's
        # left join), which the nonzero-norm filter then drops uniformly.
        # Featurization delegates to the ONE shared python twin
        # (text.doc_embed_hash_py) so the device lives in one place
        # (code-review r12); integer +-1 sums are order-exact, so the
        # ndarray round-trip is bit-identical.
        ids.append(doc_id)
        vecs.append(
            np.asarray(doc_embed_hash_py(text, dim, hseed), dtype=np.float64)
        )
    return ids, np.asarray(vecs)


@functools.lru_cache(maxsize=None)
def _doc_embed_golden(sf_dir: str, dim: int, hseed: str):
    """Materialize the python-twin doc embeddings ONCE as a golden parquet
    (the FADS golden-table precedent): the round-8 twin re-evaluated the
    computed-embedding CTE per centroid fold and OOM'd DuckDB past ~78
    cells, which forced dedup_semantic_docs to pin a 32-cell codebook.
    Returns ``(parquet_path, kept_ids, kept_matrix)`` — nonzero-norm rows
    only (the drop_zero_norm twin), vec_id ascending."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    ids, m = _doc_embed_vectors(sf_dir, dim, hseed)
    keep = (m * m).sum(axis=1) > 0
    ids = [i for i, k in zip(ids, keep) if k]
    m = m[keep]
    tag = os.path.basename(sf_dir.rstrip("/"))
    path = os.path.join(GOLDEN_DIR, f"doc_embed.{tag}.d{dim}.{hseed}.parquet")
    os.makedirs(GOLDEN_DIR, exist_ok=True)
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(ids, type=pa.int64()),
                "embedding": pa.array(
                    [list(row) for row in m], type=pa.list_(pa.float64())
                ),
            }
        ),
        path,
    )
    return path, ids, m


@functools.lru_cache(maxsize=None)
def _semantic_dedup_docs_cached(
    sf_dir: str, dim: int, threshold: float, n_centroids: "int | None", seed: int,
    hseed: str,
) -> str:
    """semantic_dedup over hashed-projection DOC embeddings (the
    model-free end-to-end composition): the codebook is spherical k-means
    over the md5-ordered bounded sample of the COMPUTED doc vectors
    (python twin shares tokenization + hash with the SQL), then the same
    shared SQL body runs with the MATERIALIZED golden-embeddings parquet
    as source (integer-valued doubles — the parquet round-trip is exact).
    ``n_centroids=None`` derives the adaptive count from the nonzero-norm
    doc count, mirroring the registered query."""
    from pyfads.similarity import (
        _kmeans_spherical,
        adaptive_n_centroids,
        default_codebook_sample,
    )

    path, ids, m = _doc_embed_golden(sf_dir, dim, hseed)
    if n_centroids is None:
        n_centroids = adaptive_n_centroids(len(ids))
    order = sorted(range(len(ids)), key=lambda j: hashlib.md5(str(ids[j]).encode()).hexdigest())
    sample = m[order[: default_codebook_sample(n_centroids)]]
    cents = _kmeans_spherical(sample, n_centroids, seed)
    src = f"(SELECT vec_id, embedding FROM read_parquet('{path}'))"
    return _semantic_dedup_sql(cents, dim, threshold, src)


def semantic_dedup_docs_oracle(
    dim: int = 64,
    threshold: float = 0.8,
    n_centroids: "int | None" = None,
    seed: int = 7,
    hseed: str = "emb",
) -> str:
    return _semantic_dedup_docs_cached(
        oracle_sf_dir(), dim, float(threshold), n_centroids, seed, hseed
    )


# --------------------------------------------------------------------------
# ANN IVF-PQ: coarse codebook + PQ sub-codebooks trained at build time,
# cell assignment, PQ encoding, and ADC scoring all recomputed in SQL
# --------------------------------------------------------------------------


def _pq_codebooks(sf_dir: str, dim: int, m_sub: int, ksub: int, pq_seed: int, tile: int = 1, sample_rows: int = 4096):
    """Replicates similarity.train_pq_codebooks outside Spark: same
    md5-ordered bounded sample, same per-subspace L2 k-means — bitwise the
    same sub-centroid array.  ``tile`` widens the sample by concatenation
    BEFORE normalization (the Spark query tiles its input first, so the
    norm is taken over the widened vector)."""
    import duckdb

    from pyfads.similarity import _kmeans_l2

    con = duckdb.connect()
    rows = con.sql(f"SELECT vec_id, embedding FROM '{_table_path(sf_dir, 'embeddings')}'").fetchall()
    con.close()
    rows = [r for r in rows if (np.asarray(r[1], dtype=np.float64) ** 2).sum() > 0]
    rows.sort(key=lambda r: hashlib.md5(str(r[0]).encode()).hexdigest())
    m = np.asarray([r[1] for r in rows[:sample_rows]], dtype=np.float64)
    if tile > 1:
        m = np.tile(m, (1, tile))
    m = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
    dsub = dim // m_sub
    return np.stack(
        [
            _kmeans_l2(m[:, j * dsub : (j + 1) * dsub], ksub, pq_seed + j)
            for j in range(m_sub)
        ]
    )


@functools.lru_cache(maxsize=None)
def _ann_ivfpq_cached(
    sf_dir: str,
    dim: int,
    k: int,
    n_centroids: int,
    n_probe: int,
    seed: int,
    m_sub: int,
    ksub: int,
    pq_seed: int,
    n_queries: int,
    tile: int = 1,
    refine: int = 0,
) -> str:
    dsub = dim // m_sub
    cents = _ivf_centroids(sf_dir, n_centroids, seed, tile)
    cb = _pq_codebooks(sf_dir, dim, m_sub, ksub, pq_seed, tile)
    half_cn2 = 0.5 * (cb**2).sum(axis=2)
    cent_vals = ",\n  ".join(f"({j}, {_vec_lit(cents[j])})" for j in range(len(cents)))
    # string-cast double literals matter here: a bare numeric literal parses
    # as DECIMAL(19,18) whose decimal->double conversion double-rounds (the
    # scaled numerator exceeds 2^53), off by 1 ulp — enough to break the
    # bit-exact ADC comparison.  '<repr>'::DOUBLE goes through strtod, which
    # is correctly rounded.  (cents feed only rank decisions, so they
    # tolerate the decimal path.)
    sub_vals = ",\n  ".join(
        f"({j + 1}, {kk}, {_dvec_lit(cb[j, kk])}, '{_lit(half_cn2[j, kk])}'::DOUBLE)"
        for j in range(m_sub)
        for kk in range(ksub)
    )
    norm = _norm_sql("e0.embedding", dim)
    # squared norm in Spark's norm_expr form (chain, or fold past the cutoff)
    norm_e = _dot_sql("e.embedding", "e.embedding", dim)
    celldot = _dot_sql("e.embedding", "c.cvec", dim, fold=True)

    # fold-dot of the normalized subvector j against a sub-centroid list —
    # 0.0 + t1 + ... left fold, identical to Spark's aggregate(zip_with)
    def subdot(v: str) -> str:
        return _fold_sql(
            f"list_transform(range(1, {dsub + 1}),"
            f" i -> {v}.nv[(s.j - 1) * {dsub} + i] * s.cvec[i])"
        )

    return f"""
WITH cents(cell, cvec) AS (VALUES
  {cent_vals}
),
subcb(j, k, cvec, half_cn2) AS (VALUES
  {sub_vals}
),
e AS (SELECT vec_id, embedding FROM {_embeddings_cte(tile)} e0 WHERE {norm} > 0),
en AS (
  SELECT vec_id,
         list_transform(embedding, x -> x::DOUBLE / sqrt({norm_e})) AS nv
  FROM e
),
celldot AS (
  SELECT e.vec_id, c.cell, ({celldot}) AS dp
  FROM e CROSS JOIN cents c
),
cellrank AS (
  SELECT vec_id, cell,
         row_number() OVER (PARTITION BY vec_id ORDER BY dp DESC, cell) AS rn
  FROM celldot
),
ccells AS (SELECT vec_id AS c_id, cell FROM cellrank WHERE rn <= 1),
qcells AS (SELECT vec_id AS q_id, cell FROM cellrank WHERE rn <= {n_probe} AND vec_id < {n_queries}),
subscore AS (
  SELECT en.vec_id, s.j, s.k, ({subdot("en")}) - s.half_cn2 AS score
  FROM en CROSS JOIN subcb s
),
coderank AS (
  SELECT vec_id, j, k,
         row_number() OVER (PARTITION BY vec_id, j ORDER BY score DESC, k) AS rn
  FROM subscore
),
codes AS (
  SELECT vec_id, list(k ORDER BY j) AS codes
  FROM coderank WHERE rn = 1 GROUP BY vec_id
),
cand AS (
  SELECT DISTINCT q_id, c_id AS neighbor_id
  FROM qcells JOIN ccells USING (cell)
  WHERE q_id <> c_id
),
terms AS (
  SELECT cand.q_id, cand.neighbor_id, s.j, ({subdot("q")}) AS t
  FROM cand
  JOIN en q ON q.vec_id = cand.q_id
  JOIN codes c ON c.vec_id = cand.neighbor_id
  JOIN subcb s ON s.k = c.codes[s.j]
),
adc AS (
  SELECT q_id, neighbor_id,
         {_fold_sql("list(t ORDER BY j)")} AS adc
  FROM terms GROUP BY q_id, neighbor_id
)
{_ivfpq_tail(dim, k, refine)}
"""


def _ivfpq_tail(dim: int, k: int, refine: int) -> str:
    """Final select for the IVF-PQ oracle: pure-ADC top-k when refine == 0;
    otherwise the refine stage — top refine*k ADC shortlist re-ranked by
    exact chain-arithmetic cosine (bit-identical to Spark's dot_expr /
    norm_expr path, same as _cosine_rerank_sql)."""
    if not refine:
        return f"""SELECT q_id, neighbor_id, adc, rank
FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY q_id
                                    ORDER BY adc DESC, neighbor_id) AS BIGINT) AS rank
  FROM adc
)
WHERE rank <= {k}"""
    dot = _dot_sql("a.embedding", "b.embedding", dim)
    na = _norm_sql("a.embedding", dim)
    nb = _norm_sql("b.embedding", dim)
    return f""", shortlist AS (
  SELECT q_id, neighbor_id FROM (
    SELECT *, row_number() OVER (PARTITION BY q_id
                                 ORDER BY adc DESC, neighbor_id) AS rn
    FROM adc
  ) WHERE rn <= {refine * k}
),
refined AS (
  SELECT s.q_id, s.neighbor_id,
         ({dot}) / ({na} * {nb}) AS cosine
  FROM shortlist s
  JOIN e a ON a.vec_id = s.q_id
  JOIN e b ON b.vec_id = s.neighbor_id
)
SELECT q_id, neighbor_id, cosine, rank
FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY q_id
                                    ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
  FROM refined
)
WHERE rank <= {k}"""


def ann_ivfpq_topk_oracle(
    dim: int = 64,
    k: int = 10,
    n_centroids: int = 32,
    n_probe: int = 4,
    seed: int = 7,
    m_sub: int = 8,
    ksub: int = 16,
    pq_seed: int = 11,
    n_queries: int = 8,
    tile: int = 1,
    refine: int = 0,
) -> str:
    """Fully independent DuckDB twin of similarity.ann_ivfpq_topk: both
    codebooks retrain deterministically at build time and ride in as
    literals; DuckDB recomputes cells, PQ codes, and the left-folded ADC
    scores from scratch.  ``tile`` > 1 widens the fixture vectors by
    concatenation (the wide-dim variant); ``refine`` > 0 mirrors the exact
    -cosine refine stage over the top refine*k ADC shortlist."""
    return _ann_ivfpq_cached(
        oracle_sf_dir(), dim, k, n_centroids, n_probe, seed, m_sub, ksub, pq_seed, n_queries, tile, refine
    )


@functools.lru_cache(maxsize=None)
def _pca_components_cached(sf_dir: str, out_dim: int, sample_rows: int = 4096):
    """Replicates similarity.train_pca outside Spark: same md5-ordered
    bounded sample, same eigendecomposition (shared numpy helper) —
    bitwise-identical components."""
    import duckdb

    from pyfads.similarity import _pca_from_sample

    con = duckdb.connect()
    rows = con.sql(f"SELECT vec_id, embedding FROM '{_table_path(sf_dir, 'embeddings')}'").fetchall()
    con.close()
    rows.sort(key=lambda r: hashlib.md5(str(r[0]).encode()).hexdigest())
    m = np.asarray([r[1] for r in rows[:sample_rows]], dtype=np.float64)
    return _pca_from_sample(m, out_dim)


def embedding_pca_oracle(dim: int = 64, out_dim: int = 8) -> str:
    comps = _pca_components_cached(oracle_sf_dir(), out_dim)
    outs = []
    for j in range(out_dim):
        # Coefficient literals MUST go through a STRING cast: DuckDB parses
        # bare 17-digit decimals as DECIMAL(18,17), and its DECIMAL->DOUBLE
        # conversion is one ulp off the correctly-rounded strtod parse for
        # some values (measured on -0.20963932573795319).  CAST('…' AS
        # DOUBLE) is correctly rounded.  The sum runs as the same
        # list_reduce left fold as the wide-dim oracles (order-guaranteed,
        # expression-depth-safe).
        cs = "[" + ", ".join(f"CAST('{comps[i, j]!r}' AS DOUBLE)" for i in range(dim)) + "]"
        outs.append(f"{_dot_sql('embedding', f'({cs})', dim, fold=True)} AS y{j}")
    return f"SELECT vec_id, {', '.join(outs)} FROM embeddings"


def ann_pca_lsh_topk_oracle(
    dim: int = 64,
    out_dim: int = 8,
    k: int = 10,
    n_planes: int = 4,
    n_tables: int = 8,
    seed: int = 42,
    n_queries: int = 8,
) -> str:
    """DuckDB twin of similarity.ann_pca_lsh_topk: PCA components retrained
    via the shared numpy helper (string-cast literals), projections as
    list_reduce folds, sign-bit buckets from literal hyperplanes over the
    projection, bucket equi-join, exact-cosine re-rank on full vectors."""
    from pyfads.similarity import _hyperplanes

    comps = _pca_components_cached(oracle_sf_dir(), out_dim)
    planes = _hyperplanes(out_dim, n_planes, n_tables, seed)
    norm = _norm_sql("e0.embedding", dim)
    proj_cols = []
    for j in range(out_dim):
        cs = "[" + ", ".join(f"CAST('{comps[i, j]!r}' AS DOUBLE)" for i in range(dim)) + "]"
        proj_cols.append(f"{_dot_sql('embedding', f'({cs})', dim, fold=True)} AS y{j}")
    # one bucket expression per table: left-assoc 8-term plane dot, CASE bit
    buckets = []
    for t in range(n_tables):
        bits = []
        for j in range(n_planes):
            d = " + ".join(
                f"y{x} * CAST('{planes[t, j, x]!r}' AS DOUBLE)" for x in range(out_dim)
            )
            bits.append(f"(CASE WHEN ({d}) > 0 THEN {1 << j} ELSE 0 END)")
        buckets.append(f"({t}, {' + '.join(bits)})")
    tb_rows = ",\n    ".join(buckets)
    return f"""
WITH e AS (SELECT vec_id, embedding FROM embeddings e0 WHERE {norm} > 0),
proj AS (SELECT vec_id, {', '.join(proj_cols)} FROM e),
codes AS (
  SELECT vec_id, t.table_idx, CAST(t.bucket AS BIGINT) AS bucket
  FROM proj, LATERAL (VALUES
    {tb_rows}
  ) t(table_idx, bucket)
),
cand AS (
  SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS neighbor_id
  FROM codes q JOIN codes c USING (table_idx, bucket)
  WHERE q.vec_id < {n_queries} AND q.vec_id <> c.vec_id
),
{_cosine_rerank_sql(dim, k)}
"""


# ---------------------------------------------------------------------------
# BPE token counts (r7): golden literal table.  Training (bpe_train_merges)
# is shared with the Spark operator — it is deterministic configuration,
# like the ann_lsh hyperplane literals — but the ENCODER below is an
# independent re-coding of the GPT-2 bpe() spec (rank-indexed scan) so the
# oracle checks pyfads.text.bpe_piece_count's segmentation, not just the
# Spark plumbing.
# ---------------------------------------------------------------------------


def _bpe_pieces_independent(word: str, merges: "list[tuple[str, str]]") -> int:
    parts = list(word)
    rank_of = {m: r for r, m in enumerate(merges)}
    while len(parts) > 1:
        best = None  # (rank, position)
        for i in range(len(parts) - 1):
            r = rank_of.get((parts[i], parts[i + 1]))
            if r is not None and (best is None or r < best[0]):
                best = (r, i)
        if best is None:
            break
        pair = merges[best[0]]
        out, j = [], 0
        while j < len(parts):
            if j + 1 < len(parts) and (parts[j], parts[j + 1]) == pair:
                out.append(parts[j] + parts[j + 1])
                j += 2
            else:
                out.append(parts[j])
                j += 1
        parts = out
    return len(parts)


@functools.lru_cache(maxsize=None)
def _bpe_counts_cached(sf_dir: str, n_merges: int, train_top_words: int) -> str:
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyfads.text import bpe_train_merges

    con = duckdb.connect()
    rows = con.sql(
        f"SELECT doc_id, text FROM '{_table_path(sf_dir, 'documents')}'"
    ).fetchall()
    wc: "dict[str, int]" = {}
    for _, text in rows:
        if text is None:
            continue
        for w in text.split(" "):
            wc[w] = wc.get(w, 0) + 1
    train = dict(
        sorted(wc.items(), key=lambda kv: (-kv[1], kv[0]))[:train_top_words]
    )
    merges = bpe_train_merges(train, n_merges)
    pieces = {w: _bpe_pieces_independent(w, merges) for w in wc}
    out = {"doc_id": [], "n_words": [], "n_bpe_tokens": []}
    for doc_id, text in rows:
        if text is None:
            continue
        ws = text.split(" ")
        out["doc_id"].append(int(doc_id))
        out["n_words"].append(len(ws))
        out["n_bpe_tokens"].append(sum(pieces[w] for w in ws))
    os.makedirs(GOLDEN_DIR, exist_ok=True)
    tag = hashlib.md5(
        f"{sf_dir}:{n_merges}:{train_top_words}".encode()
    ).hexdigest()[:10]
    path = os.path.join(GOLDEN_DIR, f"token_counts_bpe.{tag}.parquet")
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(out["doc_id"], pa.int64()),
                "n_words": pa.array(out["n_words"], pa.int64()),
                "n_bpe_tokens": pa.array(out["n_bpe_tokens"], pa.int64()),
            }
        ),
        path,
    )
    return f"SELECT doc_id, n_words, n_bpe_tokens FROM read_parquet('{path}')"


def token_counts_bpe_oracle(n_merges: int = 200, train_top_words: int = 5000) -> str:
    return _bpe_counts_cached(oracle_sf_dir(), n_merges, train_top_words)


def _semantic_incremental_sql(
    cents, dim: int, threshold: float, corpus_src: str, batch_src: str
) -> str:
    """DuckDB twin of similarity.semantic_dedup_incremental: both sides
    assign cells via the fold-dot argmax against the same strtod centroid
    literals; a batch row's n_corpus_dups counts same-cell corpus vectors
    at fold-cosine >= threshold."""
    vals = ",\n  ".join(f"({j}, {_dvec_lit(cents[j])})" for j in range(len(cents)))
    norm0 = _norm_sql("e0.embedding", dim)

    def assign(side: str) -> str:
        return f"""(
  SELECT vec_id, cell FROM (
    SELECT e.vec_id, c.cell,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {_dot_sql("e.embedding", "c.cvec", dim, fold=True)} DESC,
                                       c.cell) AS rn
    FROM {side} e CROSS JOIN cents c)
  WHERE rn = 1
)"""

    cos = (
        f"({_dot_sql('eb.embedding', 'ec.embedding', dim, fold=True)})"
        f" / (({_norm_sql('eb.embedding', dim, fold=True)})"
        f" * ({_norm_sql('ec.embedding', dim, fold=True)}))"
    )
    return f"""
WITH cents(cell, cvec) AS (VALUES
  {vals}
),
cp AS (SELECT vec_id, embedding FROM {corpus_src} e0 WHERE {norm0} > 0),
bt AS (SELECT vec_id, embedding FROM {batch_src} e0 WHERE {norm0} > 0),
cpa AS (SELECT * FROM {assign("cp")}),
bta AS (SELECT * FROM {assign("bt")}),
dups AS (
  SELECT b.vec_id AS b_id, count(*) AS n
  FROM bta b JOIN cpa c USING (cell)
  JOIN bt eb ON eb.vec_id = b.vec_id
  JOIN cp ec ON ec.vec_id = c.vec_id
  WHERE ({cos}) >= '{threshold!r}'::DOUBLE
  GROUP BY b.vec_id
)
SELECT bta.vec_id, CAST(bta.cell AS INTEGER) AS cell,
       CAST(COALESCE(d.n, 0) AS BIGINT) AS n_corpus_dups,
       COALESCE(d.n, 0) = 0 AS is_new
FROM bta LEFT JOIN dups d ON bta.vec_id = d.b_id
"""


@functools.lru_cache(maxsize=None)
def _semantic_incremental_cached(
    sf_dir: str, dim: int, threshold: float, n_centroids: int, seed: int,
    plant_dups: int, plant_new: int,
) -> str:
    """Incremental gate twin: corpus = embeddings; batch = scaled copies
    of vec_id < plant_dups (cosine 1 -> duplicates) plus NEGATED-scaled
    copies of vec_id in [100, 100+plant_new) (cosine -1 to their source,
    and random Gaussians never reach +0.9 -> genuinely new)."""
    cents = _ivf_centroids(sf_dir, n_centroids, seed)
    batch = f"""(
  SELECT vec_id + 10000000 AS vec_id,
         list_transform(embedding, x -> x::DOUBLE * CAST(1.5 AS DOUBLE)) AS embedding
  FROM embeddings WHERE vec_id < {plant_dups}
  UNION ALL
  SELECT vec_id + 20000000 AS vec_id,
         list_transform(embedding, x -> x::DOUBLE * CAST(-1.5 AS DOUBLE)) AS embedding
  FROM embeddings WHERE vec_id >= 100 AND vec_id < {100 + plant_new}
)"""
    return _semantic_incremental_sql(cents, dim, threshold, "embeddings", batch)


def semantic_dedup_incremental_oracle(
    dim: int = 64,
    threshold: float = 0.9,
    n_centroids: "int | None" = None,
    seed: int = 7,
    plant_dups: int = 32,
    plant_new: int = 16,
) -> str:
    from pyfads.similarity import adaptive_n_centroids

    sf = oracle_sf_dir()
    if n_centroids is None:
        n_centroids = adaptive_n_centroids(_embeddings_count(sf))
    return _semantic_incremental_cached(
        sf, dim, float(threshold), n_centroids, seed, plant_dups, plant_new
    )


def semantic_refresh_store_oracle(
    dim: int = 64,
    threshold: float = 0.9,
    n_centroids: "int | None" = None,
    seed: int = 7,
    plant_dups: int = 32,
    plant_new: int = 16,
) -> str:
    """Post-refresh corpus membership ``(vec_id, cell)``: the standing
    corpus (every nonzero embedding, fold-dot-argmax-assigned) plus the
    incremental gate's is_new admissions — exactly what
    similarity.semantic_refresh_store leaves in the store's corpus table
    after one tick (the append carries cells computed with the same
    codebook, and the store parquet round-trip is exact)."""
    from pyfads.similarity import adaptive_n_centroids

    sf = oracle_sf_dir()
    if n_centroids is None:
        n_centroids = adaptive_n_centroids(_embeddings_count(sf))
    inner = _semantic_incremental_cached(
        sf, dim, float(threshold), n_centroids, seed, plant_dups, plant_new
    )
    cents = _ivf_centroids(sf, n_centroids, seed)
    vals = ",\n  ".join(f"({j}, {_dvec_lit(cents[j])})" for j in range(len(cents)))
    norm0 = _norm_sql("e0.embedding", dim)
    assign_dot = _dot_sql("e.embedding", "c.cvec", dim, fold=True)
    return f"""
SELECT vec_id, cell FROM (
  WITH cents(cell, cvec) AS (VALUES
    {vals}
  ),
  e AS (SELECT vec_id, embedding FROM embeddings e0 WHERE {norm0} > 0),
  celldot AS (
    SELECT e.vec_id, c.cell, ({assign_dot}) AS dp
    FROM e CROSS JOIN cents c
  )
  SELECT vec_id, CAST(cell AS INTEGER) AS cell FROM (
    SELECT vec_id, cell,
           row_number() OVER (PARTITION BY vec_id ORDER BY dp DESC, cell) AS rn
    FROM celldot)
  WHERE rn = 1
)
UNION ALL
SELECT vec_id, cell FROM (
{inner}
) WHERE is_new
"""


def semantic_gate_stream_oracle(
    dim: int = 64,
    threshold: float = 0.9,
    n_centroids: "int | None" = None,
    seed: int = 7,
    plant_dups: int = 32,
    plant_new: int = 16,
) -> str:
    """The streaming semantic gate emits exactly the incremental gate's
    is_new survivors (stream-static LEFT ANTI — stateless), so its oracle
    is the incremental twin filtered to is_new: a streaming operator with
    a FULL value oracle, not a rows-only check."""
    inner = semantic_dedup_incremental_oracle(
        dim, threshold, n_centroids, seed, plant_dups, plant_new
    )
    return f"SELECT vec_id, cell FROM (\n{inner}\n) WHERE is_new"


def _py_fold_dot(a, b) -> float:
    """In-order IEEE double left fold 0.0 + a1*b1 + ... — bit-identical to
    similarity._dot_fold (Spark evaluates the lambda sequentially over the
    zipped array; Python float ops are the same IEEE doubles)."""
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + float(x) * float(y)
    return acc


def _py_fold_norm(v) -> float:
    import math

    acc = 0.0
    for x in v:
        acc = acc + float(x) * float(x)
    return math.sqrt(acc)


@functools.lru_cache(maxsize=None)
def _kcenter_cached(sf_dir: str, k: int, dim: int) -> str:
    """Golden twin of similarity.kcenter_select: the greedy farthest-point
    loop replayed in pure Python with the SAME in-order fold arithmetic
    (left-fold dot/norm, cos division order, argmax with id tiebreak), so
    the selected set and every recorded mindist are bit-identical; the
    oracle is the resulting k-row literal table."""
    import duckdb

    con = duckdb.connect()
    rows = con.sql(
        f"SELECT vec_id, embedding FROM '{_table_path(sf_dir, 'embeddings')}'"
    ).fetchall()
    con.close()
    rows = [
        (int(i), [float(x) for x in v])
        for i, v in rows
        if _py_fold_norm(v) > 0
    ]
    rows.sort()
    norms = {i: _py_fold_norm(v) for i, v in rows}
    vecs = dict(rows)
    selected = [(0, rows[0][0], None)]
    sel = [rows[0][0]]
    for r in range(1, k):
        best = None
        for i, v in rows:
            if i in sel:
                continue
            d = min(
                1.0 - _py_fold_dot(v, vecs[s]) / (norms[i] * norms[s]) for s in sel
            )
            # argmax with lowest-id tiebreak == ORDER BY d DESC, id ASC
            if best is None or d > best[1] or (d == best[1] and i < best[0]):
                best = (i, d)
        selected.append((r, best[0], best[1]))
        sel.append(best[0])
    vals = ",\n  ".join(
        f"({r}, {i}, " + ("NULL::DOUBLE" if d is None else f"'{_lit(d)}'::DOUBLE") + ")"
        for r, i, d in selected
    )
    return f"""
SELECT CAST(sel_rank AS BIGINT) AS sel_rank, CAST(vec_id AS BIGINT) AS vec_id, mindist
FROM (VALUES
  {vals}
) AS t(sel_rank, vec_id, mindist)
"""


def kcenter_select_oracle(k: int = 8, dim: int = 64) -> str:
    return _kcenter_cached(oracle_sf_dir(), k, dim)


@functools.lru_cache(maxsize=None)
def _proto_prune_cached(
    sf_dir: str, dim: int, prune_pct: int, n_centroids: int, seed: int
) -> str:
    """DuckDB twin of similarity.prototypicality_prune: the codebook is
    retrained bitwise (`_ivf_centroids` — same md5-ordered sample, same
    spherical k-means) into literals; dp is the same left fold as the
    Spark in-plan score; the per-cell (proto_cos DESC, id) ranking and the
    integer keep rule replay exactly."""
    cents = _ivf_centroids(sf_dir, n_centroids, seed)
    # proto_cos is an OUTPUT column, so the centroid literals must take the
    # '<repr>'::DOUBLE strtod path (_dvec_lit) — a bare list literal parses
    # as DECIMAL and converts one ulp off for some values (the queries.py
    # float-literal parity rule), which only rank-consuming twins tolerate
    vals = ",\n  ".join(f"({j}, {_dvec_lit(cents[j])})" for j in range(len(cents)))
    norm = _norm_sql("e0.embedding", dim)
    dot = _dot_sql("e.embedding", "c.cvec", dim, fold=True)
    fnorm = _norm_sql("e.embedding", dim, fold=True)
    return f"""
WITH cents(cell, cvec) AS (VALUES
  {vals}
),
e AS (SELECT vec_id, embedding FROM embeddings e0 WHERE {norm} > 0),
celldot AS (
  SELECT e.vec_id, c.cell, ({dot}) AS dp, ({fnorm}) AS nv
  FROM e CROSS JOIN cents c
),
assigned AS (
  SELECT vec_id, cell, dp / nv AS proto_cos
  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY dp DESC, cell) AS rn
        FROM celldot)
  WHERE rn = 1
),
ranked AS (
  SELECT vec_id, cell, proto_cos,
         CAST(row_number() OVER (PARTITION BY cell
                                 ORDER BY proto_cos DESC, vec_id) AS BIGINT)
           AS rank,
         CAST(count(*) OVER (PARTITION BY cell) AS BIGINT) AS n_cell
  FROM assigned
)
SELECT vec_id, cell, proto_cos, rank, n_cell,
       rank * 100 > {prune_pct} * n_cell AS keep
FROM ranked
"""


def prototypicality_prune_oracle(
    dim: int = 64, prune_pct: int = 30, n_centroids: int = 32, seed: int = 7
) -> str:
    return _proto_prune_cached(oracle_sf_dir(), dim, prune_pct, n_centroids, seed)


@functools.lru_cache(maxsize=None)
def _cell_purity_cached(sf_dir: str, dim: int, n_centroids: int, seed: int) -> str:
    """DuckDB twin of the cell-purity report: bitwise-retrained codebook
    (rank-consuming only — plain list literals suffice, the dp never
    reaches an output column), per-cell label counts, majority with the
    (count DESC, label ASC) tie, integer basis-point purity."""
    cents = _ivf_centroids(sf_dir, n_centroids, seed)
    vals = ",\n  ".join(f"({j}, {_vec_lit(cents[j])})" for j in range(len(cents)))
    norm = _norm_sql("e0.embedding", dim)
    dot = _dot_sql("e.embedding", "c.cvec", dim, fold=True)
    return f"""
WITH cents(cell, cvec) AS (VALUES
  {vals}
),
e AS (SELECT vec_id, embedding, label FROM embeddings e0 WHERE {norm} > 0),
celldot AS (
  SELECT e.vec_id, e.label, c.cell, ({dot}) AS dp
  FROM e CROSS JOIN cents c
),
assigned AS (
  SELECT vec_id, label, cell
  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY dp DESC, cell) AS rn
        FROM celldot)
  WHERE rn = 1
),
lc AS (SELECT cell, label, CAST(count(*) AS BIGINT) AS n_label
       FROM assigned GROUP BY cell, label),
tot AS (SELECT cell, CAST(sum(n_label) AS BIGINT) AS n_cell FROM lc GROUP BY cell),
maj AS (
  SELECT cell, label AS majority_label, n_label AS n_majority
  FROM (SELECT *, row_number() OVER (PARTITION BY cell
                                     ORDER BY n_label DESC, label) AS rn
        FROM lc)
  WHERE rn = 1
)
SELECT m.cell, t.n_cell, m.majority_label, m.n_majority,
       m.n_majority * 10000 // t.n_cell AS purity_bp
FROM maj m JOIN tot t USING (cell)
"""


def cell_purity_oracle(dim: int = 64, n_centroids: int = 32, seed: int = 7) -> str:
    return _cell_purity_cached(oracle_sf_dir(), dim, n_centroids, seed)
