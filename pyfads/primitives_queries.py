"""Driver-checkable queries for the G2-G11 primitives + P2/P3/P4 analogues.

QID mapping for the TPC-H-ish fixtures (FIXTURES.md): lineitem's
(l_quantity, l_extendedprice, l_discount) play the role of the reference's
numeric QID fields {0,1,5} (TransactionGeneralizationJob.java:66-69).

Every float expression is written with the *same* operation order in the
Spark code and the DuckDB SQL so results are bit-identical (IEEE doubles).
row_number outputs are cast to BIGINT on the Spark side to match DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from pyfads import primitives as P
from pyfads.io import epoch_ms, read_table
from pyfads.queries import query

QIDS = ["l_quantity", "l_extendedprice", "l_discount"]


def _li(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_table(spark, sf_dir, "lineitem")


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_table(spark, sf_dir, "events")


_BOUNDS_SQL = (
    "SELECT min(l_quantity) AS l_quantity_lo, max(l_quantity) AS l_quantity_hi, "
    "min(l_extendedprice) AS l_extendedprice_lo, max(l_extendedprice) AS l_extendedprice_hi, "
    "min(l_discount) AS l_discount_lo, max(l_discount) AS l_discount_hi FROM lineitem"
)


@query("g2_global_bounds", oracle=_BOUNDS_SQL)
def g2_global_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G2 global min/max per QID (Generalizer.java:107-115)."""
    return P.global_bounds(_li(spark, sf_dir), QIDS)


@query(
    "g2_running_bounds",
    oracle="""
SELECT event_id,
       min(value) OVER w AS value_running_lo,
       max(value) OVER w AS value_running_hi,
       min(user_id) OVER w AS user_id_running_lo,
       max(user_id) OVER w AS user_id_running_hi
FROM events
WINDOW w AS (ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
""",
)
def g2_running_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G2 running form — the bounds state as of each arrival."""
    ev = _events(spark, sf_dir)
    out = P.running_bounds(ev, ["value", "user_id"], ["ts", "event_id"])
    return out.select(
        "event_id",
        "value_running_lo",
        "value_running_hi",
        "user_id_running_lo",
        "user_id_running_hi",
    )


_DIST_SQL_TERMS = " + ".join(
    f"(CASE WHEN b.{c}_hi > b.{c}_lo THEN abs(n.{c} - p.{c}) / (b.{c}_hi - b.{c}_lo) ELSE 0.0 END)"
    for c in QIDS
)

_KNN_SQL = f"""
WITH b AS ({_BOUNDS_SQL}),
pairs AS (
  SELECT p.l_orderkey,
         p.l_linenumber AS pivot_id,
         n.l_linenumber AS neighbor_id,
         (({_DIST_SQL_TERMS})) / 3.0 AS dist
  FROM lineitem p
  JOIN lineitem n
    ON p.l_orderkey = n.l_orderkey AND p.l_linenumber <> n.l_linenumber
  CROSS JOIN b
)
SELECT l_orderkey, pivot_id, neighbor_id, dist, rank
FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY l_orderkey, pivot_id
                                    ORDER BY dist, neighbor_id) AS BIGINT) AS rank
  FROM pairs
)
WHERE rank <= 3
"""


@query("g5_knn_topk", oracle=_KNN_SQL)
def g5_knn_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G5 top-(k-1) by normalized-L1 distance (Generalizer.java:193-227,
    intended formula per SURVEY.md §2.5.1-2), blocked per l_orderkey —
    the relational analogue of the bounded buffer."""
    li = _li(spark, sf_dir)
    out = P.knn_in_groups(
        li, ["l_orderkey"], "l_linenumber", QIDS, P.global_bounds(li, QIDS), k=3
    )
    return out.withColumn("rank", F.col("rank").cast("long"))


_BOX_COLS = ", ".join(f"min({c}) AS {c}_lo, max({c}) AS {c}_hi" for c in QIDS)


@query(
    "g6_cluster_box",
    oracle=f"SELECT l_orderkey, {_BOX_COLS} FROM lineitem GROUP BY l_orderkey",
)
def g6_cluster_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G6 per-cluster bounding box (Cluster.java:18-52); clusters keyed by
    l_orderkey."""
    return P.cluster_box(_li(spark, sf_dir), ["l_orderkey"], QIDS)


_FITS_ON = " AND ".join(f"t.{c} > c.{c}_lo AND t.{c} < c.{c}_hi" for c in QIDS)

_FITS_SQL = f"""
WITH c AS (
  SELECT l_returnflag AS c_returnflag, l_linestatus AS c_linestatus, {_BOX_COLS}
  FROM lineitem GROUP BY l_returnflag, l_linestatus
)
SELECT t.l_orderkey, t.l_linenumber, c.c_returnflag, c.c_linestatus
FROM lineitem t JOIN c ON {_FITS_ON}
"""


def _flag_clusters(li: DataFrame) -> DataFrame:
    return P.cluster_box(li, ["l_returnflag", "l_linestatus"], QIDS).select(
        F.col("l_returnflag").alias("c_returnflag"),
        F.col("l_linestatus").alias("c_linestatus"),
        *[F.col(f"{c}_lo") for c in QIDS],
        *[F.col(f"{c}_hi") for c in QIDS],
    )


@query("g7_fits", oracle=_FITS_SQL)
def g7_fits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G7 strict range-containment pairs (Cluster.java:55-62): lineitem rows
    x (returnflag, linestatus) cluster boxes, clusters broadcast."""
    li = _li(spark, sf_dir)
    pairs = P.fits_join(li, _flag_clusters(li), QIDS)
    return pairs.select("t.l_orderkey", "t.l_linenumber", "c_returnflag", "c_linestatus")


_IL_TERMS = " + ".join(
    f"(CASE WHEN b.{c}_hi > b.{c}_lo THEN (c.{c}_hi - c.{c}_lo) / (b.{c}_hi - b.{c}_lo) ELSE 0.0 END)"
    for c in QIDS
)

_IL_SQL = f"""
WITH b AS ({_BOUNDS_SQL}),
c AS (SELECT l_orderkey, {_BOX_COLS} FROM lineitem GROUP BY l_orderkey)
SELECT c.l_orderkey, (({_IL_TERMS})) / 3.0 AS info_loss
FROM c CROSS JOIN b
"""


@query("g8_info_loss", oracle=_IL_SQL)
def g8_info_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G8 infoLoss scoring (Cluster.java:79-85) with the zero-range guard."""
    li = _li(spark, sf_dir)
    clusters = P.cluster_box(li, ["l_orderkey"], QIDS)
    out = P.with_info_loss(clusters, P.global_bounds(li, QIDS), QIDS)
    return out.select("l_orderkey", "info_loss")


_G9_SQL = f"""
WITH b AS ({_BOUNDS_SQL}),
c0 AS (
  SELECT l_returnflag AS c_returnflag, l_linestatus AS c_linestatus, {_BOX_COLS}
  FROM lineitem GROUP BY l_returnflag, l_linestatus
),
c AS (
  SELECT c0.*, (({_IL_TERMS.replace('c.', 'c0.')})) / 3.0 AS info_loss
  FROM c0 CROSS JOIN b
),
pairs AS (
  SELECT t.l_orderkey, t.l_linenumber, c.c_returnflag, c.c_linestatus, c.info_loss,
         CAST(row_number() OVER (PARTITION BY t.l_orderkey, t.l_linenumber
                                 ORDER BY c.info_loss, c.c_returnflag, c.c_linestatus)
              AS BIGINT) AS rn
  FROM lineitem t JOIN c ON {_FITS_ON}
)
SELECT l_orderkey, l_linenumber, c_returnflag, c_linestatus, info_loss
FROM pairs WHERE rn = 1
"""


@query("g9_best_cluster", oracle=_G9_SQL)
def g9_best_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G9 argmin-infoLoss fitting cluster per tuple (Generalizer.java:230-243),
    deterministic tie-break on the cluster key."""
    li = _li(spark, sf_dir)
    clusters = P.with_info_loss(_flag_clusters(li), P.global_bounds(li, QIDS), QIDS)
    best = P.best_fitting_cluster(
        li,
        clusters,
        QIDS,
        tuple_id_cols=["l_orderkey", "l_linenumber"],
        tiebreak_cols=["c_returnflag", "c_linestatus"],
    )
    return best.select(
        "l_orderkey", "l_linenumber", "c_returnflag", "c_linestatus", "info_loss"
    )


_G10_SQL = f"""
WITH c AS (SELECT l_orderkey, {_BOX_COLS} FROM lineitem GROUP BY l_orderkey)
SELECT t.l_orderkey, t.l_linenumber, t.l_returnflag,
       c.l_quantity_lo, c.l_quantity_hi,
       c.l_extendedprice_lo, c.l_extendedprice_hi,
       c.l_discount_lo, c.l_discount_hi
FROM lineitem t JOIN c USING (l_orderkey)
"""


@query("g10_generalize", oracle=_G10_SQL)
def g10_generalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G10 interval-generalization projection (Cluster.java:65-77)."""
    li = _li(spark, sf_dir).select("l_orderkey", "l_linenumber", "l_returnflag", *QIDS)
    clusters = P.cluster_box(_li(spark, sf_dir), ["l_orderkey"], QIDS)
    return P.generalize_projection(li, clusters, ["l_orderkey"], QIDS)


_G11_SQL = f"""
WITH b AS ({_BOUNDS_SQL})
SELECT t.l_orderkey, t.l_linenumber,
       b.l_quantity_lo, b.l_quantity_hi,
       b.l_extendedprice_lo, b.l_extendedprice_hi,
       b.l_discount_lo, b.l_discount_hi
FROM lineitem t CROSS JOIN b
"""


@query("g11_suppress", oracle=_G11_SQL)
def g11_suppress(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G11 suppression projection to snapshot global bounds
    (Generalizer.java:246-257 + SURVEY.md §2.5.5)."""
    li = _li(spark, sf_dir).select("l_orderkey", "l_linenumber", *QIDS)
    return P.suppress_projection(li, P.global_bounds(_li(spark, sf_dir), QIDS), QIDS)


_P2_SQL = """
WITH lines AS (
  SELECT CAST(l_orderkey AS VARCHAR) || ',' || CAST(l_linenumber AS VARCHAR) || ','
         || CAST(l_quantity AS VARCHAR) || ',' || l_returnflag AS line
  FROM lineitem
)
SELECT CAST(string_split(line, ',')[1] AS BIGINT) AS l_orderkey,
       CAST(string_split(line, ',')[2] AS INTEGER) AS l_linenumber,
       CAST(string_split(line, ',')[3] AS DOUBLE) AS l_quantity,
       string_split(line, ',')[4] AS l_returnflag
FROM lines
"""


@query("p2_parse_csv", oracle=_P2_SQL)
def p2_parse_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2/P3 — delimited-line parse: split + typed casts
    (NYCTaxiRideSource.java:204-244, CSVParser.java:52-86).  Round-trips
    lineitem keys through a CSV line and parses them back with built-ins."""
    li = _li(spark, sf_dir)
    lines = li.select(
        F.concat_ws(
            ",",
            F.col("l_orderkey").cast("string"),
            F.col("l_linenumber").cast("string"),
            F.col("l_quantity").cast("string"),
            F.col("l_returnflag"),
        ).alias("line")
    )
    tok = F.split(F.col("line"), ",")
    return lines.select(
        tok.getItem(0).cast("long").alias("l_orderkey"),
        tok.getItem(1).cast("int").alias("l_linenumber"),
        tok.getItem(2).cast("double").alias("l_quantity"),
        tok.getItem(3).alias("l_returnflag"),
    )


@query(
    "p3_pid_assign",
    oracle="""
SELECT CAST(row_number() OVER (ORDER BY l_orderkey, l_linenumber) AS BIGINT) AS pid,
       l_orderkey, l_linenumber
FROM lineitem
""",
)
def p3_pid_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3 — deterministic auto-increment PID (CSVParser.java:61-64; the
    order-based variant of monotonically_increasing_id)."""
    li = _li(spark, sf_dir)
    w = Window.orderBy("l_orderkey", "l_linenumber")
    return li.select(
        F.row_number().over(w).cast("long").alias("pid"), "l_orderkey", "l_linenumber"
    )


@query(
    "g1_arrival_buffer",
    oracle="""
SELECT event_id, user_id,
       CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT)
         AS buffer_pos
FROM events
""",
)
def g1_arrival_buffer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G1 — arrival-ordered buffer (Generalizer.java:50, 335-340): the
    min-heap's deterministic pop order, keyed per user (the scale-out
    partitioning), with event_id as the tie-break the reference leaves
    arbitrary."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id", "user_id", F.row_number().over(w).cast("long").alias("buffer_pos")
    )


_G3_REUSE_MS = 15 * 24 * 3600 * 1000  # 15 days — splits the 30-day event span


@query(
    "g3_cluster_ttl",
    oracle=f"""
WITH now_t AS (SELECT max(epoch_ms(ts)) AS now_ms FROM events)
SELECT event_id, epoch_ms(ts) AS created_ms
FROM events CROSS JOIN now_t
WHERE epoch_ms(ts) + {_G3_REUSE_MS} >= now_ms
""",
)
def g3_cluster_ttl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G3 — cluster TTL expiry (Generalizer.java:117-120): drop entries whose
    creation time is more than reuse_ms behind the newest arrival.  The
    one-row "now" aggregate is broadcast, so the filter is a map-side scan."""
    ev = _events(spark, sf_dir)
    ev = ev.select("event_id", epoch_ms(ev, "ts").alias("created_ms"))
    now = ev.agg(F.max("created_ms").alias("now_ms"))
    return (
        ev.crossJoin(F.broadcast(now))
        .filter(F.col("created_ms") + F.lit(_G3_REUSE_MS) >= F.col("now_ms"))
        .select("event_id", "created_ms")
    )


_G4_BUFFER_ROWS = 30


@query(
    "g4_buffer_trigger",
    oracle=f"""
WITH seq AS (
  SELECT event_id, user_id,
         CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT)
           AS arrival_seq,
         count(*) OVER (PARTITION BY user_id) AS n
  FROM events
)
SELECT event_id, user_id, arrival_seq
FROM seq WHERE arrival_seq <= n - {_G4_BUFFER_ROWS}
""",
)
def g4_buffer_trigger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G4 — buffer-pressure trigger (Generalizer.java:122-125, count
    semantics per SURVEY.md §2.5.4): with a {_G4_BUFFER_ROWS}-row buffer per
    user, the rows forced out by pressure are all but the {_G4_BUFFER_ROWS}
    newest — one window over the per-user arrival order, no self-join."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wn = Window.partitionBy("user_id")
    return (
        ev.select(
            "event_id",
            "user_id",
            F.row_number().over(w).cast("long").alias("arrival_seq"),
            F.count("*").over(wn).alias("n"),
        )
        .filter(F.col("arrival_seq") <= F.col("n") - _G4_BUFFER_ROWS)
        .select("event_id", "user_id", "arrival_seq")
    )


@query(
    "p4_arrival_enrich",
    oracle="""
SELECT event_id, epoch_ms(ts) AS arrival_ms,
       CAST(row_number() OVER (ORDER BY ts, event_id) AS BIGINT) AS arrival_seq
FROM events
""",
)
def p4_arrival_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4 — arrival enrichment (TransactionGeneralizationJob.java:58-61),
    deterministic event-time clock + dense arrival sequence."""
    ev = _events(spark, sf_dir)
    w = Window.orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        epoch_ms(ev, "ts").alias("arrival_ms"),
        F.row_number().over(w).cast("long").alias("arrival_seq"),
    )


def _utility_oracle() -> str:
    from pyfads import golden as _golden

    base = _golden.fads_generalize_events_oracle()
    return f"""
WITH rel AS ({base}),
u AS (
  SELECT 'user_id' AS qid, user_id_hi - user_id_lo AS w,
         user_id_lo AS lo, user_id_hi AS hi FROM rel
  UNION ALL
  SELECT 'value', value_hi - value_lo, value_lo, value_hi FROM rel
  UNION ALL
  SELECT 'ts_millis', ts_millis_hi - ts_millis_lo, ts_millis_lo, ts_millis_hi FROM rel
)
SELECT qid, CAST(count(*) AS BIGINT) AS n_released,
       min(w) AS min_width,
       quantile_cont(w, 0.5) AS median_width,
       max(w) AS max_width,
       CAST(sum(CASE WHEN w = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
       min(lo) AS global_lo, max(hi) AS global_hi
FROM u GROUP BY qid
"""


@query("fads_utility_report", oracle=_utility_oracle)
def fads_utility_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Utility (information-loss) report over the flagship FADS release —
    the k-anonymization literature's evaluation metric (narrower released
    intervals = more utility), computed per QID with only order-
    independent statistics (min/median/max widths, exact-release count,
    released envelope).  Oracle: the same aggregation over the golden
    FADS table."""
    from pyfads import FADSConfig, fads_generalize
    from pyfads.io import events_with_arrival

    released = fads_generalize(events_with_arrival(spark, sf_dir), FADSConfig())
    return P.utility_report(released)
