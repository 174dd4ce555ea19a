"""Event-time windowing operators: gap sessionization, tumbling/sliding
window aggregation, and as-of join.

These extend the reference's capability surface (its only notion of time is
the FADS arrival clock, ``Generalizer.java``) with the standard event-time
toolkit a training-data/telemetry pipeline needs.  Everything here is
expressed with Spark window functions and ``F.window``/``F.session_window``
so Catalyst plans them as single-shuffle hash-partitioned operators, and
each batch form has a bit-identical DuckDB oracle.

Scale notes (100 TB):
- :func:`sessionize` is ONE shuffle on the session key; the sort is
  within-partition (Spark's window exec spills).  A pathological single key
  owning a partition is inherent to per-key sessionization itself.
- :func:`tumbling_agg` / :func:`sliding_agg` are plain hash aggregations
  with map-side partial combine; a sliding window multiplies rows by
  ``width/slide`` BEFORE the shuffle (same as Flink's pane replication), so
  keep the ratio small or pre-aggregate per slide and roll up.
- :func:`asof_join` is the union+carry-forward formulation — one shuffle on
  the key, no range join, no point-in-interval explosion.  This is the shape
  a 1000-executor as-of join wants (sort-merge within partitions), unlike a
  ``BETWEEN`` theta-join which Spark can only nest-loop.

Float discipline (oracle parity): monetary sums go through integer cents
(``CAST(round(value * 100) AS BIGINT)``) so partial-agg order cannot change
the result; carried/min/max doubles are untouched (exact).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F

from pyfads.io import epoch_ms, read_table
from pyfads.queries import query

# ---------------------------------------------------------------------------
# Operators
# ---------------------------------------------------------------------------


def sessionize(
    df: DataFrame,
    key_cols: list[str],
    ts_ms_col: str,
    gap_ms: int,
    tiebreak_cols: list[str] | None = None,
    out_col: str = "session_seq",
) -> DataFrame:
    """Assign a per-key session sequence number: a new session starts when
    the gap to the previous event of the same key exceeds ``gap_ms``.

    Single shuffle (hash on ``key_cols``); the lag and the running count
    share one Window spec so Catalyst evaluates them in one WindowExec pass.
    """
    order = [ts_ms_col] + (tiebreak_cols or [])
    w = Window.partitionBy(*key_cols).orderBy(*order)
    prev = F.lag(ts_ms_col).over(w)
    new_sess = F.when(
        prev.isNull() | (F.col(ts_ms_col) - prev > F.lit(gap_ms)), F.lit(1)
    ).otherwise(F.lit(0))
    return df.withColumn(
        out_col,
        F.sum(new_sess)
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("bigint"),
    )


def sessionize_stream(
    stream: DataFrame,
    key_cols: list[str],
    ts_ms_col: str,
    gap_ms: int,
    tiebreak_cols: list[str] | None = None,
    out_col: str = "session_seq",
) -> DataFrame:
    """Streaming twin of :func:`sessionize`: per-EVENT session sequence
    labels on an unbounded stream via ``applyInPandasWithState``.

    State per key is exactly two longs — ``(last_ts_ms, session_seq)`` —
    so state size is independent of session length (the batch operator's
    whole-history window becomes an O(1) carry).  Events inside each
    micro-batch are sorted by ``(ts, tiebreaks)`` before labeling;
    cross-batch order is the source's contract (a replayed backfill with
    ordered chunks, or a watermark upstream that bounds disorder) — the
    parity test replays ordered chunks and asserts label-for-label
    equality with the batch operator.

    Scale shape: one shuffle on ``key_cols`` per micro-batch (the stateful
    exchange), identical key-partitioning to the batch WindowExec; no
    timeout is armed, so keys never flush — pair with a TTL'd state store
    or restart-from-batch for multi-month streams.
    """
    import pandas as pd

    from pyspark.sql import types as T
    from pyspark.sql.streaming.state import GroupStateTimeout

    order = [ts_ms_col] + (tiebreak_cols or [])
    out_schema = T.StructType(
        stream.schema.fields + [T.StructField(out_col, T.LongType())]
    )
    state_schema = T.StructType(
        [
            T.StructField("last_ts", T.LongType()),
            T.StructField("seq", T.LongType()),
        ]
    )
    out_cols = [f.name for f in out_schema.fields]

    def handler(key, pdf_iter, state):
        chunks = [p for p in pdf_iter if len(p)]
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True).sort_values(
            order, kind="mergesort"
        )
        if state.exists:
            last_ts, seq = state.get
        else:
            last_ts, seq = None, 0
        seqs = []
        for t in pdf[ts_ms_col]:
            t = int(t)
            if last_ts is None or t - last_ts > gap_ms:
                seq += 1
            seqs.append(seq)
            last_ts = t
        pdf[out_col] = pd.array(seqs, dtype="int64")
        state.update((int(last_ts), int(seq)))
        yield pdf[out_cols]

    return stream.groupBy(*key_cols).applyInPandasWithState(
        handler,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def session_stats(
    sessions: DataFrame,
    key_cols: list[str],
    ts_ms_col: str,
    session_col: str = "session_seq",
    cents_col: Column | None = None,
) -> DataFrame:
    """Collapse :func:`sessionize` output to one row per session.

    The groupBy re-shuffles on (key, session); with map-side partial
    aggregation the network volume is one row per session per map task.
    """
    aggs = [
        F.min(ts_ms_col).alias("start_ms"),
        F.max(ts_ms_col).alias("end_ms"),
        F.count(F.lit(1)).alias("n_events"),
    ]
    if cents_col is not None:
        aggs.append(F.sum(cents_col).alias("sum_cents"))
    return sessions.groupBy(*key_cols, session_col).agg(*aggs)


def _window_agg(
    df: DataFrame,
    ts_col: str,
    width: str,
    slide: str | None,
    key_cols: list[str],
    aggs: list[Column],
) -> DataFrame:
    ntz = dict(df.dtypes)[ts_col] == "timestamp_ntz"
    win = F.window(ts_col, width, slide) if slide else F.window(ts_col, width)
    grouped = df.groupBy(win.alias("win"), *key_cols).agg(*aggs)
    if ntz:
        ms = lambda f: F.expr(
            f"timestampdiff(MILLISECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', win.{f})"
        )
    else:
        ms = lambda f: F.unix_millis(F.col(f"win.{f}"))
    agg_cols = [c for c in grouped.columns if c != "win" and c not in key_cols]
    return grouped.select(
        ms("start").alias("win_start_ms"),
        ms("end").alias("win_end_ms"),
        *key_cols,
        *agg_cols,
    )


def tumbling_agg(
    df: DataFrame,
    ts_col: str,
    width: str,
    key_cols: list[str],
    aggs: list[Column],
) -> DataFrame:
    """Tumbling event-time windows via native ``F.window`` (works unchanged
    on a streaming DataFrame with a watermark).  Output keys the window by
    its epoch-ms start/end so downstream joins/oracles are tz-independent.
    """
    return _window_agg(df, ts_col, width, None, key_cols, aggs)


def sliding_agg(
    df: DataFrame,
    ts_col: str,
    width: str,
    slide: str,
    key_cols: list[str],
    aggs: list[Column],
) -> DataFrame:
    """Sliding windows via ``F.window(ts, width, slide)``.  Each row is
    replicated into ``width/slide`` panes before the shuffle — identical to
    the tumbling plan otherwise."""
    return _window_agg(df, ts_col, width, slide, key_cols, aggs)


def session_agg(
    df: DataFrame,
    ts_col: str,
    gap: str,
    key_cols: list[str],
    aggs: list[Column],
) -> DataFrame:
    """Gap-session aggregation via native ``F.session_window`` — Spark's
    built-in merging-session operator, so the SAME call works on a batch
    DataFrame and on a watermarked streaming DataFrame (where the state
    store merges/extends open sessions and the watermark finalizes them).

    Output keys each session by its epoch-ms span, like :func:`tumbling_agg`.
    Use :func:`sessionize` instead when per-EVENT session labels are needed
    (session_window emits one row per closed session, not per event).

    Scale shape: one shuffle on ``key_cols``; session merging happens
    inside the state/agg exec, never as a self-join.
    """
    ntz = dict(df.dtypes)[ts_col] == "timestamp_ntz"
    win = F.session_window(ts_col, gap)
    grouped = df.groupBy(win.alias("win"), *key_cols).agg(*aggs)
    if ntz:
        ms = lambda f: F.expr(
            f"timestampdiff(MILLISECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', win.{f})"
        )
    else:
        ms = lambda f: F.unix_millis(F.col(f"win.{f}"))
    agg_cols = [c for c in grouped.columns if c != "win" and c not in key_cols]
    return grouped.select(
        ms("start").alias("sess_start_ms"),
        ms("end").alias("sess_end_ms"),
        *key_cols,
        *agg_cols,
    )


def interval_join(
    left: DataFrame,
    right: DataFrame,
    key_cols: list[str],
    left_ts_col: str,
    right_ts_col: str,
    lower_ms: int,
    upper_ms: int,
) -> DataFrame:
    """Event-time interval join (Flink's `intervalJoin` shape): every
    (l, r) pair of the same key with
    ``l.ts + lower_ms <= r.ts <= l.ts + upper_ms``.

    Both ``*_ts_col`` must be TIMESTAMP columns (cast epoch-ms longs
    first): the range condition is built with interval arithmetic on the
    event-time columns so that on two watermarked streams Spark recognizes
    the canonical stream-stream interval join and evicts state once the
    other side's watermark passes ``ts + upper_ms``.  In batch the same
    condition is an equi-join on ``key_cols`` with the range as a residual
    predicate — a hash/sort-merge join on the key, NOT a nested-loop range
    join; the range only filters within key groups.

    Column discipline: ``key_cols`` appear once; all other columns keep
    their side's name (caller renames collisions first).
    """
    lk = [F.col(f"l.{c}") for c in key_cols]
    cond = None
    for c in key_cols:
        eq = F.col(f"l.{c}") == F.col(f"r.{c}")
        cond = eq if cond is None else cond & eq
    rng = F.expr(
        f"r.{right_ts_col} >= l.{left_ts_col} + INTERVAL {lower_ms} MILLISECONDS"
    ) & F.expr(f"r.{right_ts_col} <= l.{left_ts_col} + INTERVAL {upper_ms} MILLISECONDS")
    l_other = [c for c in left.columns if c not in key_cols]
    r_other = [c for c in right.columns if c not in key_cols]
    dup = set(l_other) & set(r_other)
    if dup:
        raise ValueError(f"rename colliding non-key columns first: {sorted(dup)}")
    return (
        left.alias("l")
        .join(right.alias("r"), cond & rng)
        .select(*lk, *[F.col(f"l.{c}") for c in l_other], *[F.col(f"r.{c}") for c in r_other])
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key_cols: list[str],
    ts_ms_col: str,
    value_cols: list[str],
    right_tiebreak: str | None = None,
    inclusive: bool = True,
) -> DataFrame:
    """As-of join: for each left row, the values of the latest right row of
    the same key with ``right.ts <= left.ts`` (``<`` when not inclusive).

    Implemented as the union + carry-forward formulation: tag the sides,
    union, and take ``last(value, ignorenulls)`` over one per-key ordered
    window — ONE shuffle on the key, within-partition sort, no range join.
    Right-side ties on ``ts`` resolve to the largest ``right_tiebreak``.

    Returns the left rows plus ``value_cols`` (null when no right row
    precedes).
    """
    lcols = left.columns
    # order within a key is (ts, __side, __rtb); left rows are __side=1, so
    # right rows at equal ts are included (side 0) or excluded (side 2)
    right_side = 0 if inclusive else 2
    l_tagged = left.select(
        *lcols,
        *[
            F.lit(None).cast(right.schema[v].dataType).alias(f"__r_{v}")
            for v in value_cols
        ],
        F.lit(1).alias("__side"),
        F.lit(-1).cast("bigint").alias("__rtb"),
    )
    r_tagged = right.select(
        *[
            F.lit(None).cast(left.schema[c].dataType).alias(c)
            for c in lcols
            if c not in key_cols + [ts_ms_col]
        ],
        *[F.col(k) for k in key_cols],
        F.col(ts_ms_col),
        *[F.col(v).alias(f"__r_{v}") for v in value_cols],
        F.lit(right_side).alias("__side"),
        (
            F.col(right_tiebreak).cast("bigint")
            if right_tiebreak
            else F.lit(0).cast("bigint")
        ).alias("__rtb"),
    ).select(*lcols, *[f"__r_{v}" for v in value_cols], "__side", "__rtb")
    unioned = l_tagged.unionByName(r_tagged)
    w = (
        Window.partitionBy(*key_cols)
        .orderBy(ts_ms_col, "__side", "__rtb")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = unioned.select(
        *lcols,
        F.col("__side"),
        *[F.last(f"__r_{v}", ignorenulls=True).over(w).alias(v) for v in value_cols],
    )
    return carried.where(F.col("__side") == 1).drop("__side")


# ---------------------------------------------------------------------------
# Registered queries (events table) + DuckDB oracles
# ---------------------------------------------------------------------------

_GAP_MS = 30 * 60 * 1000  # 30-minute session gap

_SESSIONIZE_SQL = f"""
SELECT event_id, user_id, epoch_ms(ts) AS ts_ms,
       CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS session_seq
FROM (
  SELECT event_id, user_id, ts,
         CASE WHEN lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) IS NULL
                OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) > {_GAP_MS}
              THEN 1 ELSE 0 END AS new_sess
  FROM events
)
"""


@query("sessionize_events", oracle=_SESSIONIZE_SQL)
def sessionize_events_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity) of events per user."""
    ev = read_table(spark, sf_dir, "events")
    ev = ev.select("event_id", "user_id", epoch_ms(ev, "ts").alias("ts_ms"))
    return sessionize(ev, ["user_id"], "ts_ms", _GAP_MS, tiebreak_cols=["event_id"])


_SESSION_STATS_SQL = f"""
WITH tagged AS (
  SELECT event_id, user_id, value, epoch_ms(ts) AS ts_ms,
         CASE WHEN lag(epoch_ms(ts)) OVER w IS NULL
                OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER w > {_GAP_MS}
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id)
), sess AS (
  SELECT user_id, value, ts_ms,
         CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS session_seq
  FROM tagged
)
SELECT user_id, session_seq,
       min(ts_ms) AS start_ms, max(ts_ms) AS end_ms,
       count(*) AS n_events,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
FROM sess GROUP BY user_id, session_seq
"""


@query("session_stats", oracle=_SESSION_STATS_SQL)
def session_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per user session: span, event count, integer-cents value sum."""
    ev = read_table(spark, sf_dir, "events")
    ev = ev.select(
        "event_id", "user_id", "value", epoch_ms(ev, "ts").alias("ts_ms")
    )
    sess = sessionize(ev, ["user_id"], "ts_ms", _GAP_MS, tiebreak_cols=["event_id"])
    return session_stats(
        sess,
        ["user_id"],
        "ts_ms",
        cents_col=F.round(F.col("value") * 100).cast("bigint"),
    )


_HOUR_MS = 3600 * 1000

_TUMBLING_SQL = f"""
SELECT (epoch_ms(ts) // {_HOUR_MS}) * {_HOUR_MS} AS win_start_ms,
       (epoch_ms(ts) // {_HOUR_MS}) * {_HOUR_MS} + {_HOUR_MS} AS win_end_ms,
       event_type,
       count(*) AS n_events,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
       count(DISTINCT user_id) AS n_users
FROM events
GROUP BY 1, 2, 3
"""


@query("window_tumbling", oracle=_TUMBLING_SQL)
def window_tumbling_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling-window counts per event_type via native F.window.

    The same ``tumbling_agg`` call runs unchanged on a watermarked stream
    (tests/test_windows.py proves batch == streaming-complete output).
    """
    ev = read_table(spark, sf_dir, "events")
    return tumbling_agg(
        ev,
        "ts",
        "1 hour",
        ["event_type"],
        [
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("sum_cents"),
            F.countDistinct("user_id").alias("n_users"),
        ],
    )


_SLIDE_MS = 15 * 60 * 1000

_SLIDING_SQL = f"""
SELECT (epoch_ms(e.ts) // {_SLIDE_MS}) * {_SLIDE_MS} - k.k * {_SLIDE_MS} AS win_start_ms,
       (epoch_ms(e.ts) // {_SLIDE_MS}) * {_SLIDE_MS} - k.k * {_SLIDE_MS} + {_HOUR_MS} AS win_end_ms,
       e.event_type,
       count(*) AS n_events
FROM events e CROSS JOIN (SELECT unnest(range(4)) AS k) k
GROUP BY 1, 2, 3
"""


@query("window_sliding", oracle=_SLIDING_SQL)
def window_sliding_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour windows sliding every 15 min: each event lands in 4 panes."""
    ev = read_table(spark, sf_dir, "events")
    return sliding_agg(
        ev,
        "ts",
        "1 hour",
        "15 minutes",
        ["event_type"],
        [F.count(F.lit(1)).alias("n_events")],
    )


_ASOF_SQL = """
WITH u AS (
  SELECT event_id, user_id, epoch_ms(ts) AS ts_ms, 1 AS side,
         CAST(NULL AS DOUBLE) AS err_value, CAST(NULL AS BIGINT) AS rtb
  FROM events
  UNION ALL
  SELECT CAST(NULL AS BIGINT), user_id, epoch_ms(ts), 0,
         value, event_id
  FROM events WHERE event_type = 'error'
), carried AS (
  SELECT event_id, user_id, ts_ms, side,
         last_value(err_value IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY ts_ms, side, rtb
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_error_value
  FROM u
)
SELECT event_id, user_id, ts_ms, last_error_value
FROM carried WHERE side = 1
"""


@query("asof_join_events", oracle=_ASOF_SQL)
def asof_join_events_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each event annotated with the value of the latest
    'error' event at-or-before it for the same user (union+carry-forward,
    one shuffle — see :func:`asof_join`)."""
    ev = read_table(spark, sf_dir, "events")
    ev_ms = ev.select("event_id", "user_id", epoch_ms(ev, "ts").alias("ts_ms"))
    errors = ev.where(F.col("event_type") == "error").select(
        "user_id",
        epoch_ms(ev, "ts").alias("ts_ms"),
        F.col("value").alias("last_error_value"),
        "event_id",
    )
    return asof_join(
        ev_ms,
        errors,
        ["user_id"],
        "ts_ms",
        ["last_error_value"],
        right_tiebreak="event_id",
        inclusive=True,
    )


# --------------------------------------------------------------------------
# Funnel conversion (A followed by B within a horizon) and cohort retention
# --------------------------------------------------------------------------


def funnel_next_event(
    df: DataFrame,
    from_type: str,
    to_type: str,
    horizon_ms: int,
    ts_ms_col: str = "ts_ms",
    user_col: str = "user_id",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """Per ``from_type`` event, the timestamp of the user's next
    ``to_type`` event and whether it lands within ``horizon_ms`` — the
    funnel-conversion primitive, computed WITHOUT a self-join: tag
    ``to_type`` rows' timestamps into a column and take ``min`` over the
    forward window (1 FOLLOWING .. UNBOUNDED), so one shuffle on the user
    key covers every A-event.  min() is order-insensitive, so intra-ms
    ties can't change the answer; rows are totally ordered by
    (ts, event id) for cross-engine determinism."""
    to_ms = F.when(F.col(type_col) == to_type, F.col(ts_ms_col))
    w = (
        Window.partitionBy(user_col)
        .orderBy(ts_ms_col, id_col)
        .rowsBetween(1, Window.unboundedFollowing)
    )
    nxt = F.min(to_ms).over(w)
    return (
        df.withColumn("next_to_ms", nxt)
        .filter(F.col(type_col) == from_type)
        .select(
            id_col,
            user_col,
            ts_ms_col,
            "next_to_ms",
            (
                F.col("next_to_ms").isNotNull()
                & (F.col("next_to_ms") - F.col(ts_ms_col) <= horizon_ms)
            ).alias("converted"),
        )
    )


def cohort_retention(
    df: DataFrame,
    ts_ms_col: str = "ts_ms",
    user_col: str = "user_id",
    week_ms: int = 7 * 86_400_000,
) -> DataFrame:
    """Weekly cohort retention: users grouped by first-activity week,
    counted per week offset they were active in.  Three map-side-combined
    aggregates (first week per user; distinct user-weeks; cohort x offset
    counts) — the user table never fans out, all integer arithmetic."""
    # integer div, not double `/`: a double quotient can round up across an
    # integer boundary and disagree with the oracle's BIGINT floor-div
    wk = F.expr(f"{ts_ms_col} div {week_ms}")
    uw = df.select(F.col(user_col), wk.alias("week")).distinct()
    first = uw.groupBy(user_col).agg(F.min("week").alias("cohort_week"))
    return (
        uw.join(first, user_col)
        .groupBy("cohort_week", (F.col("week") - F.col("cohort_week")).alias("week_offset"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_active_users"))
    )


_FUNNEL_SQL = """
WITH e AS (
  SELECT event_id, user_id, event_type, epoch_ms(ts) AS ts_ms FROM events
),
n AS (
  SELECT event_id, user_id, event_type, ts_ms,
         min(CASE WHEN event_type = 'purchase' THEN ts_ms END)
             OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
                   ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
             AS next_to_ms
  FROM e
)
SELECT event_id, user_id, ts_ms, next_to_ms,
       (next_to_ms IS NOT NULL AND next_to_ms - ts_ms <= 3600000) AS converted
FROM n WHERE event_type = 'click'
"""


@query("funnel_click_purchase", oracle=_FUNNEL_SQL)
def funnel_click_purchase_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Click → purchase within 1 hour, per click event — forward-window
    min, no self-join."""
    ev = read_table(spark, sf_dir, "events")
    base = ev.select(
        "event_id", "user_id", "event_type", epoch_ms(ev, "ts").alias("ts_ms")
    )
    return funnel_next_event(base, "click", "purchase", 3_600_000)


_RETENTION_SQL = """
WITH uw AS (
  SELECT DISTINCT user_id, CAST(epoch_ms(ts) // 604800000 AS BIGINT) AS week
  FROM events
),
first AS (SELECT user_id, min(week) AS cohort_week FROM uw GROUP BY user_id)
SELECT cohort_week, week - cohort_week AS week_offset,
       CAST(count(*) AS BIGINT) AS n_active_users
FROM uw JOIN first USING (user_id)
GROUP BY cohort_week, week - cohort_week
"""


@query("cohort_retention", oracle=_RETENTION_SQL)
def cohort_retention_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort x offset active-user counts over the events feed."""
    ev = read_table(spark, sf_dir, "events")
    base = ev.select("user_id", epoch_ms(ev, "ts").alias("ts_ms"))
    return cohort_retention(base)


_INTERVAL_JOIN_SQL = """
SELECT c.user_id, c.event_id AS click_id, epoch_ms(c.ts) AS click_ms,
       p.event_id AS purchase_id, epoch_ms(p.ts) AS purchase_ms
FROM events c JOIN events p ON c.user_id = p.user_id
WHERE c.event_type = 'click' AND p.event_type = 'purchase'
  AND epoch_ms(p.ts) >= epoch_ms(c.ts)
  AND epoch_ms(p.ts) <= epoch_ms(c.ts) + 3600000
"""


@query("interval_join_events", oracle=_INTERVAL_JOIN_SQL)
def interval_join_events_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALL click->purchase pairs within 1 hour per user via
    :func:`interval_join` (vs ``funnel_click_purchase``, which keeps only
    the FIRST conversion).  The same call on two watermarked streams is
    Spark's stream-stream interval join —
    tests/test_windows.py::test_interval_join_stream_equals_batch."""
    ev = read_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), F.col("ts").alias("c_ts")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), F.col("ts").alias("p_ts")
    )
    joined = interval_join(
        clicks, purchases, ["user_id"], "c_ts", "p_ts", 0, 3_600_000
    )
    return joined.select(
        "user_id",
        "click_id",
        epoch_ms(joined, "c_ts").alias("click_ms"),
        "purchase_id",
        epoch_ms(joined, "p_ts").alias("purchase_ms"),
    )


# session_window emits (first_ts, last_ts + gap) per closed session; the
# oracle re-derives the same spans from gap sessionization + group-by-label.
_SESSION_WINDOW_SQL = f"""
WITH lab AS (
  SELECT user_id, ts_ms, value,
         CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS session_seq
  FROM (
    SELECT event_id, user_id, value, epoch_ms(ts) AS ts_ms,
           CASE WHEN lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) IS NULL
                  OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) > {_GAP_MS}
                THEN 1 ELSE 0 END AS new_sess
    FROM events
  )
)
SELECT min(ts_ms) AS sess_start_ms, max(ts_ms) + {_GAP_MS} AS sess_end_ms,
       user_id,
       count(*) AS n_events,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
FROM lab GROUP BY user_id, session_seq
"""


@query("session_window_agg", oracle=_SESSION_WINDOW_SQL)
def session_window_agg_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user 30-minute gap sessions via NATIVE ``F.session_window`` —
    the streaming-ready twin of ``sessionize_events`` (the same
    :func:`session_agg` call runs on a watermarked readStream; proven in
    tests/test_windows.py::test_session_agg_stream_equals_batch)."""
    ev = read_table(spark, sf_dir, "events")
    return session_agg(
        ev,
        "ts",
        "30 minutes",
        ["user_id"],
        [
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("sum_cents"),
        ],
    )


@query("session_window_streamed", oracle=_SESSION_WINDOW_SQL)
def session_window_streamed_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """session_window_agg driven as a REAL Structured Streaming query: the
    native merging-session operator over a watermarked chunked-parquet
    stream (ts-quantile chunks, maxFilesPerTrigger=1 -> one micro-batch
    per chunk; open sessions merge/extend through the state store across
    batch boundaries).  Complete output mode + availableNow trigger so the
    final sessions the watermark never passes are still emitted (the
    test_windows._run_stream_to_memory pattern); the oracle is the SAME
    gaps-and-islands SQL as the batch twin — session contents are
    micro-batch-invariant."""
    from pyfads.curation_queries import _events_ts_source
    from pyfads.streamrun import _scratch_dir, run_to_completion

    src, _n_rows = _events_ts_source(spark, sf_dir)
    src = src.withColumn("ts", F.col("ts").cast("timestamp")).withWatermark(
        "ts", "2 hours"
    )
    agg = session_agg(
        src,
        "ts",
        "30 minutes",
        ["user_id"],
        [
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("sum_cents"),
        ],
    )
    name = "session_window_streamed_sink"
    # deliberately NOT wrapped in stream_shuffle_scope: the merging session
    # agg is sort/merge COMPUTE per batch (complete mode re-emits all
    # sessions each trigger), so it wants the session's full parallelism —
    # measured 4.4 s at 32 state partitions vs 7.5 s at the volume-derived
    # 2 (OPTIMIZATION_r12.md); the store-I/O saving is dwarfed by the lost
    # sort parallelism here, unlike the key-bounded FADS/packing streams
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", _scratch_dir("pyfads_swck_"))
        .trigger(availableNow=True)
        .start()
    )
    run_to_completion(q)
    return spark.table(name)


def event_transitions(
    df: DataFrame,
    ts_ms_col: str = "ts_ms",
    user_col: str = "user_id",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """First-order Markov transition matrix over per-user event sequences:
    for each ordered (prev_type -> type) bigram, the transition count, the
    total out-count of ``prev_type``, and the transition probability.

    The probability is ``n_trans / n_from`` as ONE division of two exact
    integers — deterministic to the ulp on any engine (no running float
    sums).  Sequences are totally ordered by (ts, event id), so intra-ms
    ties cannot flip a bigram between engines.

    Scale shape: one shuffle on the user key for the lag window, then two
    map-side-combined aggregates on the (tiny) type-pair key space.  The
    user-sequence window never materializes whole sequences — lag(1) is
    constant memory per row.
    """
    w = Window.partitionBy(user_col).orderBy(ts_ms_col, id_col)
    bi = (
        df.withColumn("prev_type", F.lag(type_col).over(w))
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col(type_col).alias("next_type"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_trans"))
    )
    out_tot = bi.groupBy("prev_type").agg(
        F.sum("n_trans").cast("long").alias("n_from")
    )
    return bi.join(out_tot, "prev_type").select(
        "prev_type",
        "next_type",
        "n_trans",
        "n_from",
        (F.col("n_trans").cast("double") / F.col("n_from").cast("double")).alias(
            "p_trans"
        ),
    )


_TRANSITIONS_SQL = """
WITH e AS (
  SELECT event_id, user_id, event_type, epoch_ms(ts) AS ts_ms FROM events
),
b AS (
  SELECT lag(event_type) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id)
           AS prev_type,
         event_type AS next_type
  FROM e
),
bi AS (
  SELECT prev_type, next_type, CAST(count(*) AS BIGINT) AS n_trans
  FROM b WHERE prev_type IS NOT NULL GROUP BY prev_type, next_type
),
tot AS (
  SELECT prev_type, CAST(sum(n_trans) AS BIGINT) AS n_from
  FROM bi GROUP BY prev_type
)
SELECT bi.prev_type, bi.next_type, bi.n_trans, tot.n_from,
       CAST(bi.n_trans AS DOUBLE) / CAST(tot.n_from AS DOUBLE) AS p_trans
FROM bi JOIN tot USING (prev_type)
"""


@query("event_transitions", oracle=_TRANSITIONS_SQL)
def event_transitions_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov transition matrix of user event sequences (lag-1 bigrams;
    exact integer counts, single-division probabilities)."""
    ev = read_table(spark, sf_dir, "events")
    base = ev.select(
        "event_id", "user_id", "event_type", epoch_ms(ev, "ts").alias("ts_ms")
    )
    return event_transitions(base)


def funnel_three_step(
    df: DataFrame,
    steps: "tuple[str, str, str]" = ("view", "click", "purchase"),
    horizon_ms: int = 3_600_000,
    ts_ms_col: str = "ts_ms",
    user_col: str = "user_id",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """Three-step funnel (the windowFunnel shape): for each step-1 event,
    the user's EARLIEST step-2 event after it, then the earliest step-3
    event after THAT, all within ``horizon_ms`` of step 1.  Emits the
    reached ``funnel_level`` (1..3) per step-1 event.

    Unlike :func:`funnel_next_event` (a window over the user stream),
    step 3 is anchored on step 2's timestamp — a row-dependent bound no
    window frame can express — so each hop is a user-keyed equi-join with
    a range predicate + a min aggregation (earliest match; min is
    order-insensitive, deterministic under ties by construction).

    Scale shape: two shuffles on the user key (same class as the as-of /
    interval joins); each join's probe side is only the step-1/step-2
    rows, never the full stream, and the range predicate bounds fan-out
    by the per-user event rate within the horizon.
    """
    s1, s2, s3 = steps
    base = df.select(id_col, user_col, type_col, ts_ms_col)
    v = base.filter(F.col(type_col) == s1).select(
        id_col, user_col, F.col(ts_ms_col).alias("step1_ms")
    )
    c = base.filter(F.col(type_col) == s2).select(
        F.col(user_col), F.col(ts_ms_col).alias("__c_ms")
    )
    p = base.filter(F.col(type_col) == s3).select(
        F.col(user_col), F.col(ts_ms_col).alias("__p_ms")
    )
    # range predicates live IN the join condition: a post-join filter
    # would drop step-1 events whose user has only OUT-of-window matches
    # (left-join rows all filtered away) instead of keeping them at NULL
    c = c.withColumnRenamed(user_col, "__cu")
    hop1 = (
        v.join(
            c,
            (F.col(user_col) == F.col("__cu"))
            & (F.col("__c_ms") > F.col("step1_ms"))
            & (F.col("__c_ms") <= F.col("step1_ms") + horizon_ms),
            "left",
        )
        .groupBy(id_col, user_col, "step1_ms")
        .agg(F.min("__c_ms").alias("step2_ms"))
    )
    p = p.withColumnRenamed(user_col, "__pu")
    hop2 = (
        hop1.join(
            p,
            (F.col(user_col) == F.col("__pu"))
            & (F.col("__p_ms") > F.col("step2_ms"))
            & (F.col("__p_ms") <= F.col("step1_ms") + horizon_ms),
            "left",
        )
        .groupBy(id_col, user_col, "step1_ms", "step2_ms")
        .agg(F.min("__p_ms").alias("step3_ms"))
    )
    level = (
        F.lit(1)
        + F.col("step2_ms").isNotNull().cast("int")
        + F.col("step3_ms").isNotNull().cast("int")
    )
    return hop2.select(
        id_col,
        user_col,
        "step1_ms",
        "step2_ms",
        "step3_ms",
        level.cast("long").alias("funnel_level"),
    )


_FUNNEL3_SQL = """
WITH e AS (
  SELECT event_id, user_id, event_type, epoch_ms(ts) AS ts_ms FROM events
),
v AS (SELECT event_id, user_id, ts_ms AS step1_ms FROM e WHERE event_type = 'view'),
c AS (SELECT user_id, ts_ms AS c_ms FROM e WHERE event_type = 'click'),
p AS (SELECT user_id, ts_ms AS p_ms FROM e WHERE event_type = 'purchase'),
h1 AS (
  SELECT v.event_id, v.user_id, v.step1_ms, min(c.c_ms) AS step2_ms
  FROM v LEFT JOIN c ON c.user_id = v.user_id
     AND c.c_ms > v.step1_ms AND c.c_ms <= v.step1_ms + 3600000
  GROUP BY v.event_id, v.user_id, v.step1_ms
),
h2 AS (
  SELECT h1.event_id, h1.user_id, h1.step1_ms, h1.step2_ms,
         min(p.p_ms) AS step3_ms
  FROM h1 LEFT JOIN p ON p.user_id = h1.user_id
     AND p.p_ms > h1.step2_ms AND p.p_ms <= h1.step1_ms + 3600000
  GROUP BY h1.event_id, h1.user_id, h1.step1_ms, h1.step2_ms
)
SELECT event_id, user_id, step1_ms, step2_ms, step3_ms,
       CAST(1 + CASE WHEN step2_ms IS NOT NULL THEN 1 ELSE 0 END
              + CASE WHEN step3_ms IS NOT NULL THEN 1 ELSE 0 END
            AS BIGINT) AS funnel_level
FROM h2
"""


@query("funnel_three_step", oracle=_FUNNEL3_SQL)
def funnel_three_step_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """view -> click -> purchase funnel within 1 hour of the view, step 3
    anchored on the EARLIEST qualifying click (the windowFunnel shape) —
    per-view funnel_level 1..3 via two user-keyed range joins."""
    ev = read_table(spark, sf_dir, "events")
    base = ev.select(
        "event_id", "user_id", "event_type", epoch_ms(ev, "ts").alias("ts_ms")
    )
    return funnel_three_step(base)


def event_trigrams(
    df: DataFrame,
    ts_ms_col: str = "ts_ms",
    user_col: str = "user_id",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """Second-order sequence mining: per-user (t2, t1, next) event-type
    trigrams with the conditional probability P(next | t2, t1) =
    n_tri / n_prefix as one exact-integer division — the order-2 Markov
    extension of :func:`event_transitions` (which order-1 models cannot
    distinguish, e.g. error->click->purchase vs view->click->purchase).

    Scale: same single user-key window shuffle (two lags share one
    WindowExec pass), then two map-side-combined aggregates on the tiny
    type-triple key space."""
    w = Window.partitionBy(user_col).orderBy(ts_ms_col, id_col)
    tri = (
        df.withColumn("t2", F.lag(type_col, 2).over(w))
        .withColumn("t1", F.lag(type_col, 1).over(w))
        .filter(F.col("t2").isNotNull())
        .groupBy("t2", "t1", F.col(type_col).alias("next_type"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_tri"))
    )
    prefix = tri.groupBy("t2", "t1").agg(
        F.sum("n_tri").cast("long").alias("n_prefix")
    )
    return tri.join(prefix, ["t2", "t1"]).select(
        "t2",
        "t1",
        "next_type",
        "n_tri",
        "n_prefix",
        (F.col("n_tri").cast("double") / F.col("n_prefix").cast("double")).alias(
            "p_next"
        ),
    )


_TRIGRAMS_SQL = """
WITH e AS (
  SELECT event_id, user_id, event_type, epoch_ms(ts) AS ts_ms FROM events
),
l AS (
  SELECT lag(event_type, 2) OVER (PARTITION BY user_id
                                  ORDER BY ts_ms, event_id) AS t2,
         lag(event_type, 1) OVER (PARTITION BY user_id
                                  ORDER BY ts_ms, event_id) AS t1,
         event_type AS next_type
  FROM e
),
tri AS (
  SELECT t2, t1, next_type, CAST(count(*) AS BIGINT) AS n_tri
  FROM l WHERE t2 IS NOT NULL GROUP BY t2, t1, next_type
),
pre AS (
  SELECT t2, t1, CAST(sum(n_tri) AS BIGINT) AS n_prefix
  FROM tri GROUP BY t2, t1
)
SELECT tri.t2, tri.t1, tri.next_type, tri.n_tri, pre.n_prefix,
       CAST(tri.n_tri AS DOUBLE) / CAST(pre.n_prefix AS DOUBLE) AS p_next
FROM tri JOIN pre USING (t2, t1)
"""


@query("event_trigrams", oracle=_TRIGRAMS_SQL)
def event_trigrams_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-2 Markov trigrams of user event sequences with exact
    conditional next-event probabilities."""
    ev = read_table(spark, sf_dir, "events")
    base = ev.select(
        "event_id", "user_id", "event_type", epoch_ms(ev, "ts").alias("ts_ms")
    )
    return event_trigrams(base)


_SESSION_OUTLIERS_SQL = f"""
WITH tagged AS (
  SELECT event_id, user_id, epoch_ms(ts) AS ts_ms,
         CASE WHEN lag(epoch_ms(ts)) OVER w IS NULL
                OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER w > {_GAP_MS}
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id)
), sess AS (
  SELECT user_id, ts_ms,
         CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS session_seq
  FROM tagged
), s AS (
  SELECT user_id, session_seq,
         CAST(max(ts_ms) - min(ts_ms) AS BIGINT) AS duration_ms,
         CAST(count(*) AS BIGINT) AS n_events
  FROM sess GROUP BY user_id, session_seq
), med AS (SELECT quantile_cont(duration_ms, 0.5) AS med_ms FROM s),
dev AS (
  SELECT s.*, abs(s.duration_ms - med.med_ms) AS adev, med.med_ms
  FROM s, med
),
mad AS (SELECT quantile_cont(adev, 0.5) AS mad_ms FROM dev)
SELECT d.user_id, d.session_seq, d.duration_ms, d.n_events,
       d.med_ms, mad.mad_ms
FROM dev d, mad
WHERE d.adev > '4.4478'::DOUBLE * mad.mad_ms
"""


@query("session_outliers", oracle=_SESSION_OUTLIERS_SQL)
def session_outliers_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anomalously long/short user sessions by the median/MAD rule over
    integer session durations (composition: sessionize -> per-session
    span -> robust threshold, same 3*1.4826 consistency constant as
    robust_outliers).  Two percentile aggs over the session frame, tiny
    1-row med/MAD frames broadcast back — sessions never reshuffle."""
    ev = read_table(spark, sf_dir, "events")
    base = ev.select("event_id", "user_id", epoch_ms(ev, "ts").alias("ts_ms"))
    sess = sessionize(base, ["user_id"], "ts_ms", _GAP_MS, tiebreak_cols=["event_id"])
    s = sess.groupBy("user_id", "session_seq").agg(
        (F.max("ts_ms") - F.min("ts_ms")).cast("long").alias("duration_ms"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
    )
    med = s.agg(F.percentile("duration_ms", F.lit(0.5)).alias("med_ms"))
    dev = s.crossJoin(F.broadcast(med)).withColumn(
        "adev", F.abs(F.col("duration_ms") - F.col("med_ms"))
    )
    mad = dev.agg(F.percentile("adev", F.lit(0.5)).alias("mad_ms"))
    return (
        dev.crossJoin(F.broadcast(mad))
        .filter(F.col("adev") > F.lit(4.4478) * F.col("mad_ms"))
        .select(
            "user_id", "session_seq", "duration_ms", "n_events", "med_ms", "mad_ms"
        )
    )
