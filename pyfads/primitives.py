"""The Generalizer's intra-operator relational primitives as pure DataFrame
functions (SURVEY.md §2.2, G2-G11).

These are the reference's "query capabilities" extracted from its stateful
loop and re-expressed declaratively so Catalyst can optimize them (pushdown,
pruning, broadcast selection).  Each function documents the reference
file:line it mirrors and its 100 TB execution shape.
"""

from __future__ import annotations

from functools import reduce
from operator import and_

from pyspark.sql import DataFrame, Window, functions as F

__all__ = [
    "global_bounds",
    "running_bounds",
    "cluster_box",
    "fits_join",
    "with_info_loss",
    "best_fitting_cluster",
    "knn_in_groups",
    "generalize_projection",
    "suppress_projection",
    "utility_report",
    "kanon_audit",
    "ldiversity_audit",
    "tcloseness_audit",
]


def global_bounds(df: DataFrame, qid_cols: list[str]) -> DataFrame:
    """G2 — global per-QID min/max (Generalizer.java:107-115) as a 1-row
    frame with ``<col>_lo``/``<col>_hi``.

    Scale: a full partial-aggregated (map-side combined) agg; the 1-row
    result is broadcast wherever it is joined downstream.
    """
    aggs = []
    for c in qid_cols:
        aggs.append(F.min(c).alias(f"{c}_lo"))
        aggs.append(F.max(c).alias(f"{c}_hi"))
    return df.agg(*aggs)


def running_bounds(
    df: DataFrame, qid_cols: list[str], order_cols: list[str]
) -> DataFrame:
    """G2 (running form) — bounds *as of each arrival* (the state the
    reference holds after Generalizer.java:107-115 for every element).

    Scale: a single global ordering is inherently one-partition; use only on
    streams that are already per-key partitioned (then Window.partitionBy
    keeps it parallel).
    """
    w = (
        Window.orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = df
    for c in qid_cols:
        out = out.withColumn(f"{c}_running_lo", F.min(c).over(w))
        out = out.withColumn(f"{c}_running_hi", F.max(c).over(w))
    return out


def cluster_box(df: DataFrame, group_cols: list[str], qid_cols: list[str]) -> DataFrame:
    """G6 — per-group axis-aligned bounding box (Cluster.java:18-52).

    Scale: hash-partitioned agg with map-side combine; no skew risk beyond
    the group-key distribution.
    """
    aggs = []
    for c in qid_cols:
        aggs.append(F.min(c).alias(f"{c}_lo"))
        aggs.append(F.max(c).alias(f"{c}_hi"))
    return df.groupBy(*group_cols).agg(*aggs)


def _fits_pred(tuples_alias: str, qid_cols: list[str]):
    """Strict range containment (Cluster.java:55-62): lo < x < hi for ALL
    QIDs — boundary values do NOT fit."""
    return reduce(
        and_,
        [
            (F.col(f"{tuples_alias}.{c}") > F.col(f"{c}_lo"))
            & (F.col(f"{tuples_alias}.{c}") < F.col(f"{c}_hi"))
            for c in qid_cols
        ],
    )


def fits_join(tuples: DataFrame, clusters: DataFrame, qid_cols: list[str]) -> DataFrame:
    """G7 — (tuple, cluster) pairs where the tuple strictly fits the
    cluster's box (Cluster.java:55-62).

    Scale: theta-join; the clusters side is the small one (bounded cluster
    cache) → broadcast it so the probe is a map-side BroadcastNestedLoopJoin,
    no shuffle of the big side.
    """
    return tuples.alias("t").join(
        F.broadcast(clusters), on=_fits_pred("t", qid_cols), how="inner"
    )


def with_info_loss(
    clusters: DataFrame, bounds: DataFrame, qid_cols: list[str], out_col: str = "info_loss"
) -> DataFrame:
    """G8 — infoLoss = mean over QIDs of (hi-lo)/(global_hi-global_lo)
    (Cluster.java:79-85), guarding the zero-global-range division
    (SURVEY.md §2.5.6: a zero global range contributes 0).

    ``bounds`` is the 1-row global_bounds frame; it is broadcast.
    """
    joined = clusters.join(F.broadcast(bounds.select(
        *[F.col(f"{c}_lo").alias(f"__g_{c}_lo") for c in qid_cols],
        *[F.col(f"{c}_hi").alias(f"__g_{c}_hi") for c in qid_cols],
    )))
    terms = [
        F.when(
            F.col(f"__g_{c}_hi") > F.col(f"__g_{c}_lo"),
            (F.col(f"{c}_hi") - F.col(f"{c}_lo"))
            / (F.col(f"__g_{c}_hi") - F.col(f"__g_{c}_lo")),
        ).otherwise(F.lit(0.0))
        for c in qid_cols
    ]
    il = reduce(lambda a, b: a + b, terms) / F.lit(float(len(qid_cols)))
    return joined.withColumn(out_col, il).drop(
        *[f"__g_{c}_lo" for c in qid_cols], *[f"__g_{c}_hi" for c in qid_cols]
    )


def best_fitting_cluster(
    tuples: DataFrame,
    clusters_with_il: DataFrame,
    qid_cols: list[str],
    tuple_id_cols: list[str],
    tiebreak_cols: list[str],
    il_col: str = "info_loss",
) -> DataFrame:
    """G9 — per tuple, the fitting cluster with minimal infoLoss
    (Generalizer.java:230-243); deterministic tie-break on ``tiebreak_cols``
    (which must make (il, tiebreaks) unique per tuple — in FADS they are
    the cluster key).  Output columns: tuple ids, the remaining tuple
    columns, then every cluster column.

    Scale: broadcast theta-join (the cluster cache is bounded) feeding a
    per-tuple ``row_number`` + rank=1 filter — Spark plans it as
    WindowGroupLimit, so each map task keeps one candidate per tuple BEFORE
    the exchange; the residual sort is over <=1 row per tuple per task.
    """
    clash = set(tuples.columns) & set(clusters_with_il.columns)
    if clash:
        raise ValueError(f"ambiguous columns between tuples and clusters: {clash}")
    pairs = tuples.alias("t").join(
        F.broadcast(clusters_with_il), on=_fits_pred("t", qid_cols), how="inner"
    )
    t_other = [c for c in tuples.columns if c not in tuple_id_cols]
    out_cols = [
        *[F.col(f"t.{c}").alias(c) for c in tuple_id_cols],
        *[F.col(f"t.{c}").alias(c) for c in t_other],
        *[F.col(c) for c in clusters_with_il.columns],
    ]
    w = Window.partitionBy(*[F.col(f"t.{c}") for c in tuple_id_cols]).orderBy(
        F.col(il_col), *[F.col(c) for c in tiebreak_cols]
    )
    return (
        pairs.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(*out_cols)
    )


def knn_in_groups(
    df: DataFrame,
    group_cols: list[str],
    id_col: str,
    qid_cols: list[str],
    bounds: DataFrame,
    k: int,
) -> DataFrame:
    """G5 — per-pivot top-k nearest neighbours by the FADS distance:
    mean over QIDs of abs(x-pivot)/(global_hi-global_lo)
    (Generalizer.java:193-227 + :342-365, *intended* formula per
    SURVEY.md §2.5.1-2).  Neighbour search is blocked by ``group_cols`` —
    the relational analogue of the reference's bounded (<=30-row) buffer.
    Ties break on (distance, neighbour id), so ranking is deterministic.

    Contract: every ``group_cols`` group is bounded (in FADS, the buffer of
    <= 30 rows) — the whole group is collected into one array row.

    Shape: groupBy(collect_list(struct)) — one hash shuffle with no
    map-side blowup — then explode pivots, compute the neighbour distances
    with ``transform`` over the group array, ``array_sort`` (struct
    ordering = (dist, neighbor_id) — exactly the tie-break), ``slice`` the
    top-k, and ``posexplode`` into ranked rows.  The pair 'table' never
    exists as rows, so there is no second shuffle and no pair-level sort.
    """
    gb = F.broadcast(
        bounds.select(
            *[F.col(f"{c}_lo").alias(f"__g_{c}_lo") for c in qid_cols],
            *[F.col(f"{c}_hi").alias(f"__g_{c}_hi") for c in qid_cols],
        )
    )
    rows = F.struct(F.col(id_col).alias("id"), *[F.col(c) for c in qid_cols])
    grouped = (
        df.groupBy(*group_cols).agg(F.collect_list(rows).alias("__rows")).join(gb)
    )
    # pivot on DISTINCT ids: rows sharing an id merge into one ranked
    # neighbour list (a duplicated id pools its pairs)
    pivoted = grouped.select(
        *group_cols, "__rows",
        *[F.col(f"__g_{c}_lo") for c in qid_cols],
        *[F.col(f"__g_{c}_hi") for c in qid_cols],
        F.explode(
            F.array_distinct(F.transform("__rows", lambda r: r["id"]))
        ).alias("__pid"),
    )

    def _dist(p, r):
        terms = [
            F.when(
                F.col(f"__g_{c}_hi") > F.col(f"__g_{c}_lo"),
                F.abs(r[c] - p[c])
                / (F.col(f"__g_{c}_hi") - F.col(f"__g_{c}_lo")),
            ).otherwise(F.lit(0.0))
            for c in qid_cols
        ]
        return reduce(lambda a, b: a + b, terms) / F.lit(float(len(qid_cols)))

    prows = F.filter(F.col("__rows"), lambda r: r["id"] == F.col("__pid"))
    nrows = F.filter(F.col("__rows"), lambda r: r["id"] != F.col("__pid"))
    pairs = F.flatten(
        F.transform(
            prows,
            lambda p: F.transform(
                nrows,
                lambda r: F.struct(
                    _dist(p, r).alias("dist"), r["id"].alias("neighbor_id")
                ),
            ),
        )
    )
    topk = F.slice(F.array_sort(pairs), 1, k)
    return pivoted.select(
        *group_cols,
        F.col("__pid").alias("pivot_id"),
        F.posexplode(topk).alias("__pos", "__nn"),
    ).select(
        *group_cols,
        "pivot_id",
        F.col("__nn")["neighbor_id"].alias("neighbor_id"),
        F.col("__nn")["dist"].alias("dist"),
        (F.col("__pos") + 1).alias("rank"),
    )


def generalize_projection(
    df: DataFrame, clusters: DataFrame, join_cols: list[str], qid_cols: list[str]
) -> DataFrame:
    """G10 — replace each QID with its cluster's (lo, hi) interval, non-QIDs
    pass through (Cluster.java:65-77; flattened struct per SURVEY.md §7.4.3).

    Scale: equi-join on the cluster key — broadcastable when the cluster set
    is small, otherwise a co-partitioned shuffle join.
    """
    out_cols = []
    for c in df.columns:
        if c in qid_cols:
            out_cols += [F.col(f"{c}_lo"), F.col(f"{c}_hi")]
        else:
            out_cols.append(F.col(f"t.{c}"))
    return df.alias("t").join(clusters, on=join_cols).select(*out_cols)


def suppress_projection(df: DataFrame, bounds: DataFrame, qid_cols: list[str]) -> DataFrame:
    """G11 — replace each QID with the *global* bounds snapshot
    (Generalizer.java:246-257, snapshot semantics per SURVEY.md §2.5.5).

    Scale: broadcast of the 1-row bounds; pure map-side projection.
    """
    out_cols = []
    for c in df.columns:
        if c in qid_cols:
            out_cols += [F.col(f"{c}_lo"), F.col(f"{c}_hi")]
        else:
            out_cols.append(F.col(f"t.{c}"))
    return df.alias("t").join(F.broadcast(bounds)).select(*out_cols)


def utility_report(released: DataFrame, qid_cols: "tuple[str, ...]" = ("user_id", "value", "ts_millis")) -> DataFrame:
    """Information-loss (utility) report over a released generalized
    table — the evaluation metric of the k-anonymization literature the
    reference implements (FADS-style interval generalization: narrower
    released intervals = more utility).  Per QID column: released count,
    exact min/median/max interval width, count of exact releases
    (zero-width intervals), and the released global envelope.

    Every statistic is order-independent and cross-engine exact: min/max
    are selections, counts are integers, and the median is the exact
    interpolating percentile (Spark ``percentile`` == DuckDB
    ``quantile_cont``, the corpus_stats precedent) — no double SUMS, which
    would be reassociation-sensitive.

    Shape: one pass — the three QID interval pairs explode to (qid, w,
    lo, hi) rows, then one map-side-combined agg keyed by the (tiny) qid.
    """
    arr = F.array(
        *[
            F.struct(
                F.lit(q).alias("qid"),
                (F.col(f"{q}_hi") - F.col(f"{q}_lo")).alias("w"),
                F.col(f"{q}_lo").alias("lo"),
                F.col(f"{q}_hi").alias("hi"),
            )
            for q in qid_cols
        ]
    )
    u = released.select(F.explode(arr).alias("x")).select("x.*")
    return u.groupBy("qid").agg(
        F.count(F.lit(1)).cast("long").alias("n_released"),
        F.min("w").alias("min_width"),
        F.percentile("w", 0.5).alias("median_width"),
        F.max("w").alias("max_width"),
        F.sum(F.when(F.col("w") == 0, 1).otherwise(0)).cast("long").alias("n_exact"),
        F.min("lo").alias("global_lo"),
        F.max("hi").alias("global_hi"),
    )


def kanon_audit(
    released: DataFrame,
    qid_cols: list[str],
    pid_col: str,
    k: int,
) -> DataFrame:
    """k-anonymity AUDIT over a released (generalized) table: group the
    output by its generalized box — the ``<qid>_lo``/``<qid>_hi`` interval
    tuple — and report, per distinct box, the row count, the distinct-PID
    count, and a ``violates_k`` verdict (fewer than ``k`` distinct PIDs
    share the box).

    This is the VERIFIER for the property the Generalizer enforces
    (SURVEY §2.5: every fresh cluster releases >= k rows under one box;
    reuse releases append to an already-k-strong box): an independent
    check a privacy team runs over the published table, not a re-run of
    the mechanism.  Suppressed rows (the end-of-stream flush publishes
    snapshot-global bounds) surface here as their own box rows — maximal
    generalization, so a small count there is a finding to EXPLAIN, not
    automatically a leak; the verdict column leaves that triage visible
    instead of hiding it.

    One map-side-combinable aggregation on the box tuple — at any scale
    this is a single shuffle on keys whose cardinality is the number of
    distinct released boxes (<< rows)."""
    box = [c for q in qid_cols for c in (f"{q}_lo", f"{q}_hi")]
    return released.groupBy(*box).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.countDistinct(pid_col).cast("long").alias("n_pids"),
        (F.countDistinct(pid_col) < k).alias("violates_k"),
    )


def ldiversity_audit(
    released: DataFrame,
    qid_cols: list[str],
    sensitive_col: str,
    l: int,  # noqa: E741 - the literature's name
) -> DataFrame:
    """l-diversity AUDIT (Machanavajjhala et al. 2007) — k-anonymity's
    companion check: a box can hold k distinct people and STILL leak if
    they all share one sensitive value (the homogeneity attack), so each
    generalized box must also contain at least ``l`` distinct values of
    the sensitive attribute.  Same single combinable aggregation shape as
    :func:`kanon_audit`; run both over a release before publishing."""
    box = [c for q in qid_cols for c in (f"{q}_lo", f"{q}_hi")]
    return released.groupBy(*box).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.countDistinct(sensitive_col).cast("long").alias("n_sensitive"),
        (F.countDistinct(sensitive_col) < l).alias("violates_l"),
    )


def tcloseness_audit(
    released: DataFrame,
    qid_cols: list[str],
    sensitive_col: str,
    t_num: int,
    t_den: int,
) -> DataFrame:
    """t-closeness AUDIT (Li et al. 2007) — the third check of the privacy
    trio: a box can be k-anonymous AND l-diverse yet still leak if its
    sensitive-value DISTRIBUTION differs sharply from the table's (skew
    attack: 2 diverse values, but 95% one disease in the box vs 5%
    globally).  For a categorical sensitive attribute the distance is
    total variation: ``TVD = sum_v |c_v/n - N_v/N| / 2 <= t``.

    Everything is INTEGER cross-multiplied so the verdict is exact on
    both engines: ``tv_scaled = sum_v |c_v*N - N_v*n|`` (absent
    categories contribute ``N_v*n``), and ``violates_t`` is
    ``t_den * tv_scaled > 2 * t_num * n * N`` for the rational threshold
    ``t = t_num/t_den`` — no float division anywhere.

    Shape: per-(box, value) counts are one combinable agg; the global
    category distribution is a bounded dimension (categories, not rows)
    broadcast against the distinct boxes, so absent combos materialize
    without scanning twice."""
    box = [c for q in qid_cols for c in (f"{q}_lo", f"{q}_hi")]
    n_total = released.agg(F.count(F.lit(1)).cast("long").alias("__N"))
    glob = released.groupBy(sensitive_col).agg(
        F.count(F.lit(1)).cast("long").alias("__Nv")
    )
    box_n = released.groupBy(*box).agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
    box_v = released.groupBy(*box, sensitive_col).agg(
        F.count(F.lit(1)).cast("long").alias("__cv")
    )
    grid = (
        box_n.crossJoin(F.broadcast(glob))
        .join(box_v, [*box, sensitive_col], "left")
        .withColumn("__cv", F.coalesce(F.col("__cv"), F.lit(0)))
        .crossJoin(F.broadcast(n_total))
    )
    per_box = grid.groupBy(*box).agg(
        F.first("n_rows").alias("n_rows"),
        F.first("__N").alias("__N"),
        F.sum(
            F.abs(F.col("__cv") * F.col("__N") - F.col("__Nv") * F.col("n_rows"))
        ).cast("long").alias("tv_scaled"),
    )
    return per_box.select(
        *box,
        "n_rows",
        "tv_scaled",
        (
            F.lit(t_den) * F.col("tv_scaled")
            > F.lit(2 * t_num) * F.col("n_rows") * F.col("__N")
        ).alias("violates_t"),
    )
