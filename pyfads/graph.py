"""Iterative graph analytics over DataFrames: fixed-point PageRank.

Companion to :func:`pyfads.dedup.connected_components` (the other
edge-iteration algorithm in the repo): where CC labels near-dup
components, PageRank ranks nodes by link centrality — on the near-dup
graph that surfaces the "hub" documents a template/boilerplate family
radiates from, the docs worth human review before a dedup sweep deletes
their whole component.

Determinism: classic PageRank iterates double arithmetic whose
accumulation order varies with partitioning — useless for a cross-engine
value-hash oracle.  This implementation runs ENTIRELY in scaled 64-bit
integer arithmetic: ranks carry a fixed 1e12 mass scale, the damping
factor is the rational 17/20 (= 0.85), and every division is a floor div.
floor(a/b) is exact on both engines, so after any number of iterations the
ranks are bit-identical under any partitioning, any engine (the DuckDB
oracle unrolls the same iterations as chained CTEs).  Mass is *not*
exactly conserved (each floor drops < 1 unit per edge — bounded error,
deterministic), which is the standard price of fixed-point iteration.

Scale shape (100 TB): the iteration state is one (node, rank) frame of
edge-endpoint size only.  Each iteration = one equi-join of the
degree-annotated edge list with the rank frame + one map-side-combined
sum — two bounded shuffles, no broadcast of anything unbounded, no
driver-side data beyond the single node-count scalar (computed once,
like connected_components' convergence scalar).  ``localCheckpoint``
truncates lineage so the 10-deep plan stays flat.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

__all__ = ["pagerank"]

_SCALE = 10**12  # total rank mass; rank*17 stays far below 2^63


def pagerank(
    pairs: DataFrame,
    a_col: str = "a_id",
    b_col: str = "b_id",
    iterations: int = 10,
    scale: int = _SCALE,
    weight_col: str | None = None,
) -> DataFrame:
    """PageRank over an undirected pair list (each pair becomes two
    directed edges), restricted to edge endpoints.  Returns one row per
    node: ``(doc_id, degree, pagerank_scaled)`` with
    ``pagerank_scaled`` ~ rank * ``scale`` as BIGINT.

    Update rule (damping d = 17/20, N = node count, R = scale):
        rank0(v)   = R // N
        rank(v)    = (3*R) // (20*N)  +  sum over in-edges (u,v) of
                     (rank(u) * 17) // (20 * outdeg(u))
    An undirected graph has no dangling nodes and every node has an
    in-edge, so the aggregation covers all nodes each round.

    ``weight_col`` (optional): an INTEGER edge weight (e.g. similarity in
    millionths).  The weighted update splits u's damped mass by
    w(u,v)/sum_w(u) instead of 1/outdeg:
        contrib = ((rank(u)*17) // 20) * w(u,v) // sum_w(u)
    evaluated in that exact order so the product stays inside int64:
    rank <= R = 1e12 (mass never grows), so (R*17//20)*1e6 < 2^63.
    Weights must be in [1, 1_000_000].
    """
    cols = [F.col(a_col).alias("u"), F.col(b_col).alias("v")]
    rcols = [F.col(b_col).alias("u"), F.col(a_col).alias("v")]
    if weight_col is not None:
        cols.append(F.col(weight_col).cast("long").alias("w"))
        rcols.append(F.col(weight_col).cast("long").alias("w"))
    edges = pairs.select(*cols).union(pairs.select(*rcols)).distinct()
    if weight_col is None:
        edges = edges.withColumn("w", F.lit(1).cast("long"))
    deg = edges.groupBy("u").agg(
        F.count(F.lit(1)).cast("long").alias("outdeg"),
        F.sum("w").cast("long").alias("sumw"),
    )
    # degree-annotated edges are reused every iteration — checkpoint once
    edeg = edges.join(deg, "u").localCheckpoint(eager=False)
    # the one driver scalar (node count, not data).  Counted off the
    # CHECKPOINTED frame, so this first action materializes edeg and the
    # upstream pair-generation pipeline runs exactly ONCE per call — a
    # plain deg.count() ran it once for the scalar and again when the
    # first iteration materialized edeg (r13; same r12 rationale as the
    # CC edge checkpoint).  Every edge u carries a deg row (inner join on
    # the frame deg was derived from), so distinct-u-of-edeg == deg rows.
    n = edeg.select("u").distinct().count()
    if n == 0:
        # empty graph (e.g. a fully-deduped corpus): no nodes, no ranks —
        # return an empty typed frame instead of dividing by zero
        return pairs.sparkSession.createDataFrame(
            [], "doc_id long, degree long, pagerank_scaled long"
        )
    base = (3 * scale) // (20 * n)
    # seeded from the checkpointed edeg too: the raw `deg` plan would re-run
    # pair generation; its node set is edeg's distinct u (see above)
    ranks = edeg.select(F.col("u").alias("node")).distinct().select(
        "node", F.lit(scale // n).cast("long").alias("rank")
    ).localCheckpoint(eager=False)
    for i in range(iterations):
        contrib = edeg.join(ranks.withColumnRenamed("node", "u"), "u").select(
            F.col("v").alias("node"),
            F.expr("((rank * 17) div 20) * w div sumw").alias("c"),
        )
        ranks = contrib.groupBy("node").agg(
            (F.lit(base) + F.sum("c")).cast("long").alias("rank")
        )
        # checkpoint every 5th round (r13; was every 3rd): each
        # localCheckpoint costs a driver-side toRdd planning pass plus a
        # cached-block write per partition, so fewer/longer segments cut
        # the per-call fixed cost — a 5-join lineage segment still
        # codegen-compiles well within janino limits (measured: both
        # pagerank entries faster, ranks bit-identical / oracle green)
        if i % 5 == 4 or i == iterations - 1:
            # eager=False (r12): the checkpoint still truncates the logical
            # plan immediately, but materialization rides the NEXT job that
            # reads it (ultimately the caller's single action) instead of
            # launching one blocking job per checkpoint — same computation,
            # ~6 fewer job launches per call
            ranks = ranks.localCheckpoint(eager=False)
    # final degree annotation reads the CHECKPOINTED edeg (outdeg is
    # functionally dependent on u, so distinct (u, outdeg) == deg) — a
    # join against the raw `deg` plan re-ran the whole upstream
    # pair-generation pipeline one more time inside the caller's action
    # (r13; the second of the two redundant pair-gen passes this round
    # removed from pagerank)
    final_deg = edeg.select("u", "outdeg").distinct().withColumnRenamed("u", "node")
    return (
        ranks.join(final_deg, "node")
        .select(
            F.col("node").alias("doc_id"),
            F.col("outdeg").cast("long").alias("degree"),
            F.col("rank").alias("pagerank_scaled"),
        )
    )


def triangles(
    pairs: "DataFrame", a_col: str = "a_id", b_col: str = "b_id"
) -> "DataFrame":
    """Triangle enumeration over canonical undirected edges (``a < b``):
    every triangle appears exactly once as ``(a < m < c)`` — the classic
    node-order orientation, two equi-joins on node ids, no post-hoc
    dedup.  Output columns ``(a_id, m_id, c_id)``.

    Scale: both joins key on 8-byte node ids over the edge set (not the
    corpus); the ascending orientation bounds each node's join fan-out by
    its out-degree in the order, the standard skew control for triangle
    counting (Suri-Vassilvitskii 2011)."""
    from pyspark.sql import functions as F

    # the edge list feeds all THREE join branches of one action — checkpoint
    # so the upstream pair-generation pipeline runs once, not three times
    # (r12; edge-list-sized, the CC/pagerank iteration-state bound)
    e = pairs.select(
        F.col(a_col).alias("a_id"), F.col(b_col).alias("b_id")
    ).localCheckpoint(eager=False)
    e1 = e.select("a_id", F.col("b_id").alias("m_id"))
    e2 = e.select(F.col("a_id").alias("m_id"), F.col("b_id").alias("c_id"))
    e3 = e.select("a_id", F.col("b_id").alias("c_id"))
    return e1.join(e2, "m_id").join(e3, ["a_id", "c_id"]).select(
        "a_id", "m_id", "c_id"
    )
