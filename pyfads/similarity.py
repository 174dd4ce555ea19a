"""Similarity search over embedding columns (``array<float>``).

- :func:`cosine_topk` — brute-force top-k for a bounded query set.  The dot
  product / norms are generated as explicit left-associated arithmetic
  chains over the (fixed, known) dimension so results are bit-identical to
  the DuckDB oracle; Catalyst folds the chain into whole-stage codegen.
- :func:`ann_lsh_topk` — the scale path: random-hyperplane LSH bucketing
  (sign bits of Gaussian projections) + within-bucket brute force via an
  Arrow-vectorized pandas UDF.  Candidates come from bucket equi-joins
  (multi-probe over ``n_tables`` independent tables), never all-pairs.
- :func:`embedding_norms` — per-row L2 norms (quality filter for pipelines).

- :func:`ann_ivf_topk` — FAISS-style IVF: a k-means-trained coarse codebook
  (:func:`train_ivf_centroids`, spherical k-means over a bounded sample)
  broadcast into the assignment UDF; candidates come from equi-joins on the
  cell id, with optional corpus multi-assignment for recall.
- :func:`ann_ivfpq_topk` — IVF-PQ: corpus vectors additionally compressed to
  ``m_sub`` product-quantization codes (:func:`train_pq_codebooks`); probed
  candidates are ranked by a JVM-side ADC inner product over the code bytes,
  with an optional exact-cosine refine stage.
- :func:`train_pca` / :func:`pca_project` — PCA dimensionality reduction
  (bounded-sample eigh, literal-coefficient aggregate-fold projection);
  :func:`ann_pca_lsh_topk` buckets on the PCA sketch entirely in codegen
  and re-ranks exactly on the full vectors.

Scale notes: brute-force is O(|Q| x N) — keep |Q| bounded or use LSH/IVF;
the LSH join shuffles on (table, bucket) keys only, the IVF join on one int
cell id per (replicated) vector.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql import types as T

__all__ = [
    "dot_chain",
    "dot_expr",
    "norm_expr",
    "hard_negatives",
    "drop_zero_norm",
    "cosine_topk",
    "ann_lsh_topk",
    "ann_pca_lsh_topk",
    "ann_ivf_topk",
    "ann_ivfpq_topk",
    "train_ivf_centroids",
    "train_pq_codebooks",
    "semantic_dedup",
    "semantic_dedup_incremental",
    "semantic_dedup_incremental_served",
    "semantic_refresh_store",
    "semantic_gate_stream",
    "semantic_tau_pairs",
    "train_two_level_centroids",
    "write_semantic_store",
    "read_semantic_store",
    "adaptive_n_centroids",
    "adaptive_two_level",
    "default_codebook_sample",
    "fold_dots",
    "top_cells",
    "exact_refine",
    "kcenter_select",
    "embedding_near_dup_pairs",
    "embedding_norms",
    "sq8_normalize",
    "sq8_quantize",
    "sq8_topk",
]

# Above this dimension the explicit term chain stops being the right plan:
# the generated expression tree has ~6*dim nodes and whole-stage codegen
# emits one Java expression per term — past the JVM's 64KB-per-method limit
# Catalyst silently falls back to interpreted Projection per *node*.  The
# F.aggregate/zip_with fold is a single higher-order expression whose
# per-element loop runs JVM-side regardless of dim, so it wins for wide
# embeddings (768/1024/1536-dim model outputs).  Both produce bit-identical
# left-associated double sums (fold seed 0.0 + t1 == t1 in IEEE754).
CHAIN_MAX_DIM = 128

SEM_MAX_CELL = 256
"""Default hot-cell cap for the semantic family's cell joins (r9 verdict
#1).  Adaptive codebooks target ~64 rows/cell, but k-means cannot split a
mass-duplicate pile — identical embeddings all land in ONE cell, making
any within-cell join quadratic on a skewed key at 100 TB.  256 gives 4x
headroom over the adaptive target, so healthy cells never hit the cap."""


# Expression construction goes through ONE F.expr(sql_text) call per
# expression instead of composing hundreds of Column ops: every PySpark
# Column method is a py4j round-trip (~0.3-1 ms each), so a 64-term chain
# built by reduce() cost ~300 RPCs and a single higher-order lambda ~66 ms
# of gateway traffic — profiled at ~19 s of a 21 s semantic-dedup build
# (optimization guide §4: the Python boundary, applied to PLAN construction
# rather than data).  The SQL parser builds the identical Catalyst tree
# (same Cast/Multiply/Add/ArrayAggregate nodes, same left association), so
# every value is bit-for-bit what the Column-composed form produced.


def _bt(col: str) -> str:
    """Backtick-quote a column name for embedding in SQL text.

    The whole name is quoted as ONE identifier, so callers of the
    dot/norm builders must pass a TOP-LEVEL column name — a dotted struct
    path (``s.vec``) that would resolve via ``F.col()`` will not resolve
    here (ADVICE r12; no in-repo caller passes struct paths)."""
    return "`" + col.replace("`", "``") + "`"


def _elem_sql(col_sql: str, i: int) -> str:
    # 1-indexed like SQL; cast float->double *before* arithmetic (oracle parity)
    return f"CAST(element_at({col_sql}, {i}) AS DOUBLE)"


def dot_chain_sql(a_sql: str, b_sql: str, dim: int) -> str:
    """SQL text of the explicit left-associated dot product."""
    return " + ".join(
        f"{_elem_sql(a_sql, i)} * {_elem_sql(b_sql, i)}" for i in range(1, dim + 1)
    )


def _norm_chain_sql(col_sql: str, dim: int) -> str:
    sq = " + ".join(
        f"{_elem_sql(col_sql, i)} * {_elem_sql(col_sql, i)}"
        for i in range(1, dim + 1)
    )
    return f"SQRT({sq})"


def _dot_fold_sql(a_sql: str, b_sql: str) -> str:
    """SQL text of the left fold 0.0 + a1*b1 + a2*b2 + ... (chain rounding)."""
    return (
        f"aggregate(zip_with({a_sql}, {b_sql}, "
        "(__x, __y) -> CAST(__x AS DOUBLE) * CAST(__y AS DOUBLE)), "
        "0.0D, (__acc, __e) -> __acc + __e)"
    )


def _norm_fold_sql(col_sql: str) -> str:
    return (
        f"SQRT(aggregate(transform({col_sql}, "
        "__x -> CAST(__x AS DOUBLE) * CAST(__x AS DOUBLE)), "
        "0.0D, (__acc, __e) -> __acc + __e))"
    )


def dot_sql(a_sql: str, b_sql: str, dim: int) -> str:
    """Dot-product SQL text, codegen chain below CHAIN_MAX_DIM, fold above."""
    if dim <= CHAIN_MAX_DIM:
        return dot_chain_sql(a_sql, b_sql, dim)
    return _dot_fold_sql(a_sql, b_sql)


def norm_sql(col_sql: str, dim: int) -> str:
    """L2-norm SQL text, dim-switched like :func:`dot_sql`."""
    if dim <= CHAIN_MAX_DIM:
        return _norm_chain_sql(col_sql, dim)
    return _norm_fold_sql(col_sql)


def _vec_lit_sql(v) -> str:
    """SQL array<double> literal for one vector (repr round-trips exactly).

    Asserts finiteness: ``repr(inf)`` would render unparseable SQL
    (``infD``) and fail with a ParseException far from the cause; a
    non-finite centroid/plane/PCA component means degenerate training
    data, so fail HERE with a clear error (ADVICE r12)."""
    vv = np.asarray(v, dtype=np.float64)
    if not np.isfinite(vv).all():
        raise ValueError(
            "_vec_lit_sql: non-finite component in vector literal — "
            "degenerate model (NaN/inf centroid, plane, or PCA component)"
        )
    return "array(" + ", ".join(repr(float(x)) + "D" for x in vv) + ")"


def dot_chain(a_col: str, b_col: str, dim: int) -> "F.Column":
    """Explicit left-associated dot product over a fixed dimension."""
    return F.expr(dot_chain_sql(_bt(a_col), _bt(b_col), dim))


def _norm_chain(col: str, dim: int) -> "F.Column":
    return F.expr(_norm_chain_sql(_bt(col), dim))


def _dot_fold(a_col: str, b_col: str) -> "F.Column":
    """Left fold: 0.0 + a1*b1 + a2*b2 + ... — same rounding as the chain."""
    return F.expr(_dot_fold_sql(_bt(a_col), _bt(b_col)))


def dot_expr(a_col: str, b_col: str, dim: int) -> "F.Column":
    """Dot product, codegen chain below CHAIN_MAX_DIM, aggregate fold above."""
    return F.expr(dot_sql(_bt(a_col), _bt(b_col), dim))


def _norm_fold(col: str) -> "F.Column":
    return F.expr(_norm_fold_sql(_bt(col)))


def norm_expr(col: str, dim: int) -> "F.Column":
    """L2 norm, dim-switched like :func:`dot_expr`."""
    return F.expr(norm_sql(_bt(col), dim))


def drop_zero_norm(df: DataFrame, dim: int, vec_col: str = "embedding") -> DataFrame:
    """Drop rows whose vector has zero L2 norm.

    A zero vector makes the cosine NaN, and Spark orders NaN *above* every
    number — it would rank first in every top-k window and pass
    ``cosine >= threshold`` filters.  Every ranking/near-dup entry point
    filters through this first (the oracle SQLs carry the same predicate).
    """
    return df.filter(norm_expr(vec_col, dim) > 0)


def cosine_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Brute-force cosine top-k: every query row against every candidate row
    (minus self).  The queries side is broadcast; ranking ties break on the
    neighbour id so output is deterministic."""
    # norms are computed ONCE per side before the join (bit-identical to a
    # per-pair recompute, |Q|x cheaper on the candidate side)
    q = F.broadcast(
        queries.select(F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec"))
        .withColumn("q_norm", norm_expr("q_vec", dim))
        .filter(F.col("q_norm") > 0)
    )
    c = (
        embeddings.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec"))
        .withColumn("c_norm", norm_expr("c_vec", dim))
        .filter(F.col("c_norm") > 0)
    )
    pairs = q.join(c, F.col("q_id") != F.col("neighbor_id"))
    cos = dot_expr("q_vec", "c_vec", dim) / (F.col("q_norm") * F.col("c_norm"))
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.col("neighbor_id"))
    return (
        pairs.withColumn("cosine", cos)
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("q_id", "neighbor_id", "cosine", "rank")
    )


def hard_negatives(
    embeddings: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Embedding-space hard-negative mining: for each anchor, the top-k
    most-cosine-similar vectors with a DIFFERENT label — the standard
    contrastive/retriever training-data op (the near-misses that teach the
    model the decision boundary; random negatives are too easy).

    Same shape as :func:`cosine_topk` — anchors broadcast, one candidate
    scan, WindowGroupLimit top-k — with the label-mismatch predicate INSIDE
    the join condition so the per-anchor top-k ranks only true negatives
    (filtering after ranking would silently return fewer than k)."""
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("q_id"),
            F.col(vec_col).alias("q_vec"),
            F.col(label_col).cast("long").alias("q_label"),
        )
        .withColumn("q_norm", norm_expr("q_vec", dim))
        .filter(F.col("q_norm") > 0)
    )
    c = (
        embeddings.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("c_vec"),
            F.col(label_col).cast("long").alias("neighbor_label"),
        )
        .withColumn("c_norm", norm_expr("c_vec", dim))
        .filter(F.col("c_norm") > 0)
    )
    pairs = q.join(
        c,
        (F.col("q_id") != F.col("neighbor_id"))
        & (F.col("q_label") != F.col("neighbor_label")),
    )
    cos = dot_expr("q_vec", "c_vec", dim) / (F.col("q_norm") * F.col("c_norm"))
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.col("neighbor_id"))
    return (
        pairs.withColumn("cosine", cos)
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("q_id", "q_label", "neighbor_id", "neighbor_label", "cosine", "rank")
    )


def embedding_norms(
    embeddings: DataFrame, dim: int, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """L2 norm per embedding (explicit chain; oracle-verifiable)."""
    e = embeddings.select(F.col(id_col), F.col(vec_col).alias("__v"))
    return e.select(id_col, norm_expr("__v", dim).alias("l2_norm"))


def _hyperplanes(dim: int, n_planes: int, n_tables: int, seed: int) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_tables, n_planes, dim))


def _bucketer(dim: int, n_planes: int, n_tables: int, seed: int, id_col: str, vec_col: str):
    """Returns f(df, prefix) -> (prefix_id, prefix_vec, table_idx, bucket)
    with one row per (vector, LSH table): sign-bit bucket codes from an
    Arrow-batched pandas UDF over broadcast-size hyperplanes."""
    planes = _hyperplanes(dim, n_planes, n_tables, seed)
    bits = (1 << np.arange(n_planes)).astype(np.int64)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def bucket_codes(vecs: pd.Series) -> pd.Series:
        m = np.vstack(vecs.to_numpy())  # (n, dim)
        codes = np.empty((len(m), planes.shape[0]), dtype=np.int64)
        for t in range(planes.shape[0]):
            signs = (m @ planes[t].T) > 0  # (n, n_planes)
            codes[:, t] = signs @ bits
        return pd.Series(list(codes))

    def with_buckets(df: DataFrame, prefix: str) -> DataFrame:
        return df.select(
            F.col(id_col).alias(f"{prefix}_id"),
            F.col(vec_col).alias(f"{prefix}_vec"),
            F.posexplode(bucket_codes(F.col(vec_col))).alias("table_idx", "bucket"),
        )

    return with_buckets


def embedding_near_dup_pairs(
    embeddings: DataFrame,
    dim: int,
    threshold: float = 0.9,
    n_planes: int = 12,
    n_tables: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (a_id < b_id, cosine >= threshold).

    The scale path for semantic dedup: LSH self-join on (table, bucket) —
    near-identical vectors collide with probability ~(1 - theta/pi)^n_planes
    per table, ~1 for true dups — then exact cosine verify inside buckets.
    Shuffle keys are bucket codes only; candidates ∝ true duplicates, never
    the |N|^2 cross product."""
    # one projection carries (id, vec, norm): the norm chain/fold is
    # evaluated once per scan and reused by the filter AND the cosine —
    # not recomputed per join side (r3's 3x-norm regression)
    base = embeddings.select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).alias("__vec"),
        norm_expr(vec_col, dim).alias("__norm"),
    ).filter(F.col("__norm") > 0)
    with_buckets = _bucketer(dim, n_planes, n_tables, seed, "__id", "__vec")
    # the Arrow bucketing UDF is the dominant per-row cost: run it ONCE and
    # materialize only the tiny (id, table, bucket) projection — the
    # self-join reads the cached 20-byte rows instead of re-executing the
    # UDF per side.  localCheckpoint, not persist(): CacheManager holds
    # persisted plans until an explicit unpersist (a leak from a function
    # that returns a lazy frame), while a localCheckpoint's RDD is released
    # by the ContextCleaner once unreferenced.
    buckets = with_buckets(base, "a").select(
        F.col("a_id").alias("__id"), "table_idx", "bucket"
    ).localCheckpoint(eager=False)
    # id-only distinct: the multi-table self-join duplicates each candidate
    # pair up to n_tables times — dedup 16-byte id pairs, then join the
    # vectors back once (vs shuffling both vectors per duplicate)
    cand = (
        buckets.select(F.col("__id").alias("a_id"), "table_idx", "bucket")
        .join(
            buckets.select(F.col("__id").alias("b_id"), "table_idx", "bucket"),
            on=["table_idx", "bucket"],
        )
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id")
        .distinct()
    )
    va = base.select(
        F.col("__id").alias("a_id"),
        F.col("__vec").alias("a_vec"),
        F.col("__norm").alias("a_norm"),
    )
    vb = base.select(
        F.col("__id").alias("b_id"),
        F.col("__vec").alias("b_vec"),
        F.col("__norm").alias("b_norm"),
    )
    cos = dot_expr("a_vec", "b_vec", dim) / (F.col("a_norm") * F.col("b_norm"))
    return (
        cand.join(va, "a_id")
        .join(vb, "b_id")
        .withColumn("cosine", cos)
        .filter(F.col("cosine") >= threshold)
        .select("a_id", "b_id", "cosine")
    )


def ann_lsh_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    n_planes: int = 4,
    n_tables: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: random-hyperplane LSH bucketing + within-bucket
    brute force.

    Both sides are bucketed by an Arrow-batched pandas UDF computing the
    sign-bit code per (table, vector); the candidate join is an equi-join on
    (table, bucket).  Exact cosine re-rank happens only inside buckets.
    Recall grows with ``n_tables`` (multi-probe); tune (n_planes, n_tables)
    for the recall/cost point you need.
    """
    embeddings = drop_zero_norm(embeddings, dim, vec_col)
    queries = drop_zero_norm(queries, dim, vec_col)
    with_buckets = _bucketer(dim, n_planes, n_tables, seed, id_col, vec_col)
    qb = with_buckets(queries, "q")
    cb = with_buckets(embeddings, "c")
    # dedup multi-table duplicates on 16-byte id pairs, then join vectors
    # back once (query vectors broadcast — the query set is bounded)
    cand = (
        qb.select("q_id", "table_idx", "bucket")
        .join(cb.select("c_id", "table_idx", "bucket"), on=["table_idx", "bucket"])
        .filter(F.col("q_id") != F.col("c_id"))
        .select("q_id", F.col("c_id").alias("neighbor_id"))
        .distinct()
    )
    vq = F.broadcast(
        queries.select(F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec"))
        .withColumn("q_norm", norm_expr("q_vec", dim))
    )
    vc = embeddings.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        norm_expr(vec_col, dim).alias("c_norm"),
    )
    cos = dot_expr("q_vec", "c_vec", dim) / (F.col("q_norm") * F.col("c_norm"))
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.col("neighbor_id"))
    return (
        cand.join(vq, "q_id")
        .join(vc, "neighbor_id")
        .withColumn("cosine", cos)
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("q_id", "neighbor_id", "cosine", "rank")
    )


# Hard ceiling on the driver-side training collect: 2^18 64-dim float64
# vectors is ~128 MB — past this, single-level k-means is the wrong tool
# (the Lloyd similarity matrix alone would be tens of GB); use
# :func:`train_two_level_centroids` (coarse->fine) for larger codebooks.
MAX_CODEBOOK_SAMPLE = 1 << 18


def default_codebook_sample(n_centroids: int) -> int:
    """Training-sample size that actually SUPPORTS the requested codebook:
    >= 16 observations per centroid (floored at the historical 4096), capped
    at :data:`MAX_CODEBOOK_SAMPLE`.  Round-8 verdict finding #1: the fixed
    4096-row default silently clamped every adaptive codebook past ~262k
    corpus rows to 4096 cells, quietly unbounding the expected cell size the
    adaptive law exists to bound."""
    return min(max(4096, 16 * n_centroids), MAX_CODEBOOK_SAMPLE)


def train_ivf_centroids(
    embeddings: DataFrame,
    dim: int,
    n_centroids: int = 32,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_rows: int | None = None,
    iters: int = 25,
) -> np.ndarray:
    """Train the IVF coarse codebook: spherical k-means (k-means++ init,
    Lloyd's iterations on the unit sphere) over a bounded deterministic
    sample of the corpus.

    ``sample_rows=None`` (the default) scales the sample with the request
    via :func:`default_codebook_sample` so a large adaptive codebook is
    never silently clamped to a too-small sample; when the data (or an
    explicit ``sample_rows``) still can't support ``n_centroids``, the clamp
    is LOUD (a ``UserWarning``) instead of a silent ``min()``.  Codebooks
    past ``MAX_CODEBOOK_SAMPLE/16`` centroids should train two-level
    (:func:`train_two_level_centroids`).

    Scale shape: the sample is picked by ``orderBy(md5(id)).limit(n)`` — a
    distributed top-N (no global sort materialization), one driver collect
    bounded at ``sample_rows`` vectors regardless of corpus size.  The
    returned (n_centroids, dim) array is tiny and rides into the assignment
    UDF closure as a broadcast, exactly like FAISS ships its quantizer.
    Deterministic: same data + seed => same codebook, so runs replay.
    """
    if sample_rows is None:
        sample_rows = default_codebook_sample(n_centroids)
    sample = (
        embeddings.select(
            F.col(vec_col).alias("v"), F.md5(F.col(id_col).cast("string")).alias("__o")
        )
        .orderBy("__o")
        .limit(sample_rows)
        .select("v")
        .collect()
    )
    m = np.asarray([r["v"] for r in sample], dtype=np.float64)
    if len(m) < n_centroids:
        import warnings

        warnings.warn(
            f"train_ivf_centroids: requested {n_centroids} centroids but the "
            f"training sample holds only {len(m)} vectors (sample_rows="
            f"{sample_rows}); clamping the codebook to {len(m)} cells — "
            f"expected cell size will exceed the adaptive target",
            UserWarning,
            stacklevel=2,
        )
    return _kmeans_spherical(m, n_centroids, seed, iters)


def _kmeans_spherical(m: np.ndarray, n_centroids: int, seed: int, iters: int = 25) -> np.ndarray:
    """Spherical k-means (k-means++ init, Lloyd's on the unit sphere) over a
    sample matrix.  Shared by the Spark trainer above and the DuckDB oracle
    builder (pyfads.golden) so both sides derive bitwise the same codebook."""
    m = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
    n = len(m)
    k = min(n_centroids, n)
    rng = np.random.default_rng(seed)

    # k-means++ on cosine distance (1 - dot on the unit sphere)
    cents = [m[int(rng.integers(n))]]
    d = np.maximum(1.0 - m @ cents[0], 0.0)
    for _ in range(1, k):
        total = d.sum()
        probs = d / total if total > 0 else np.full(n, 1.0 / n)
        nxt = int(rng.choice(n, p=probs))
        cents.append(m[nxt])
        d = np.minimum(d, np.maximum(1.0 - m @ m[nxt], 0.0))
    C = np.stack(cents)

    # Lloyd iterations, vectorized for large k (the adaptive codebooks can
    # request thousands of cells): blocked argmax keeps the similarity
    # matrix at <= block x k, per-dimension bincount does the segment sums
    # (O(n*dim) per iteration, no per-cell python loop).
    block = max(1, (1 << 24) // max(k, 1))  # ~128 MB of doubles per block
    dim_ = m.shape[1] if m.ndim == 2 else 0
    for _ in range(iters):
        assign = np.empty(n, dtype=np.int64)
        best = np.empty(n, dtype=np.float64)
        for s in range(0, n, block):
            sims = m[s : s + block] @ C.T
            a = np.argmax(sims, axis=1)  # first max -> lowest cell
            assign[s : s + block] = a
            best[s : s + block] = sims[np.arange(len(a)), a]
        newC = C.copy()
        counts = np.bincount(assign, minlength=k)
        sums = np.empty((k, dim_), dtype=np.float64)
        for i in range(dim_):
            sums[:, i] = np.bincount(assign, weights=m[:, i], minlength=k)
        norms = np.linalg.norm(sums, axis=1)
        nonempty = (counts > 0) & (norms > 0)
        newC[nonempty] = sums[nonempty] / norms[nonempty, None]
        if not np.all(counts > 0):
            # reseed every empty cell at the worst-covered point
            newC[counts == 0] = m[int(np.argmin(best))]
        if np.allclose(newC, C):
            break
        C = newC
    return C


def fold_dots(m: np.ndarray, cents: np.ndarray) -> np.ndarray:
    """Raw (un-normalized) dot products of every row of ``m`` against every
    centroid, accumulated dimension-by-dimension in float64 — BIT-IDENTICAL
    to the Column/SQL left fold (``0.0 + a1*b1 + a2*b2 + ...``): IEEE adds
    and multiplies are correctly rounded everywhere, so forcing the fold's
    left-associated order reproduces its doubles exactly.  numpy's own
    ``m @ C.T`` would NOT (BLAS blocks/ FMA reassociate), which is why the
    assignment UDF below can be oracle-compared while a BLAS argmax can
    only be "almost always" right (round-8 advice #1).  Argmax over raw
    dots equals argmax over cosines (per-row positive scaling).

    Cost: ``dim`` vectorized (n, k) FMAs — ~dim*n*k flops with no BLAS,
    fine for the bounded codebooks this engine trains (k <= 4096 per
    level); bound Arrow batch sizes, not this loop, if memory bites."""
    m = np.ascontiguousarray(m, dtype=np.float64)
    C = np.ascontiguousarray(cents, dtype=np.float64)
    sims = np.zeros((m.shape[0], C.shape[0]), dtype=np.float64)
    for i in range(C.shape[1]):
        sims += m[:, i : i + 1] * C[:, i]
    return sims


def fold_norms(m: np.ndarray) -> np.ndarray:
    """Row L2 norms via the per-dim left fold — bit-identical to Spark's
    ``_norm_fold`` / the oracle's fold-norm SQL for the same reason
    :func:`fold_dots` is: forced accumulation order, elementwise IEEE
    ops, exact float32->float64 widening.  The widening must happen
    BEFORE the square (code-review r10): a float32 input squared in
    float32 rounds before the add, unlike ``x.cast('double') *
    x.cast('double')``."""
    m = np.ascontiguousarray(m, dtype=np.float64)
    acc = np.zeros(len(m), dtype=np.float64)
    for i in range(m.shape[1]):
        acc = acc + m[:, i] * m[:, i]
    return np.sqrt(acc)


def top_cells(sims: np.ndarray, n_top: int) -> np.ndarray:
    """Indices of the ``n_top`` best cells per row, ties -> LOWEST cell —
    the oracle's ``ORDER BY dp DESC, cell`` exactly (np.argmax takes the
    first max; stable argsort keeps ascending cell order among equals)."""
    if n_top == 1:
        return np.argmax(sims, axis=1).astype(np.int32)[:, None]
    return np.argsort(-sims, axis=1, kind="stable")[:, :n_top].astype(np.int32)


def _cell_assign_udf(cents: np.ndarray, n_top: int, margin: "float | None" = None):
    """Arrow-batched coarse quantizer: per vector, the indices of its
    ``n_top`` nearest (max-dot) centroids.  The (tiny) codebook rides in
    the UDF closure — the FAISS quantizer-broadcast shape.  Shared by
    :func:`ann_ivf_topk` (corpus assignment and query probing) and
    :func:`ann_ivfpq_topk` (query probing).

    ``margin`` makes the probe ADAPTIVE (r9 verdict #5): ranks >= 2 are
    emitted only when the vector actually sits near a cell boundary —
    ``dp1 - dp_r < margin * |v|`` (a cosine-units margin, scale-free) —
    so clear-interior vectors stop fanning candidate pairs into their
    second cell.

    Bit-exact with the in-plan ranking (:func:`_rank_cells`, either
    literal form) and the DuckDB oracles: :func:`fold_dots` replays the
    fold arithmetic, :func:`top_cells` the ``dp DESC, cell`` tiebreak,
    and :func:`fold_norms` the margin test's norm, so choosing the UDF or
    the in-plan ranking changes the physical plan only, never a
    verdict."""
    C = np.ascontiguousarray(cents, dtype=np.float64)

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def assign(vecs: pd.Series) -> pd.Series:
        m = np.vstack(vecs.to_numpy())  # (n, dim), float32 widens exactly
        sims = fold_dots(m, C)
        top = top_cells(sims, n_top)
        if margin is None:
            return pd.Series(list(top))
        budget = np.float64(margin) * fold_norms(m)
        dp1 = sims[np.arange(len(m)), top[:, 0]]
        # vectorized boundary mask (code-review r10): the comparison math
        # runs in numpy; only the ragged output assembly is per-row
        deficits = dp1[:, None] - np.take_along_axis(sims, top[:, 1:], axis=1)
        keep = deficits < budget[:, None]
        return pd.Series(
            [
                np.concatenate(([top[i, 0]], top[i, 1:][keep[i]])).astype(np.int32)
                for i in range(len(m))
            ]
        )

    return assign


def default_fine_sample(n_fine: int) -> int:
    """Per-coarse-cell training-sample bound for the fine level: >= 16
    observations per fine centroid, floored at 256."""
    return max(256, 16 * n_fine)


def _train_fine_codebooks(
    members: "dict[int, np.ndarray]",
    coarse: np.ndarray,
    n_fine: int,
    seed: int,
) -> "tuple[np.ndarray, np.ndarray]":
    """Per-coarse-cell fine k-means, shared by the Spark trainer and the
    DuckDB oracle builder so both derive bitwise the same fine codebook.
    ``members[c]`` is the (md5-ordered, bounded) training matrix of coarse
    cell ``c``; a cell with no sample members keeps its coarse centroid as
    the single fine centroid.  Per-cell seeds are decorrelated
    deterministically (``seed + 7919*(c+1)``).  Returns ``(fine,
    fine_coarse)``: the flattened (n_fine_total, dim) codebook and the
    coarse cell each fine centroid refines — the global cell id IS the
    fine index."""
    fine, fine_coarse = [], []
    n_clamped = 0
    for c in range(len(coarse)):
        mem = members.get(c)
        if mem is None or len(mem) == 0:
            fine.append(coarse[c][None, :])
            fine_coarse.append(np.array([c]))
            n_clamped += 1
            continue
        k = min(n_fine, len(mem))
        n_clamped += k < n_fine
        fc = _kmeans_spherical(np.asarray(mem, dtype=np.float64), k, seed + 7919 * (c + 1))
        fine.append(fc)
        fine_coarse.append(np.full(len(fc), c))
    fine_all = np.vstack(fine)
    if n_clamped:
        # the same loud-clamp contract as train_ivf_centroids: a sparse
        # coarse cell quietly shrinking its fine codebook is the silent
        # min() the adaptive law exists to prevent
        import warnings

        warnings.warn(
            f"_train_fine_codebooks: {n_clamped}/{len(coarse)} coarse cells "
            f"sampled fewer than n_fine={n_fine} members — produced "
            f"{len(fine_all)} fine cells of the requested "
            f"{len(coarse) * n_fine}; widen fine_sample_per_cell or lower "
            f"n_fine if the expected cell width matters",
            UserWarning,
            stacklevel=2,
        )
    return fine_all, np.concatenate(fine_coarse).astype(np.int64)


def train_two_level_centroids(
    embeddings: DataFrame,
    dim: int,
    n_coarse: int = 64,
    n_fine: int = 8,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    coarse_sample: int | None = None,
    fine_sample_per_cell: int | None = None,
) -> "tuple[np.ndarray, np.ndarray, np.ndarray]":
    """Two-level (coarse -> fine) codebook — the true 100 TB semantic-dedup
    shape (FAISS IVF's own quantizer-of-quantizers trick): a bounded-sample
    coarse codebook (<= MAX_CODEBOOK_SAMPLE/16 cells) partitions the space,
    then an independent fine k-means runs INSIDE each coarse cell on a
    per-cell bounded sample, giving ``n_coarse * n_fine`` effective cells —
    millions at scale — while every training collect stays bounded:
    the coarse sample at :func:`default_codebook_sample` rows and the fine
    stage at ``n_coarse * fine_sample_per_cell`` rows, gathered by ONE
    distributed per-cell top-N (window rank over the md5 order), never a
    corpus collect.  SemDeDup's 50k-cluster LAION posture is n_coarse=4096,
    n_fine=16 here.

    Returns ``(coarse, fine, fine_coarse)`` — pass the tuple as
    ``centroids=`` to :func:`semantic_dedup`; assignment is hierarchical
    (coarse argmax, then argmax among that cell's fine centroids), and the
    DuckDB twin (pyfads.golden._semantic_dedup_two_level_sql) replays both
    stages with the same fold arithmetic and tiebreaks."""
    if fine_sample_per_cell is None:
        fine_sample_per_cell = default_fine_sample(n_fine)
    coarse = train_ivf_centroids(
        embeddings, dim, n_coarse, seed, id_col, vec_col, sample_rows=coarse_sample
    )
    w = Window.partitionBy("cell").orderBy("__o", id_col)
    sample = (
        _rank_cells(embeddings, coarse, id_col, vec_col)
        .withColumn("__o", F.md5(F.col(id_col).cast("string")))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= fine_sample_per_cell)
        .select("cell", "__o", id_col, "__v")
        .collect()
    )
    members: dict[int, list] = {}
    for r in sorted(sample, key=lambda r: (r["cell"], r["__o"], r[id_col])):
        members.setdefault(r["cell"], []).append(r["__v"])
    mats = {c: np.asarray(v, dtype=np.float64) for c, v in members.items()}
    fine, fine_coarse = _train_fine_codebooks(mats, coarse, n_fine, seed)
    return coarse, fine, fine_coarse


def _two_level_assign_udf(coarse: np.ndarray, fine: np.ndarray, fine_coarse: np.ndarray):
    """Hierarchical Arrow-batched quantizer: coarse fold-dot argmax, then
    fold-dot argmax among the fine centroids OF that coarse cell; the
    returned global cell id is the fine centroid's index.  Ties break to
    the lowest cell at both stages (np.argmax takes the first max and the
    per-cell fine indices are ascending) — exactly the oracle's ``dp DESC,
    cell`` / ``dp DESC, fid`` row_numbers."""
    C = np.ascontiguousarray(coarse, dtype=np.float64)
    Fm = np.ascontiguousarray(fine, dtype=np.float64)
    fc = np.asarray(fine_coarse, dtype=np.int64)
    groups = [np.where(fc == c)[0] for c in range(len(C))]

    @F.pandas_udf(T.IntegerType())
    def assign(vecs: pd.Series) -> pd.Series:
        m = np.vstack(vecs.to_numpy()).astype(np.float64)
        ca = top_cells(fold_dots(m, C), 1)[:, 0]
        out = np.empty(len(m), dtype=np.int32)
        for c in np.unique(ca):
            rows = np.where(ca == c)[0]
            idx = groups[c]
            fd = fold_dots(m[rows], Fm[idx])
            out[rows] = idx[np.argmax(fd, axis=1)].astype(np.int32)
        return pd.Series(out)

    return assign


def adaptive_two_level(
    n_rows: int, target_cell: int = 64, floor: int = 32, max_coarse: int = 4096
) -> "tuple[int, int]":
    """Size a two-level codebook from the same SemDeDup law as
    :func:`adaptive_n_centroids`: total effective cells ~ n_rows /
    target_cell, split as a balanced ``(n_coarse, n_fine)`` —
    sqrt-balanced so both training stages stay far from their sample
    caps, with each level clamped at ``max_coarse`` (the single-sample
    trainability bound — the scheme tops out at max_coarse^2 ~ 16.7M
    effective cells; past that, raise ``target_cell`` like SemDeDup
    itself does at scale).  ``adaptive_two_level(440_000_000,
    target_cell=9000)`` -> (221, 222): the ~50k-cluster LAION posture
    falls out of the law."""
    import math

    n_cells = adaptive_n_centroids(n_rows, target_cell, floor)
    n_coarse = min(max(floor, math.isqrt(n_cells)), max_coarse)
    n_fine = min(max(1, -(-n_cells // n_coarse)), max_coarse)
    if n_coarse * n_fine < n_cells:
        # the same loud-clamp contract as the trainers: silently handing
        # back fewer cells than the law asks for re-opens the quadratic
        # within-cell blowup this function exists to prevent
        import warnings

        warnings.warn(
            f"adaptive_two_level: the law wants {n_cells} cells for "
            f"{n_rows} rows but the per-level cap bounds this scheme at "
            f"{n_coarse * n_fine} ({n_coarse}x{n_fine}) — expected cell "
            f"width rises to ~{n_rows // (n_coarse * n_fine)} rows; raise "
            f"target_cell (SemDeDup's own move at scale) or add a level",
            UserWarning,
            stacklevel=2,
        )
    return n_coarse, n_fine


def adaptive_n_centroids(n_rows: int, target_cell: int = 64, floor: int = 32) -> int:
    """SemDeDup's scaling law as a default: size the codebook so the
    EXPECTED cell stays ~``target_cell`` rows (pair work per cell is then
    constant as the corpus grows — 50k clusters at LAION scale is this
    same rule).  Floored so small fixtures keep a stable codebook; both
    the registered semantic queries and their DuckDB oracles derive the
    count from the same row count, so parity holds at every SF."""
    return max(floor, n_rows // target_cell)


def _flat_cb_lit(cents: np.ndarray) -> "F.Column":
    """The whole codebook as ONE flat ``array<double>`` literal — a single
    opaque JVM Literal (one py4j hop, one plan node), sliced per centroid
    in-plan.  The r12 IVF-PQ ADC precedent: ``cents[j][i] ==
    flat[j*dim + i]``, so a fold against ``slice(flat, j*dim+1, dim)``
    reads bitwise the same doubles as one against ``cents[j]``."""
    flat = np.ascontiguousarray(np.asarray(cents, dtype=np.float64).reshape(-1))
    if not np.isfinite(flat).all():
        raise ValueError(
            "_flat_cb_lit: non-finite codebook component — degenerate "
            "centroid training data (ADVICE r12)"
        )
    return F.lit(flat)


def _flat_structs_sql(n_cents: int, dim: int) -> str:
    """SQL text of the per-centroid ``struct(dp, -cell)`` array computed
    against the flat codebook column ``__cb`` and vector column ``__v`` —
    the any-codebook-size twin of the per-cell-literal struct list in
    :func:`_rank_cells`.  The dot is
    the same left fold (``aggregate(zip_with(...), 0.0D, +)``) as
    :func:`_dot_fold_sql`, so every dp is bit-identical to both the
    literal path and the numpy :func:`fold_dots` replay (parity asserted
    in tests/test_llm_ops.py).  Plan size is O(1) in cells and dim (one
    Literal + one transform loop), so this path replaces the Arrow UDF
    above INPLAN_MAX_CENTROIDS: the ArrowEvalPython assignment was
    measured bimodal under the graded local[32] bench (3.5 s steady /
    20-43 s when 32 tasks pay concurrent codegen + python-worker setup —
    the r12 dedup_semantic_docs 48 s regression), while this expression
    is map-only JVM codegen with no Python boundary at all (guide §4)."""
    if n_cents < 1:
        # sequence(0, -1) counts DOWN to [0, -1]: negative slice offsets,
        # not an empty array
        raise ValueError("_flat_structs_sql: empty codebook (n_cents < 1)")
    dot = (
        f"aggregate(zip_with(`__v`, slice(`__cb`, __j * {dim} + 1, {dim}), "
        "(__x, __y) -> CAST(__x AS DOUBLE) * CAST(__y AS DOUBLE)), "
        "0.0D, (__acc, __e) -> __acc + __e)"
    )
    return (
        f"transform(sequence(0, {n_cents - 1}), "
        f"__j -> struct({dot} AS dp, -__j AS negcell))"
    )


# In-plan fold-dot ranking embeds one literal centroid column per cell:
# past ~64 cells the projection carries thousands of literals and hundreds
# of higher-order expressions — plan bloat and janino pressure.  Larger
# codebooks take the FLAT-literal form instead (one opaque Literal + a
# transform loop, r13; previously the Arrow UDF, whose ArrowEvalPython
# stage was measured bimodal at local[32] — the r12 dedup_semantic_docs
# 48 s regression).  Below the threshold the per-cell literals stay: the
# flat form forced everywhere measured slower on the 32-cell family
# (dedup_semantic_groups 7.1 -> 8.6 s median, sf0.1, local[4]).  The
# switch is PHYSICAL only: both forms — and _cell_assign_udf and the
# DuckDB oracles — run the same fold arithmetic (fold_dots) and the
# dp-desc/cell-asc tiebreak (top_cells), so they agree on every
# assignment, ties included (round-8 advice #1; parity asserted in
# tests/test_llm_ops.py).  Read ONLY by _rank_cells.
INPLAN_MAX_CENTROIDS = 64


def _rank_cells(
    df: DataFrame,
    cents: np.ndarray,
    id_col: str,
    vec_col: str,
    n: int = 1,
    margin: "float | None" = None,
) -> DataFrame:
    """The in-plan coarse quantizer of a flat codebook — every in-plan
    cell ranking (assignment, multi-probe, prototypicality scoring,
    two-level sampling) goes through here.  Each vector's cells rank by
    the raw fold dot as ``struct(dp, -cell)`` values, so struct order is
    the oracle's ``ORDER BY dp DESC, cell`` exactly (raw un-normalized
    dot: the argmax is scale-invariant, and parity holds by construction
    rather than by "BLAS rounds like the SQL fold", code-review r8 #8).
    Map-only: no Arrow hop, no per-row normalization.

    Returns ``(id_col, __v, cell, __dp)``: the best cell (tie -> lowest)
    and its dp.  ``n > 1`` adds ``__cells``, the best cell followed by
    ranks 2..n — with an adaptive ``margin`` only the ranks within
    ``dp1 - dp_r < margin * |v|`` of the best (the boundary test the
    oracle replays; clear-interior vectors probe one cell).

    The struct array is built once per row: ``n == 1`` takes its
    ``array_max`` (no sort); ``n > 1`` binds the ascending ``array_sort``
    (best LAST), the best struct and the norm budget in their own
    projection columns, so the slice/filter lambdas read columns instead
    of re-sorting the whole codebook per probe element (ADVICE r13)."""
    cents = np.asarray(cents, dtype=np.float64)
    cols = [F.col(id_col), F.col(vec_col).alias("__v")]
    if len(cents) <= INPLAN_MAX_CENTROIDS:
        structs = ", ".join(
            f"struct({_dot_fold_sql('`__v`', _vec_lit_sql(c))} AS dp, {-j} AS negcell)"
            for j, c in enumerate(cents)
        )
        arr = f"array({structs})"
    else:
        arr = _flat_structs_sql(len(cents), cents.shape[1])
        cols.append(_flat_cb_lit(cents).alias("__cb"))
    best = F.col("__best")
    cell = (-best["negcell"]).cast("int")
    out = [id_col, "__v", cell.alias("cell"), best["dp"].alias("__dp")]
    ranked = df.select(*cols)
    if n <= 1:
        return ranked.withColumn("__best", F.expr(f"array_max({arr})")).select(*out)
    ranked = ranked.select(id_col, "__v", F.expr(f"array_sort({arr})").alias("__ranks"))
    k = min(n, len(cents))
    rest = f"slice(__ranks, -{k}, {k - 1})"  # ranks k..2, best excluded
    if margin is not None:
        budget = f"{repr(float(margin))}D * {_norm_fold_sql('`__v`')}"
        ranked = ranked.withColumn("__budget", F.expr(budget))
        rest = f"filter({rest}, __t -> (__best.dp - __t.dp) < __budget)"
    cells = F.concat(
        F.array(cell), F.expr(f"transform({rest}, __t -> CAST(-__t.negcell AS INT))")
    )
    return ranked.withColumn("__best", F.element_at("__ranks", -1)).select(
        *out, cells.alias("__cells")
    )


def semantic_dedup_incremental(
    batch: DataFrame,
    corpus: DataFrame,
    dim: int,
    threshold: float = 0.9,
    n_centroids: int = 32,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: "np.ndarray | tuple | None" = None,
    max_cell: "int | None" = SEM_MAX_CELL,
) -> DataFrame:
    """Incremental-ingest semantic dedup: gate each BATCH vector against
    the standing CORPUS — the semantic twin of
    :func:`pyfads.dedup.incremental_dedup` (which gates on MinHash).  A
    batch row is a duplicate when any corpus vector in its cell sits at
    cosine >= ``threshold``; the corpus always wins (the newcomer drops —
    no keeper priority, unlike the batch :func:`semantic_dedup`).
    Returns ALL batch rows: ``(vec_id, cell, n_corpus_dups, is_new)``.
    Within-batch duplicates are not gated here — run
    :func:`semantic_dedup` over the surviving batch for that.

    Scale shape: the codebook is the train-once artifact (pass
    ``centroids``; training on the corpus otherwise); both sides assign
    cells map-only in-plan; the only wide exchange is the batch-corpus
    equi-join on the cell id — and the BATCH side of an ingest tick is
    small, so Catalyst broadcasts it.
    """
    batch = drop_zero_norm(batch, dim, vec_col)
    corpus = drop_zero_norm(corpus, dim, vec_col)
    cents = (
        centroids
        if centroids is not None
        else train_ivf_centroids(corpus, dim, n_centroids, seed, id_col, vec_col)
    )
    def _assign(df: DataFrame) -> DataFrame:
        return _assign_cells(df, cents, id_col, vec_col)

    bt = _assign(batch)
    cp = _assign(corpus).select(
        F.col(id_col).alias("c_id"),
        F.col("__v").alias("c_vec"),
        _norm_fold("__v").alias("c_n"),
        "cell",
    )
    return _semantic_gate(bt, cp, id_col, threshold, max_cell)


def _salt_cells(
    df: DataFrame, id_col, max_cell: int, cell_col: str = "cell"
) -> DataFrame:
    """Split cells wider than ``max_cell`` into salted sub-cells — the
    semantic twin of the MinHash banding's ``_salt_cap``
    (:func:`pyfads.dedup.minhash_band_pairs`): a B-row cell contributes
    B^2 join rows to a within-cell self-join, so one degenerate
    mass-duplicate cell hot-spots a task at 100 TB.  The salted key
    bounds every task at max_cell^2 pair work; recall loss is confined to
    pathological cells (pairs spanning two sub-cells of one pile are
    missed — the same bounded-loss contract the MinHash cap documents;
    healthy cells sit far under the cap and are untouched).  The split is
    id-ordered row_number arithmetic, fully deterministic, so the DuckDB
    twins replay it bit-for-bit (the minhash/image-neardup oracle
    precedent).  Adds a string ``__scell`` column."""
    w = Window.partitionBy(cell_col).orderBy(id_col)
    return df.withColumn(
        "__scell",
        F.concat_ws(
            "#",
            F.col(cell_col).cast("string"),
            ((F.row_number().over(w) - 1) / F.lit(int(max_cell)))
            .cast("long")
            .cast("string"),
        ),
    )


def _cells_over_cap(df: DataFrame, max_cell: int, cell_col: str = "cell") -> bool:
    """True iff any cell holds more than ``max_cell`` rows — the
    short-circuit that makes the hot-cell salt cap FREE for healthy
    corpora (r10 verdict: the unconditional row_number window was a full
    corpus shuffle+sort even when no cell was hot, ~2x on dedup_semantic).
    One map-side-combined count pass: only ``(cell, partial count)`` rows
    ever shuffle, never vectors.  This is an EAGER action — callers must
    pass a ``localCheckpoint``-ed frame (r11 verdict: checking the raw
    plan re-evaluated the whole assignment subtree once for the check and
    again for the real query, ~1.8x on the family).  Skipping the split
    when this is False is
    bit-identical to applying it: the id-ordered row_number split then
    labels every row sub 0, i.e. relabels ``cell`` as ``cell#0`` without
    changing any group — so the DuckDB twins keep replaying the
    unconditional split and still match."""
    top = df.groupBy(cell_col).agg(F.count(F.lit(1)).alias("__n")).agg(
        F.max("__n")
    ).first()[0]
    return top is not None and int(top) > int(max_cell)


def _semantic_gate(
    bt: DataFrame,
    cp: DataFrame,
    id_col: str,
    threshold: float,
    max_cell: "int | None" = SEM_MAX_CELL,
) -> DataFrame:
    """The incremental-gate join body, shared by the train-inline
    (:func:`semantic_dedup_incremental`) and the store-served
    (:func:`semantic_dedup_incremental_served`) paths: ``bt`` is the
    assigned batch ``(id_col, __v, cell)``, ``cp`` the assigned corpus
    ``(c_id, c_vec, c_n, cell)`` (norms precomputed — from the store on
    the served path, bit-identical either way).

    Hot-cell handling here is EXACT, unlike the lossy salt cap in the
    self-join family: a gate's ``n_corpus_dups`` drives admission, and a
    missed corpus dup admits a duplicate into the corpus permanently — so
    instead of confining pairs to sub-cells, the corpus side is split
    into ``max_cell``-row sub-buckets (``c_sub``, precomputed by the
    store when present) and each batch row is REPLICATED across its
    cell's sub-buckets via a broadcast (cell, n_sub) dim.  Every
    (batch, corpus) pair still meets exactly once — same counts, same
    oracle — but a degenerate corpus cell spreads over ceil(B/max_cell)
    tasks instead of one."""
    b = bt.select(
        F.col(id_col).alias("b_id"),
        F.col("__v").alias("b_vec"),
        _norm_fold("__v").alias("b_n"),
        "cell",
    )
    cos = _dot_fold("b_vec", "c_vec") / (F.col("b_n") * F.col("c_n"))
    if max_cell is not None and "c_sub" not in cp.columns:
        # train-inline path: the cap check is an eager action, so
        # materialize the assigned corpus ONCE (localCheckpoint) and let
        # the check, the nsub aggregate, and the gate join all read the
        # cached (c_id, c_vec, c_n, cell) rows instead of re-running the
        # assignment folds per action (the r11 double-evaluation).  The
        # served path's store precomputes c_sub and never reaches this.
        cp = cp.localCheckpoint(eager=False)
        if not _cells_over_cap(cp, max_cell):
            # no hot corpus cell: sub-bucketing would label every row
            # c_sub 0 and replicate each batch row exactly once —
            # identical pairs, so skip the window + explode
            max_cell = None
    if max_cell is not None:
        if "c_sub" not in cp.columns:
            w = Window.partitionBy("cell").orderBy("c_id")
            cp = cp.withColumn(
                "c_sub",
                ((F.row_number().over(w) - 1) / F.lit(int(max_cell))).cast("int"),
            )
        nsub = cp.groupBy("cell").agg((F.max("c_sub") + 1).alias("__nsub"))
        b = (
            b.join(F.broadcast(nsub), "cell", "left")
            .withColumn(
                "c_sub",
                F.explode(
                    F.sequence(F.lit(0), F.coalesce(F.col("__nsub"), F.lit(1)) - 1)
                ),
            )
            .drop("__nsub")
        )
        keys = ["cell", "c_sub"]
    else:
        keys = ["cell"]
    dups = (
        b.join(cp, keys)
        .withColumn("__cos", cos)
        .filter(F.col("__cos") >= F.lit(float(threshold)))
        .groupBy("b_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_corpus_dups"))
    )
    out = bt.join(dups, bt[id_col] == dups["b_id"], "left")
    n = F.coalesce(F.col("n_corpus_dups"), F.lit(0)).cast("long")
    return out.select(
        F.col(id_col), F.col("cell"), n.alias("n_corpus_dups"), (n == 0).alias("is_new")
    )


def _assign_cells(
    df: DataFrame, cents: "np.ndarray | tuple", id_col: str, vec_col: str
) -> DataFrame:
    """Single-cell assignment, any codebook shape — returns ``(id_col,
    __v, cell)`` (plus ``__dp`` for a flat codebook).  A flat array is
    ranked in-plan by :func:`_rank_cells`; a ``(coarse, fine,
    fine_coarse)`` tuple takes the hierarchical two-stage UDF, so every
    gate (incremental, served, streaming) accepts two-level codebooks."""
    if isinstance(cents, tuple):
        coarse, fine, fine_coarse = cents
        return df.select(
            F.col(id_col),
            F.col(vec_col).alias("__v"),
            _two_level_assign_udf(coarse, fine, fine_coarse)(F.col(vec_col)).alias(
                "cell"
            ),
        )
    return _rank_cells(df, cents, id_col, vec_col)


def _write_cent_table(spark, path: str, cents: np.ndarray) -> None:
    crows = [
        (int(c), int(j), float(v))
        for c, row in enumerate(cents)
        for j, v in enumerate(row)
    ]
    spark.createDataFrame(crows, "cell int, j int, v double").coalesce(1).write.mode(
        "overwrite"
    ).parquet(path)


def _read_cent_table(spark, path: str) -> np.ndarray:
    c = spark.read.parquet(path).collect()
    nc = max(r.cell for r in c) + 1
    dim = max(r.j for r in c) + 1
    cents = np.zeros((nc, dim))
    for r in c:
        cents[r.cell, r.j] = r.v
    return cents


def write_semantic_store(
    spark,
    path: str,
    cents: "np.ndarray | tuple",
    corpus: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cell: int = SEM_MAX_CELL,
) -> None:
    """Persist the semantic-dedup SERVE-MANY artifact (the
    write_codebook_store / write_signature_store precedent, r8 verdict
    #6): the trained codebook plus the standing corpus pre-assigned to its
    cells with the fold norm precomputed — so incremental gates and the
    streaming gate never retrain and never re-assign the corpus.  Doubles
    round-trip parquet exactly, so a store-served gate agrees
    BIT-FOR-BIT with the train-inline one (asserted in tests).

    Layout (all plain parquet, engine-portable):
      ``{path}/centroids``  (cell int, j int, v double) — the flat
      codebook, or the FINE level of a two-level one (the global cell id
      is the fine index either way)
      ``{path}/centroids_coarse`` + ``{path}/fine_coarse`` — present only
      for two-level codebooks: the coarse level and the fid->coarse map
      ``{path}/corpus``     (c_id, c_vec, c_n double, c_sub int,
      partitioned by ``cell``) — PARTITIONED BY THE CELL ID so a gate's
      join (with ``prune_cells``) reads only the probed cells' files, and
      carrying the precomputed ``c_sub`` sub-bucket index (id-ordered
      row_number // ``max_cell``) so the gate's exact hot-cell
      replication never re-windows the corpus at serve time."""
    if isinstance(cents, tuple):
        coarse, fine, fine_coarse = cents
        _write_cent_table(spark, path + "/centroids", np.asarray(fine))
        _write_cent_table(spark, path + "/centroids_coarse", np.asarray(coarse))
        spark.createDataFrame(
            [(int(j), int(fine_coarse[j])) for j in range(len(fine_coarse))],
            "fid int, ccell int",
        ).coalesce(1).write.mode("overwrite").parquet(path + "/fine_coarse")
        levels = 2
    else:
        _write_cent_table(spark, path + "/centroids", cents)
        levels = 1
    # the explicit marker is the source of truth for the reader: a local
    # isdir() probe is false on hdfs/s3 paths (silently degrading a
    # two-level store to flat), and overwriting a two-level store with a
    # flat one must not leave the stale coarse tables believable.  The
    # sub-bucket cap is persisted too, so refresh ticks continue the same
    # packing without the caller re-supplying it.
    spark.createDataFrame(
        [(levels, int(max_cell))], "levels int, max_cell int"
    ).coalesce(1).write.mode("overwrite").parquet(path + "/meta")
    corpus = drop_zero_norm(corpus, dim, vec_col)
    cp = _assign_cells(corpus, cents, id_col, vec_col).select(
        F.col(id_col).alias("c_id"),
        F.col("__v").alias("c_vec"),
        _norm_fold("__v").alias("c_n"),
        "cell",
    )
    w = Window.partitionBy("cell").orderBy("c_id")
    cp = cp.withColumn(
        "c_sub", ((F.row_number().over(w) - 1) / F.lit(int(max_cell))).cast("int")
    )
    cp.write.mode("overwrite").partitionBy("cell").parquet(path + "/corpus")


def read_semantic_store(spark, path: str):
    """Load a :func:`write_semantic_store` artifact: the exact codebook
    (bounded collect — a flat array, or the ``(coarse, fine, fine_coarse)``
    tuple if the store's ``/meta`` marker says it was written two-level)
    and the assigned-corpus DataFrame (stays distributed — never
    collected).  The marker, not a filesystem probe, decides the shape —
    portable to any Spark filesystem and immune to stale coarse tables
    left by an overwrite."""
    cents = _read_cent_table(spark, path + "/centroids")
    levels = spark.read.parquet(path + "/meta").collect()[0].levels
    if levels == 2:
        coarse = _read_cent_table(spark, path + "/centroids_coarse")
        fc_rows = spark.read.parquet(path + "/fine_coarse").collect()
        fine_coarse = np.zeros(len(fc_rows), dtype=np.int64)
        for r in fc_rows:
            fine_coarse[r.fid] = r.ccell
        cents = (coarse, cents, fine_coarse)
    return cents, spark.read.parquet(path + "/corpus")


def semantic_refresh_store(
    spark,
    path: str,
    batch: DataFrame,
    dim: int,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """One maintenance tick of a STANDING semantic corpus (r9 verdict #2 —
    the semantic twin of the lexical ``corpus_refresh_store`` loop): gate
    ``batch`` against the persisted :func:`write_semantic_store` artifact
    (:func:`semantic_dedup_incremental_served` — no retraining, no corpus
    re-assignment, cell-pruned scan), then APPEND the admitted survivors
    back into the store's corpus table pre-assigned to their cells with
    fold norms and ``c_sub`` sub-bucket indices that CONTINUE each cell's
    packing — so the next tick gates against corpus + admissions and the
    exact hot-cell replication stays tight (buckets fill before new ones
    open).  Returns the batch verdicts ``(id_col, cell, n_corpus_dups,
    is_new)``, materialized BEFORE the append (localCheckpoint) so the
    returned frame can never re-read the store it just grew.

    Within-batch duplicates are not gated against each other (the corpus
    is the authority — same contract as the lexical loop); run
    :func:`semantic_dedup` over a batch first if intra-batch piles are
    expected.  Scale shape per tick: one bounded meta/codebook read, the
    pruned gate join, one broadcast per-cell count, one batch-sized
    partitioned append — the corpus is never rewritten."""
    cents, corpus = read_semantic_store(spark, path)
    meta = spark.read.parquet(path + "/meta").collect()[0]
    if "max_cell" not in meta.__fields__ or "c_sub" not in corpus.columns:
        # a pre-r10 store has an unpartitioned corpus without c_sub — a
        # partitionBy("cell") append into it would leave conflicting
        # directory structures (code-review r10); refuse loudly instead
        # of corrupting the layout
        raise ValueError(
            "semantic_refresh_store: the store at "
            f"{path!r} predates the cell-partitioned layout (no max_cell "
            "meta / c_sub column) — rewrite it with write_semantic_store "
            "before refreshing"
        )
    cap = int(meta["max_cell"])
    verd = semantic_dedup_incremental_served(
        batch, cents, corpus, dim, threshold, id_col, vec_col, max_cell=cap
    ).localCheckpoint()
    # the checkpointed verdicts already hold every batch row's cell — join
    # them back instead of re-running the assignment pass (code-review r10)
    ad = drop_zero_norm(batch, dim, vec_col).join(
        verd.filter("is_new").select(id_col, "cell"), id_col
    ).select(
        F.col(id_col).alias("c_id"),
        F.col(vec_col).alias("c_vec"),
        _norm_fold(vec_col).alias("c_n"),
        "cell",
    )
    base = corpus.groupBy("cell").agg(F.count(F.lit(1)).alias("__base"))
    w = Window.partitionBy("cell").orderBy("c_id")
    ad = (
        ad.join(F.broadcast(base), "cell", "left")
        .withColumn(
            "c_sub",
            (
                (F.coalesce(F.col("__base"), F.lit(0)) + F.row_number().over(w) - 1)
                / F.lit(cap)
            )
            .cast("long")
            .cast("int"),
        )
        .select("c_id", "c_vec", "c_n", "c_sub", "cell")
        .localCheckpoint()  # freeze before the self-referential append
    )
    ad.write.mode("append").partitionBy("cell").parquet(path + "/corpus")
    return verd


def semantic_dedup_incremental_served(
    batch: DataFrame,
    store_cents: "np.ndarray | tuple",
    store_corpus: DataFrame,
    dim: int,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cell: "int | None" = SEM_MAX_CELL,
    prune_cells: bool = True,
) -> DataFrame:
    """:func:`semantic_dedup_incremental` served from a persisted
    :func:`write_semantic_store` artifact: no training and no corpus
    re-assignment in the query path — the plan is batch-assign (map-only)
    + one equi-join on the cell id against the store table.  Output is
    bit-identical to the train-inline gate (same oracle).

    ``prune_cells`` (default on) collects the batch's DISTINCT cell ids
    (bounded — at most the codebook size, the same bounded-collect class
    as the codebook itself) and pushes ``cell IN (...)`` into the store
    scan: with the store's ``partitionBy("cell")`` layout the gate join
    then reads ONLY the probed cells' files — partition pruning an ingest
    tick needs at 100 TB, where a small batch touches a handful of cells.
    Exact (corpus rows in unprobed cells cannot contribute dups).
    ``max_cell`` handles a degenerate corpus cell exactly via sub-bucket
    replication (see :func:`_semantic_gate`); the store's precomputed
    ``c_sub`` granularity wins when present."""
    batch = drop_zero_norm(batch, dim, vec_col)
    bt = _assign_cells(batch, store_cents, id_col, vec_col)
    if prune_cells:
        # pin the assigned batch first: the distinct-cells collect and the
        # gate plan would otherwise each run the (Arrow-UDF at scale)
        # assignment pass over the whole batch (code-review r10)
        bt = bt.localCheckpoint()
        cells = [int(r["cell"]) for r in bt.select("cell").distinct().collect()]
        store_corpus = store_corpus.filter(F.col("cell").isin(cells))
    return _semantic_gate(bt, store_corpus, id_col, threshold, max_cell)


def semantic_gate_stream(
    stream: DataFrame,
    store_cents: "np.ndarray | tuple",
    store_corpus: DataFrame,
    dim: int,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Streaming semantic ingest gate — the semantic twin of
    :func:`pyfads.dedup.contamination_gate_stream` (r8 verdict #5): score
    each incoming record against the STANDING corpus and emit only the
    genuinely-new rows (the batch gate's ``is_new`` survivors,
    label-for-label — asserted in tests/test_llm_ops.py).

    Shape: cell assignment is a stateless projection (in-plan fold argmax,
    or the bit-exact Arrow UDF past 64 cells); the corpus side is the
    persisted :func:`write_semantic_store` artifact, so the join is
    STREAM-STATIC — Spark re-plans the static side per micro-batch, no
    streaming state, no watermark.  A LEFT ANTI join (supported
    stream-static) drops every batch row with a same-cell corpus neighbor
    at fold-cosine >= threshold; survivors keep ``(id_col, cell)``.
    Rows whose vector is zero-norm are dropped (cosine undefined), as in
    every batch entry point."""
    stream = drop_zero_norm(stream, dim, vec_col)
    bt = _assign_cells(stream, store_cents, id_col, vec_col)
    b = bt.select(
        F.col(id_col), F.col("__v").alias("b_vec"), _norm_fold("__v").alias("b_n"), "cell"
    )
    cos = _dot_fold("b_vec", "c_vec") / (F.col("b_n") * F.col("c_n"))
    cond = (b["cell"] == store_corpus["cell"]) & (cos >= F.lit(float(threshold)))
    return b.join(store_corpus, cond, "left_anti").select(id_col, "cell")


def semantic_dedup(
    embeddings: DataFrame,
    dim: int,
    threshold: float = 0.9,
    n_centroids: int = 32,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: "np.ndarray | tuple | None" = None,
    n_assign: int = 1,
    two_level: bool = False,
    n_fine: int = 8,
    max_cell: "int | None" = SEM_MAX_CELL,
    probe_margin: "float | None" = None,
) -> DataFrame:
    """SemDeDup-class semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embedding space with spherical k-means,
    then inside each cluster drop every vector that has a higher-priority
    neighbor at cosine >= ``threshold`` — paraphrase-level redundancy that
    lexical MinHash/SimHash/ExactSubstr cannot see.

    Keeper rule (the paper's): within a τ-duplicate relation the member
    with the LOWEST cosine to its cluster centroid survives — keeping the
    least-typical example preserves diversity.  Ties break on the id.
    This is the pairwise (transitive-chain) variant: ANY higher-priority
    τ-neighbor disqualifies a row, whether or not that neighbor itself
    survives — one self-join instead of the paper's sequential per-cluster
    scan (at τ >= 0.9 duplicate chains are short and the survivor sets
    nearly coincide; a strict-sequential replay would need an iterative
    loop like :func:`pyfads.dedup.connected_components`).

    Returns ALL rows: ``(vec_id, cell, centroid_cos, n_better_neighbors,
    is_kept)``.

    Codebooks: ``centroids`` may be a flat (n, dim) array, or the
    ``(coarse, fine, fine_coarse)`` tuple from
    :func:`train_two_level_centroids` for hierarchical assignment
    (``two_level=True`` trains one in place with ``n_coarse=n_centroids``
    and ``n_fine`` fine cells each) — the scale path when the adaptive law
    asks for more cells than one k-means sample can support; the global
    cell id is then the fine centroid's index and the keeper priority is
    the cosine to the FINE centroid.

    Scale shape: the codebook is trained on a bounded md5-ordered sample
    (:func:`train_ivf_centroids`) and broadcast; cell assignment (and,
    for ``n_assign > 1``, the probe ranking) is one map-only in-plan pass
    (:func:`_rank_cells`); the only wide exchange is the within-cell
    self-join on the int cell id — O(sum c_i^2) pair work, NEVER corpus
    all-pairs.  At 100 TB, size ``n_centroids`` so the expected cell is
    bounded (SemDeDup used 50k clusters for LAION-scale — two-level
    n_coarse=4096 x n_fine=16 here); the centroid_cos
    priority and the pair cosine are FOLD-form arithmetic (same
    left-associated double sum as the chain, one higher-order expression
    each): five 64-dim chains in one stage overflow janino's 64KB method
    limit and drop the whole stage to interpreted projection (measured
    20.6s -> fold fixed it), so this operator forces the fold path at
    every dim; the DuckDB oracle folds identically.
    """
    embeddings = drop_zero_norm(embeddings, dim, vec_col)
    if two_level and centroids is None:
        centroids = train_two_level_centroids(
            embeddings, dim, n_centroids, n_fine, seed, id_col, vec_col
        )
    cents = (
        centroids
        if centroids is not None
        else train_ivf_centroids(embeddings, dim, n_centroids, seed, id_col, vec_col)
    )
    if probe_margin is not None and n_assign <= 1:
        raise ValueError(
            "semantic_dedup: probe_margin gates the rank >= 2 probes — "
            "it requires n_assign >= 2"
        )
    hierarchical = isinstance(cents, tuple)
    codebook = cents  # full shape (tuple or flat) for _assign_cells
    if hierarchical:
        if n_assign > 1:
            raise ValueError(
                "multi-probe (n_assign > 1) is not supported with a "
                "two-level codebook — probe the flat codebook instead"
            )
        cents = np.asarray(cents[1])  # cell id = fine index; priority vs fine
    spark = embeddings.sparkSession
    cents_df = F.broadcast(
        spark.createDataFrame(
            [(j, [float(x) for x in cents[j]]) for j in range(len(cents))],
            "cell int, cvec array<double>",
        )
    )
    probe_cols = []
    if n_assign > 1:
        # multi-probe ranks each vector ONCE: the probe-cell array rides the
        # checkpointed withp below next to the primary cell (its first
        # element)
        assigned = _rank_cells(embeddings, cents, id_col, vec_col, n_assign, probe_margin)
        probe_cols = ["__cells"]
    else:
        assigned = _assign_cells(embeddings, codebook, id_col, vec_col)
    # priority = cosine to the own-cell centroid; centroids are unit-norm
    # by construction, so cos = dot / |v|.  The row's norm is computed
    # ONCE here and carried through the pair join (the quadratic stage)
    # instead of re-folded per candidate pair (code-review r8 #6) —
    # bit-identical doubles, one-third the per-pair arithmetic.
    # localCheckpoint (the embedding_near_dup_pairs pattern above): the
    # scan + cell-assignment fold + norm/centroid folds run ONCE and only
    # the materialized (id, vec, cell, 2 doubles) rows are re-read by the
    # hot-cell cap check, BOTH self-join sides, and the final left join —
    # r11's eager `_cells_over_cap` over the un-checkpointed frame
    # re-evaluated the whole assignment subtree per action (~1.8x on the
    # dedup_semantic family in the r11 driver capture).  eager=False: the
    # cap check (or the first real job) materializes it.
    withp = (
        assigned.join(cents_df, "cell")
        .select(
            id_col,
            "cell",
            "__v",
            _norm_fold("__v").alias("__n"),
            (_dot_fold("__v", "cvec") / _norm_fold("__v")).alias("centroid_cos"),
            *probe_cols,
        )
        .localCheckpoint(eager=False)
    )
    # hot-cell salt cap (r9 verdict #1): the keeper self-join below is the
    # quadratic stage, and k-means cannot split a mass-duplicate pile —
    # salt the join key so a degenerate cell costs O(B * max_cell) instead
    # of O(B^2).  Lossy exactly like the MinHash cap: a pile's sub-cells
    # each keep one survivor instead of one overall (the twins replay the
    # identical id-ordered split, so the oracle still matches bit-for-bit).
    # Only the single-assignment path joins on withp's key — the
    # multi-probe path salts its probe frame instead, so salting withp
    # there would add a full-corpus window shuffle for an unread column.
    key = "cell"
    if (
        max_cell is not None
        and n_assign <= 1
        # check the CHECKPOINTED frame (withp has the same rows/cells as
        # assigned — an inner join to the complete 1-row-per-cell broadcast
        # codebook), so the count pass reads cached blocks, not the plan
        and _cells_over_cap(withp, max_cell)
    ):
        withp = _salt_cells(withp, id_col, max_cell)
        key = "__scell"
    a = withp.select(
        F.col(id_col).alias("a_id"),
        F.col("__v").alias("a_vec"),
        F.col("__n").alias("a_n"),
        F.col(key),
        F.col("centroid_cos").alias("a_cc"),
    )
    b = withp.select(
        F.col(id_col).alias("b_id"),
        F.col("__v").alias("b_vec"),
        F.col("__n").alias("b_n"),
        F.col(key),
        F.col("centroid_cos").alias("b_cc"),
    )
    better = (F.col("a_cc") < F.col("b_cc")) | (
        (F.col("a_cc") == F.col("b_cc")) & (F.col("a_id") < F.col("b_id"))
    )
    cos = _dot_fold("a_vec", "b_vec") / (F.col("a_n") * F.col("b_n"))
    if n_assign <= 1:
        cand = a.join(b, key)
    else:
        # multi-probe: tau-pairs whose members straddle a cell BOUNDARY —
        # SemDeDup's known recall gap — are candidates whenever ANY of
        # their top-n_assign cells coincide; dedup to distinct pairs
        # BEFORE the verify so a pair sharing two probe cells counts once.
        # Priority stays the PRIMARY cell's centroid_cos.  probe_margin
        # makes the probe ADAPTIVE (r9 verdict #5): a vector probes its
        # rank-r cell (r >= 2) only when dp1 - dp_r < margin * |v| — near
        # an actual boundary — cutting candidate volume for the bulk of
        # clear-interior vectors while keeping the boundary-pair recall
        # the margin was sized for (oracle replays the same test).  The
        # probe frame explodes withp's checkpointed probe-cell array, so
        # the cap check and both self-join sides read cached rows.
        probe = withp.select(id_col, F.explode("__cells").alias("cell"))
        pkey = "cell"
        if max_cell is not None and _cells_over_cap(probe, max_cell):
            # same cap on the probe buckets: each (row, probed-cell) entry
            # salts by id order within the cell, bounding the candidate
            # self-join per sub-bucket (twin replays the split per probe)
            probe = _salt_cells(probe, id_col, max_cell)
            pkey = "__scell"
        pc = (
            probe.select(F.col(id_col).alias("a_id"), pkey)
            .join(probe.select(F.col(id_col).alias("b_id"), pkey), pkey)
            .filter(F.col("a_id") != F.col("b_id"))
            .select("a_id", "b_id")
            .distinct()
        )
        cand = pc.join(a.drop(key), "a_id").join(b.drop(key), "b_id")
    dropped = (
        cand
        .filter(better)
        .withColumn("__cos", cos)
        .filter(F.col("__cos") >= F.lit(float(threshold)))
        .groupBy("b_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_better_neighbors"))
    )
    out = withp.join(dropped, withp[id_col] == dropped["b_id"], "left")
    n = F.coalesce(F.col("n_better_neighbors"), F.lit(0)).cast("long")
    return out.select(
        F.col(id_col),
        F.col("cell"),
        F.col("centroid_cos"),
        n.alias("n_better_neighbors"),
        (n == 0).alias("is_kept"),
    )


def exact_refine(
    cand: DataFrame,
    embeddings: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact full-dim cosine re-rank of a ``(q_id, neighbor_id)``
    shortlist — the refine stage every two-stage retriever ends with
    (IVF-PQ refine, MRL prefix+refine).  The candidate ids join to the
    vector tables FIRST and the norms are computed on the joined
    shortlist-sized frame, so the O(dim) arithmetic runs for shortlist
    rows only (the 100 TB confinement); the bounded query side
    broadcasts.  Returns ``(q_id, neighbor_id, cosine, rank)``,
    ``rank <= k`` under the standard ``(cosine DESC, neighbor_id)``
    total order."""
    vq = F.broadcast(
        queries.select(F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec"))
    )
    vc = embeddings.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
    )
    j = (
        cand.join(vq, "q_id")
        .join(vc, "neighbor_id")
        .withColumn("q_norm", norm_expr("q_vec", dim))
        .withColumn("c_norm", norm_expr("c_vec", dim))
    )
    cos = dot_expr("q_vec", "c_vec", dim) / (F.col("q_norm") * F.col("c_norm"))
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.col("neighbor_id"))
    return (
        j.withColumn("cosine", cos)
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("q_id", "neighbor_id", "cosine", "rank")
    )


def semantic_tau_pairs(
    embeddings: DataFrame,
    dim: int,
    threshold: float = 0.9,
    n_centroids: int = 32,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: "np.ndarray | tuple | None" = None,
    max_cell: "int | None" = SEM_MAX_CELL,
) -> DataFrame:
    """The within-cell tau-edge list ``(a_id, b_id, cosine)`` with
    ``a_id < b_id`` — the undirected duplicate graph that
    :func:`semantic_dedup`'s keep-one view and the connected-components
    view (:func:`pyfads.dedup.connected_components` over these edges)
    both read from.  Same cells, same fold cosine as semantic_dedup; the
    only wide exchange is the cell equi-join — bounded per task by the
    ``max_cell`` salt cap (:func:`_salt_cells`, replayed by the DuckDB
    twin): the edge list of a B-row degenerate cell is itself O(B^2), so
    a lossy id-ordered split is the only scale-safe contract (``None``
    uncaps on trusted corpora)."""
    embeddings = drop_zero_norm(embeddings, dim, vec_col)
    cents = (
        centroids
        if centroids is not None
        else train_ivf_centroids(embeddings, dim, n_centroids, seed, id_col, vec_col)
    )
    # assignment + norm folds run once, materialized for the cap check and
    # both self-join sides (r11 double-evaluation fix — same pattern as
    # semantic_dedup above); the norm is precomputed per ROW here so the
    # self-join sides read a cached double instead of re-folding per side
    assigned = (
        _assign_cells(embeddings, cents, id_col, vec_col)
        .withColumn("__n", _norm_fold("__v"))
        .localCheckpoint(eager=False)
    )
    key = "cell"
    if max_cell is not None and _cells_over_cap(assigned, max_cell):
        assigned = _salt_cells(assigned, id_col, max_cell)
        key = "__scell"
    a = assigned.select(
        F.col(id_col).alias("a_id"),
        F.col("__v").alias("a_vec"),
        F.col("__n").alias("a_n"),
        key,
    )
    b = assigned.select(
        F.col(id_col).alias("b_id"),
        F.col("__v").alias("b_vec"),
        F.col("__n").alias("b_n"),
        key,
    )
    cos = _dot_fold("a_vec", "b_vec") / (F.col("a_n") * F.col("b_n"))
    return (
        a.join(b, key)
        .filter(F.col("a_id") < F.col("b_id"))
        .withColumn("cosine", cos)
        .filter(F.col("cosine") >= F.lit(float(threshold)))
        .select("a_id", "b_id", "cosine")
    )


def ann_ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    n_centroids: int = 32,
    n_probe: int = 4,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: np.ndarray | None = None,
    corpus_assign: int = 1,
    filter_col: "str | None" = None,
) -> DataFrame:
    """IVF approximate top-k: coarse-quantize every vector to its nearest
    centroid cell; queries probe their ``n_probe`` nearest cells; exact
    cosine re-rank runs only inside probed cells.

    The codebook is k-means-trained on a bounded sample of ``embeddings``
    (:func:`train_ivf_centroids`) unless ``centroids`` is supplied — pass a
    pre-trained array to reuse one codebook across queries/runs.

    ``corpus_assign`` > 1 replicates each corpus vector into its top-A
    cells (FAISS's multi-assignment): storage/shuffle grow A×, but at equal
    scan fraction recall beats widening ``n_probe`` alone — a neighbour is
    found if *any* of its A cells is probed.  Recall at a given (A,
    n_probe) is data-dependent: clustered real-world embeddings
    concentrate neighbours in few cells (high recall at ~10% scan);
    structureless Gaussian fixtures need far wider probing for the same
    recall (see tests/test_llm_ops.py for measured points).

    ``filter_col`` makes the search predicate-FILTERED: each query
    retrieves only among corpus vectors whose ``filter_col`` equals its
    own value, with the predicate riding IN the candidate equi-join key
    ``(cell, filter_col)`` — see :func:`ann_ivf_filtered_topk` for the
    full rationale.  ``None`` (the default) is the unfiltered search,
    byte-for-byte the pre-filter plan.

    The scale shape of FAISS-style IVF on Spark: the codebook is tiny and
    broadcast inside the Arrow-batched assignment UDF; the candidate join is
    an equi-join on the cell id (shuffle key = one int per vector), never
    all-pairs.  Recall grows with ``n_probe``; cost ∝ n_probe/n_centroids of
    brute force."""
    embeddings = drop_zero_norm(embeddings, dim, vec_col)
    queries = drop_zero_norm(queries, dim, vec_col)
    cents = (
        centroids
        if centroids is not None
        else train_ivf_centroids(embeddings, dim, n_centroids, seed, id_col, vec_col)
    )
    fcols = [F.col(filter_col).alias("__f")] if filter_col is not None else []
    fkeys = ["__f"] if filter_col is not None else []
    # assignment/probing stays on the Arrow-batched UDF here: an in-plan
    # flat-codebook fold was MEASURED 5x slower on this family (dim-1024
    # probing is 32 x 1024 multiply-adds per row — numpy BLAS inside the
    # UDF beats the JVM higher-order-function loop; ann_ivf_dim1024
    # 3.7 s -> 19.6 s in the r13 A/B), unlike the >64-cell semantic
    # assignment where the UDF stage was the bimodal-latency victim.
    cb = embeddings.select(
        F.col(id_col).alias("c_id"),
        *fcols,
        F.explode(_cell_assign_udf(cents, corpus_assign)(F.col(vec_col))).alias("cell"),
    )
    qb = queries.select(
        F.col(id_col).alias("q_id"),
        *fcols,
        F.explode(_cell_assign_udf(cents, n_probe)(F.col(vec_col))).alias("cell"),
    )
    cand = (
        qb.select("q_id", "cell", *fkeys)
        .join(cb.select("c_id", "cell", *fkeys), ["cell", *fkeys])
        .filter(F.col("q_id") != F.col("c_id"))
        .select("q_id", F.col("c_id").alias("neighbor_id"))
        .distinct()
    )
    vq = F.broadcast(
        queries.select(F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec"))
        .withColumn("q_norm", norm_expr("q_vec", dim))
    )
    vc = embeddings.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        norm_expr(vec_col, dim).alias("c_norm"),
    )
    cos = dot_expr("q_vec", "c_vec", dim) / (F.col("q_norm") * F.col("c_norm"))
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.col("neighbor_id"))
    return (
        cand.join(vq, "q_id")
        .join(vc, "neighbor_id")
        .withColumn("cosine", cos)
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("q_id", "neighbor_id", "cosine", "rank")
    )


def ann_ivf_filtered_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    dim: int,
    filter_col: str,
    k: int = 10,
    n_centroids: int = 32,
    n_probe: int = 4,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """Predicate-FILTERED IVF approximate top-k: each query retrieves only
    among corpus vectors whose ``filter_col`` equals the query's own value
    — the tenant-scoped / same-language / same-label "filtered vector
    search" every production vector store exposes (FAISS IDSelector,
    Milvus/Qdrant payload filters).

    The predicate is pushed BELOW candidate generation, not applied as a
    post-filter on an unfiltered top-k: the candidate equi-join key is the
    composite ``(cell, filter_col)``, so a query never shuffles, scores,
    or even *sees* a non-qualifying vector, and — unlike post-filtering —
    it cannot come home with fewer than ``k`` results merely because the
    unfiltered top-k happened to be dominated by non-matching vectors.

    Scale shape: identical to :func:`ann_ivf_topk` (tiny broadcast
    codebook inside the Arrow-batched assignment UDF; candidates from an
    equi-join, never all-pairs) — the composite join key only *narrows*
    every hash bucket, and for a selective filter it is the difference
    between scanning n_probe/n_centroids of the corpus and n_probe/
    n_centroids of one tenant's slice.  At 100 TB the corpus side would be
    written bucketed by (cell, filter_col) so repeated query batches probe
    with zero Exchange.

    One body with the unfiltered search: this delegates to
    :func:`ann_ivf_topk` with ``filter_col`` set (code-review r12 — a
    separate copy could not pick up IVF fixes or ``corpus_assign``
    multi-assignment), so every IVF feature works filtered too.
    """
    return ann_ivf_topk(
        embeddings,
        queries,
        dim,
        k=k,
        n_centroids=n_centroids,
        n_probe=n_probe,
        seed=seed,
        id_col=id_col,
        vec_col=vec_col,
        centroids=centroids,
        filter_col=filter_col,
    )


def mmr_select(
    ids: "list[int]",
    rel: np.ndarray,
    M: np.ndarray,
    k: int,
    lam: float,
) -> "list[tuple[int, int, int]]":
    """Greedy Maximal Marginal Relevance selection (Carbonell & Goldstein,
    SIGIR 1998) over ONE query's candidate shortlist:

        pick argmax over remaining d of
            lam * rel(d) - (1 - lam) * max over selected s of cos(d, s)

    (first pick has no diversity penalty).  Ties break on the smaller
    candidate id.  Returns ``[(neighbor_id, sel_rank, mmr_micros)]`` with
    the objective micro-quantized via np.round (half-even).

    SHARED between the Spark ``applyInPandas`` worker and the DuckDB
    golden-oracle builder (pyfads.golden.mmr_rerank_oracle) — both call
    this exact function on bit-identical float64 inputs, so the selection,
    ranks, and micros agree by construction, not by rounding luck.  The
    pairwise sims use broadcast-multiply + np.sum pairwise reduction (no
    BLAS dispatch) so the arithmetic is shape-deterministic.
    """
    n = len(ids)
    k = min(k, n)
    if n == 0:
        return []
    norms = np.sqrt((M * M).sum(axis=1))
    sims = (M[:, None, :] * M[None, :, :]).sum(axis=2) / np.outer(norms, norms)
    lam = np.float64(lam)
    one_m = np.float64(1.0) - lam
    # running per-candidate penalty: max over selected of sims[i, sel].
    # Maintained incrementally (max is order-independent, so this is
    # bit-identical to recomputing the max per step — code-review r12,
    # O(k*n) instead of O(k^2*n)).  None until the first pick: the TRUE
    # max can be negative (a diversity *boost*), so it must not clamp at 0.
    pen_arr: "np.ndarray | None" = None
    remaining = list(range(n))
    out: "list[tuple[int, int, int]]" = []
    for step in range(1, k + 1):
        best_i, best_score = None, None
        for i in remaining:
            pen = np.float64(0.0) if pen_arr is None else np.float64(pen_arr[i])
            score = lam * np.float64(rel[i]) - one_m * pen
            if (
                best_i is None
                or score > best_score
                or (score == best_score and ids[i] < ids[best_i])
            ):
                best_i, best_score = i, score
        remaining.remove(best_i)
        pen_arr = (
            sims[:, best_i].copy()
            if pen_arr is None
            else np.maximum(pen_arr, sims[:, best_i])
        )
        out.append((int(ids[best_i]), step, int(np.round(best_score * 1e6))))
    return out


def mmr_rerank(
    embeddings: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    pool: int = 20,
    lam: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """MMR-diversified retrieval: exact cosine top-``pool`` shortlist per
    query (:func:`cosine_topk` — JVM chain arithmetic, broadcast queries),
    then greedy :func:`mmr_select` re-ranking to ``k`` diverse results
    inside an Arrow-batched ``applyInPandas`` group per query.

    The sequential greedy loop is genuinely non-relational (each pick
    conditions on the set picked so far), so this is the documented
    custom-operator escape hatch — but it only ever touches ``pool`` rows
    per query: candidate generation stays declarative/distributed, the
    Python stage is O(pool^2 * k) per query and parallel across queries.
    At 100 TB the shortlist would come from the IVF path instead; the
    re-rank stage is unchanged.

    Output: ``(q_id, neighbor_id, sel_rank, mmr_micros)``.
    """
    # the output schema types ids as BIGINT (and mmr_select ints them) —
    # fail fast at the API boundary instead of a ValueError inside the
    # Arrow worker (code-review r12)
    id_type = dict(embeddings.dtypes).get(id_col)
    if id_type not in ("tinyint", "smallint", "int", "bigint"):
        raise ValueError(
            f"mmr_rerank requires an integral id column; {id_col!r} is {id_type}"
        )
    short = cosine_topk(embeddings, queries, dim, k=pool, id_col=id_col, vec_col=vec_col)
    cand = short.join(
        embeddings.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
        ),
        "neighbor_id",
    )
    lam_f = float(lam)

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("rank")
        ids = [int(x) for x in pdf["neighbor_id"]]
        rel = pdf["cosine"].to_numpy(dtype=np.float64)
        M = np.vstack(pdf["c_vec"].to_numpy()).astype(np.float64)
        qid = int(pdf["q_id"].iloc[0])
        rows = mmr_select(ids, rel, M, k, lam_f)
        return pd.DataFrame(
            [(qid, nid, r, s) for (nid, r, s) in rows],
            columns=["q_id", "neighbor_id", "sel_rank", "mmr_micros"],
        )

    return cand.groupBy("q_id").applyInPandas(
        fn, "q_id long, neighbor_id long, sel_rank long, mmr_micros long"
    )


# ---------------------------------------------------------------------------
# IVF-PQ: product-quantized ADC scoring inside IVF cells — the
# memory-compressed scale path (a 1024-dim float vector becomes m_sub bytes
# of codes; the candidate scan never touches full vectors).
# ---------------------------------------------------------------------------


def _kmeans_l2(m: np.ndarray, k: int, seed: int, iters: int = 25) -> np.ndarray:
    """Plain (Euclidean) k-means with k-means++ init — the PQ subquantizer
    trainer.  Deterministic: same sample + seed => same codebook; shared
    with the DuckDB oracle builder so both engines carry bitwise-identical
    sub-centroid literals."""
    n = len(m)
    k = min(k, n)
    rng = np.random.default_rng(seed)
    cents = [m[int(rng.integers(n))]]
    d = ((m - cents[0]) ** 2).sum(axis=1)
    for _ in range(1, k):
        total = d.sum()
        probs = d / total if total > 0 else np.full(n, 1.0 / n)
        nxt = int(rng.choice(n, p=probs))
        cents.append(m[nxt])
        d = np.minimum(d, ((m - m[nxt]) ** 2).sum(axis=1))
    C = np.stack(cents)
    for _ in range(iters):
        d2 = ((m[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        assign = np.argmin(d2, axis=1)
        newC = C.copy()
        for j in range(k):
            members = m[assign == j]
            if len(members):
                newC[j] = members.mean(axis=0)
            else:
                newC[j] = m[int(np.argmax(d2.min(axis=1)))]
        if np.allclose(newC, C):
            break
        C = newC
    return C


def _pq_sample(
    embeddings: DataFrame, id_col: str, vec_col: str, sample_rows: int
) -> np.ndarray:
    """Same bounded md5-ordered sample contract as train_ivf_centroids."""
    rows = (
        embeddings.select(
            F.col(vec_col).alias("v"), F.md5(F.col(id_col).cast("string")).alias("__o")
        )
        .orderBy("__o")
        .limit(sample_rows)
        .select("v")
        .collect()
    )
    return np.asarray([r["v"] for r in rows], dtype=np.float64)


def train_pq_codebooks(
    embeddings: DataFrame,
    dim: int,
    m_sub: int = 8,
    ksub: int = 16,
    seed: int = 11,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_rows: int = 4096,
    iters: int = 25,
) -> np.ndarray:
    """Train the PQ sub-codebooks on unit-normalized sample vectors: split
    each into ``m_sub`` contiguous subvectors and run L2 k-means per
    subspace.  Returns (m_sub, ksub, dim/m_sub).

    Same bounded-collect shape as :func:`train_ivf_centroids` — at most
    ``sample_rows`` vectors reach the driver regardless of corpus size."""
    if dim % m_sub:
        raise ValueError(f"dim {dim} not divisible by m_sub {m_sub}")
    m = _pq_sample(embeddings, id_col, vec_col, sample_rows)
    m = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
    dsub = dim // m_sub
    return np.stack(
        [
            _kmeans_l2(m[:, j * dsub : (j + 1) * dsub], ksub, seed + j, iters)
            for j in range(m_sub)
        ]
    )


def ann_ivfpq_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    n_centroids: int = 32,
    n_probe: int = 4,
    seed: int = 7,
    m_sub: int = 8,
    ksub: int = 16,
    pq_seed: int = 11,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: np.ndarray | None = None,
    pq_codebooks: np.ndarray | None = None,
    refine: int = 0,
) -> DataFrame:
    """IVF-PQ approximate top-k (FAISS IndexIVFPQ shape): corpus vectors are
    coarse-quantized to an IVF cell AND product-quantized to ``m_sub``
    small codes; candidates from probed cells are ranked by the ADC
    (asymmetric distance computation) inner product

        adc(q, c) = sum_j  q̂_sub_j · codebook_j[code_j(c)]

    so the ranking scan reads ``m_sub`` ints per candidate instead of the
    full vector — at 100 TB that's the difference between shuffling code
    bytes and shuffling 4 KB float arrays.  ``refine`` > 0 re-ranks the top
    ``refine * k`` ADC candidates with exact cosine (the standard refine
    stage); ``refine=0`` returns pure ADC ranks.

    The ADC expression is built from JVM-side array ops over a literal
    codebook (no Python in the scoring path); only cell assignment and PQ
    encoding are Arrow-batched UDFs — the cells through the shared
    fold-dot quantizer (:func:`fold_dots` / :func:`top_cells`, queries
    via :func:`_cell_assign_udf`).  Every float is combined in the same
    left-associated order as the DuckDB oracle (pyfads.golden) — scores are
    bit-identical."""
    embeddings = drop_zero_norm(embeddings, dim, vec_col)
    queries = drop_zero_norm(queries, dim, vec_col)
    dsub = dim // m_sub
    cents = (
        centroids
        if centroids is not None
        else train_ivf_centroids(embeddings, dim, n_centroids, seed, id_col, vec_col)
    )
    cb = (
        pq_codebooks
        if pq_codebooks is not None
        else train_pq_codebooks(
            embeddings, dim, m_sub, ksub, pq_seed, id_col, vec_col
        )
    )
    half_cn2 = 0.5 * (cb**2).sum(axis=2)  # (m_sub, ksub)

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def cell_and_codes(vecs: pd.Series) -> pd.Series:
        raw = np.vstack(vecs.to_numpy()).astype(np.float64)
        m = raw / np.maximum(np.linalg.norm(raw, axis=1, keepdims=True), 1e-12)
        out = np.empty((len(m), 1 + m_sub), dtype=np.int32)
        # the corpus cell is the same fold-dot argmax as every other
        # quantizer (raw dots, ties -> lowest cell: the oracle's ``dp
        # DESC, cell``); the PQ codes below keep their BLAS arithmetic
        out[:, 0] = top_cells(fold_dots(raw, cents), 1)[:, 0]
        for j in range(m_sub):
            sub = m[:, j * dsub : (j + 1) * dsub]
            # argmin ||v-c||^2 == argmax (v.c - 0.5||c||^2); np.argmax takes
            # the first max — matches the oracle's (score DESC, k ASC) rank
            out[:, 1 + j] = np.argmax(sub @ cb[j].T - half_cn2[j], axis=1)
        return pd.Series(list(out))

    enc = embeddings.select(
        F.col(id_col).alias("c_id"),
        cell_and_codes(F.col(vec_col)).alias("cc"),
    ).select(
        "c_id",
        F.element_at("cc", 1).alias("cell"),
        F.slice("cc", 2, m_sub).alias("codes"),
    )
    qcells = queries.select(
        F.col(id_col).alias("q_id"),
        F.explode(_cell_assign_udf(cents, n_probe)(F.col(vec_col))).alias("cell"),
    )
    # carry the PQ codes THROUGH the candidate join instead of joining the
    # encoded corpus a second time afterwards: codes are functionally
    # dependent on c_id (one enc row per vector), so distinct over
    # (q_id, neighbor_id, codes) is the same pair set — and the corpus-side
    # encode UDF (a full corpus pass at scale) runs ONCE, not twice
    # (guide §4: one decode/encode pass, attach decisions to it).
    cand = (
        qcells.join(enc, "cell")
        .filter(F.col("q_id") != F.col("c_id"))
        .select("q_id", F.col("c_id").alias("neighbor_id"), "codes")
        .distinct()
    )
    vq = F.broadcast(
        queries.select(
            F.col(id_col).alias("q_id"),
            F.expr(
                f"transform({_bt(vec_col)}, __x -> CAST(__x AS DOUBLE) / "
                f"{norm_sql(_bt(vec_col), dim)})"
            ).alias("qn"),
        )
    )
    # flat (m_sub*ksub*dsub) codebook as ONE array<double> Literal node: the
    # nested array(...) literal tree was ~m_sub*ksub*dsub Catalyst nodes
    # COPIED into every ADC term (~131k nodes at dim 1024), so plan
    # construction/analysis dominated the query (guide §7.3 planning time).
    # A 1-D numpy literal crosses py4j once and is opaque to tree walks; the
    # terms index it with a computed slice, reading the identical doubles:
    # cb[j-1][code][i] == flat[((j-1)*ksub + code)*dsub + i].
    flat_cb = F.lit(np.ascontiguousarray(cb, dtype=np.float64).reshape(-1))

    def term_sql(j: int) -> str:
        off = f"(({(j - 1) * ksub} + element_at(`codes`, {j})) * {dsub}) + 1"
        return (
            f"aggregate(zip_with(slice(`qn`, {(j - 1) * dsub + 1}, {dsub}), "
            f"slice(`__cb`, {off}, {dsub}), (__x, __y) -> __x * __y), "
            "0.0D, (__acc, __e) -> __acc + __e)"
        )

    adc = F.expr("0.0D + " + " + ".join(term_sql(j) for j in range(1, m_sub + 1)))
    scored = (
        cand.join(vq, "q_id")
        .withColumn("__cb", flat_cb)
        .withColumn("adc", adc)
        .drop("__cb")
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("adc"), F.col("neighbor_id"))
    topped = (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= (refine * k if refine else k))
        .select("q_id", "neighbor_id", "adc", "rank")
    )
    if not refine:
        return topped
    # refine stage: exact cosine over the ADC shortlist only
    vq2 = F.broadcast(
        queries.select(F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec"))
        .withColumn("q_norm", norm_expr("q_vec", dim))
    )
    vc = embeddings.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        norm_expr(vec_col, dim).alias("c_norm"),
    )
    cos = dot_expr("q_vec", "c_vec", dim) / (F.col("q_norm") * F.col("c_norm"))
    w2 = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.col("neighbor_id"))
    return (
        topped.select("q_id", "neighbor_id")
        .join(vq2, "q_id")
        .join(vc, "neighbor_id")
        .withColumn("cosine", cos)
        .withColumn("rank", F.row_number().over(w2).cast("long"))
        .filter(F.col("rank") <= k)
        .select("q_id", "neighbor_id", "cosine", "rank")
    )


def train_pca(
    embeddings: DataFrame,
    dim: int,
    out_dim: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_rows: int = 4096,
) -> "np.ndarray":
    """Train a (dim, out_dim) PCA projection on the bounded md5-ordered
    sample (same driver-collect contract as :func:`train_ivf_centroids`):
    mean-center the sample, eigendecompose its covariance, keep the top
    ``out_dim`` components.  Deterministic given data: eigh of a fixed
    matrix, components sign-fixed so the largest-|coeff| entry is
    positive (eigenvector sign is otherwise arbitrary).

    The corpus-side projection never sees numpy — the trained matrix is
    embedded as literals in a JVM-side expression chain (and in the
    DuckDB oracle), exactly like the IVF/PQ codebooks."""
    return _pca_from_sample(
        _pq_sample(embeddings, id_col, vec_col, sample_rows), out_dim
    )


def _pca_from_sample(m: "np.ndarray", out_dim: int) -> "np.ndarray":
    """The numpy half of train_pca, shared with the oracle builder
    (pyfads.golden) so both sides embed bitwise-identical coefficients."""
    m = m - m.mean(axis=0, keepdims=True)
    cov = (m.T @ m) / max(len(m) - 1, 1)
    w, v = np.linalg.eigh(cov)  # ascending eigenvalues
    comps = v[:, ::-1][:, :out_dim]  # (dim, out_dim), top components first
    for j in range(comps.shape[1]):
        k = np.argmax(np.abs(comps[:, j]))
        if comps[k, j] < 0:
            comps[:, j] = -comps[:, j]
    # quantize coefficients to float32 (the precision an ANN index ships
    # anyway): float32 x float32-origin embedding values multiply EXACTLY
    # in double (<= 48 mantissa bits), removing one whole class of
    # cross-engine rounding sensitivity from the oracle comparison
    return np.ascontiguousarray(comps.astype(np.float32).astype(np.float64))


def pca_project(
    embeddings: DataFrame,
    components: "np.ndarray",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_prefix: str = "y",
) -> DataFrame:
    """Project each vector onto the trained components: one double column
    per output dimension, each a left fold ``0.0 + x1*c1 + x2*c2 + ...``
    (``aggregate`` over ``zip_with`` with a literal coefficient array —
    bit-identical to the explicit left-assoc chain by IEEE identity
    0.0 + t1 == t1, and to the oracle's list_reduce fold).  The fold form
    is one higher-order expression instead of ~190 tree nodes per output:
    measured 5.5x faster end-to-end than the chain at dim 64 x 8 outputs
    (plan/codegen overhead, not arithmetic).  No UDF, no broadcast."""
    dim, out_dim = components.shape
    cols = [F.col(id_col)]
    for j in range(out_dim):
        cs = _vec_lit_sql(components[:, j])
        expr = F.expr(
            f"aggregate(zip_with({_bt(vec_col)}, {cs}, "
            "(__x, __c) -> CAST(__x AS DOUBLE) * __c), "
            "0.0D, (__acc, __e) -> __acc + __e)"
        )
        cols.append(expr.alias(f"{out_prefix}{j}"))
    return embeddings.select(*cols)


def ann_pca_lsh_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    dim: int,
    out_dim: int = 8,
    k: int = 10,
    n_planes: int = 4,
    n_tables: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    components: "np.ndarray | None" = None,
) -> DataFrame:
    """ANN with PCA-compacted bucketing: vectors are projected to
    ``out_dim`` dims (:func:`train_pca` / :func:`pca_project`), LSH
    sign-bit buckets are computed on the PROJECTION with literal
    hyperplanes, and the exact cosine re-rank runs on the ORIGINAL
    vectors.  Against plain ann_lsh_topk this moves the bucketing from an
    Arrow pandas UDF on dim-wide vectors to pure whole-stage-codegen
    column arithmetic on 8 doubles — at 100 TB the candidate-generation
    scan reads 8 doubles per row instead of the full vector, and no
    Python worker sits in the hot path at all.

    Components train on the RAW embeddings input (bounded md5 sample),
    mirrored bit-exactly by the oracle's shared-numpy retrain."""
    comps = (
        components
        if components is not None
        else train_pca(embeddings, dim, out_dim, id_col, vec_col)
    )
    embeddings = drop_zero_norm(embeddings, dim, vec_col)
    queries = drop_zero_norm(queries, dim, vec_col)
    planes = _hyperplanes(out_dim, n_planes, n_tables, seed)

    def with_buckets(df: DataFrame, prefix: str) -> DataFrame:
        proj = pca_project(df, comps, id_col, vec_col, out_prefix="__y")
        tb = []
        for t in range(n_tables):
            bits = []
            for j in range(n_planes):
                d = " + ".join(
                    f"`__y{x}` * {repr(float(planes[t, j, x]))}D"
                    for x in range(out_dim)
                )
                bits.append(f"(CASE WHEN ({d}) > 0 THEN {1 << j} ELSE 0 END)")
            bucket = " + ".join(bits)
            tb.append(
                F.expr(
                    f"struct({t} AS table_idx, CAST({bucket} AS BIGINT) AS bucket)"
                )
            )
        return proj.select(
            F.col(id_col).alias(f"{prefix}_id"), F.explode(F.array(*tb)).alias("tb")
        ).select(f"{prefix}_id", "tb.table_idx", "tb.bucket")

    cand = (
        with_buckets(queries, "q")
        .join(with_buckets(embeddings, "c"), on=["table_idx", "bucket"])
        .filter(F.col("q_id") != F.col("c_id"))
        .select("q_id", F.col("c_id").alias("neighbor_id"))
        .distinct()
    )
    vq = F.broadcast(
        queries.select(F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec"))
        .withColumn("q_norm", norm_expr("q_vec", dim))
    )
    vc = embeddings.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        norm_expr(vec_col, dim).alias("c_norm"),
    )
    cos = dot_expr("q_vec", "c_vec", dim) / (F.col("q_norm") * F.col("c_norm"))
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.col("neighbor_id"))
    return (
        cand.join(vq, "q_id")
        .join(vc, "neighbor_id")
        .withColumn("cosine", cos)
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("q_id", "neighbor_id", "cosine", "rank")
    )


# --------------------------------------------------------------------------
# Codebook store: train once, serve many (FAISS index-artifact shape)
# --------------------------------------------------------------------------


def write_codebook_store(
    spark, path: str, centroids: np.ndarray, pq_codebooks: np.ndarray
) -> None:
    """Persist IVF centroids (n_centroids, dim) and PQ codebooks
    (m_sub, ksub, dsub) as plain parquet tables — the trained-model
    artifact of the IVF-PQ index.  Doubles round-trip parquet exactly, so
    a store-loaded index scores BIT-IDENTICALLY to a freshly-trained one
    (asserted in tests/test_llm_ops.py).  The tables are engine-portable:
    anything that reads parquet can load the index."""
    _write_cent_table(spark, path + "/centroids", centroids)
    brows = [
        (int(s), int(k), int(j), float(v))
        for s, book in enumerate(pq_codebooks)
        for k, code in enumerate(book)
        for j, v in enumerate(code)
    ]
    spark.createDataFrame(
        brows, "sub int, code int, j int, v double"
    ).coalesce(1).write.mode("overwrite").parquet(path + "/codebooks")


def read_codebook_store(spark, path: str) -> "tuple[np.ndarray, np.ndarray]":
    """Load a :func:`write_codebook_store` artifact back into the exact
    numpy arrays (shapes inferred; a few-KB bounded collect)."""
    cents = _read_cent_table(spark, path + "/centroids")
    b = spark.read.parquet(path + "/codebooks").collect()
    ms = max(r.sub for r in b) + 1
    ks = max(r.code for r in b) + 1
    ds = max(r.j for r in b) + 1
    books = np.zeros((ms, ks, ds))
    for r in b:
        books[r.sub, r.code, r.j] = r.v
    return cents, books


def kcenter_select(
    embeddings: DataFrame,
    k: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> "list[tuple[int, int, float | None]]":
    """Greedy k-center (farthest-point) selection over cosine distance —
    the classic 2-approximation coreset picker (Gonzalez 1985), the
    standard way to choose a small DIVERSE subset (eval sets, prompt
    seeds, codebook inits) rather than a random one.

    Iterative by nature: ``k`` driver-coordinated rounds, each one small
    Spark job computing every row's distance to the selected set (fold
    dots against the selected vectors as literals — the bounded-broadcast
    shape) and taking the argmax via TakeOrdered.  k is small by
    definition (the same bounded-rounds discipline as
    ``connected_components`` and codebook training); the corpus is
    scanned k times, never collected.

    Returns ``[(rank, id, mindist_at_selection)]`` — the seed (rank 0,
    smallest id) has no prior set, so its mindist is None.  Deterministic:
    argmax ties break on the id; distances are fold-double arithmetic, so
    the DuckDB golden twin (pyfads.golden.kcenter_select_oracle) replays
    the selection bit-for-bit with a plain in-order Python loop.
    """
    embeddings = drop_zero_norm(embeddings, dim, vec_col)
    # k is validated LAZILY — each greedy round already runs a bounded
    # TakeOrdered job, so running out of candidates surfaces there; an
    # up-front count() would add a full extra corpus scan per call just
    # to pre-validate (ADVICE r9)
    seed_rows = (
        embeddings.select(F.col(id_col), F.col(vec_col))
        .orderBy(id_col)
        .limit(1)
        .collect()
    )
    if not seed_rows:
        raise ValueError(
            f"kcenter_select: k={k} exceeds the 0 nonzero-norm candidate "
            f"rows (zero-norm vectors are dropped — cosine distance is "
            f"undefined for them)"
        )
    seed_row = seed_rows[0]
    selected: "list[tuple[int, int, float | None]]" = [
        (0, int(seed_row[id_col]), None)
    ]
    sel_vecs = [[float(x) for x in seed_row[vec_col]]]
    base = embeddings.select(
        F.col(id_col), F.col(vec_col).alias("__v")
    ).withColumn("__n", _norm_fold("__v"))
    for r in range(1, k):
        dists = []
        for j, sv in enumerate(sel_vecs):
            sn = _py_fold_norm(sv)
            cos = _dot_fold("__v", f"__s{j}") / (F.col("__n") * F.lit(sn))
            dists.append(F.lit(1.0) - cos)
        cand = base.select(
            id_col,
            "__v",
            "__n",
            # 1-D ndarray literals cross py4j as ONE Literal node each (a
            # plain list would build a CreateArray of dim children)
            *[
                F.lit(np.asarray(sel_vecs[j], dtype=np.float64)).alias(f"__s{j}")
                for j in range(len(sel_vecs))
            ],
        ).select(
            id_col,
            "__v",
            F.least(*dists).alias("__d") if len(dists) > 1 else dists[0].alias("__d"),
        )
        top_rows = (
            cand.filter(~F.col(id_col).isin([s[1] for s in selected]))
            .orderBy(F.desc("__d"), F.col(id_col))
            .limit(1)
            .collect()
        )
        if not top_rows:
            raise ValueError(
                f"kcenter_select: k={k} exceeds the {r} nonzero-norm "
                f"candidate rows (zero-norm vectors are dropped — cosine "
                f"distance is undefined for them)"
            )
        top = top_rows[0]
        selected.append((r, int(top[id_col]), float(top["__d"])))
        sel_vecs.append([float(x) for x in top["__v"]])
    return selected


def _py_fold_norm(v: "list[float]") -> float:
    """In-order Python twin of :func:`_norm_fold` — bit-identical IEEE
    double left fold (0.0 + x1*x1 + ...)."""
    import math

    acc = 0.0
    for x in v:
        acc = acc + float(x) * float(x)
    return math.sqrt(acc)


# ---------------------------------------------------------------------------
# Scalar quantization (SQ8): int8-class compression for embedding columns
# ---------------------------------------------------------------------------


def sq8_normalize(
    embeddings: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """L2-normalize vectors into ``nvec`` (``array<double>``), dropping
    zero norms.  SQ8 for the COSINE metric quantizes the normalized
    vector (the FAISS convention) — quantizing raw coordinates ranks by
    unnormalized dot product, a poor cosine surrogate when row norms
    vary (measured recall@10 of 0-20% on the fixtures vs 90-100%
    normalized).  Division happens in double with the same associativity
    as the SQL twin, so the normalized coordinates and every downstream
    level are bit-identical cross-engine.  One ``transform`` expression,
    not per-element chains (see :func:`sq8_quantize` on why)."""
    return drop_zero_norm(embeddings, dim, vec_col).select(
        F.col(id_col),
        F.expr(
            f"transform({_bt(vec_col)}, __x -> CAST(__x AS DOUBLE) / "
            f"{norm_sql(_bt(vec_col), dim)})"
        ).alias("nvec"),
    )


def sq8_quantize(
    normalized: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "nvec",
) -> DataFrame:
    """Quantize unit vectors to 8-bit levels with the SYMMETRIC [-1, 1]
    calibration: ``q = clamp(floor((x + 1) * 127.5), 0, 255)``.  Unit
    vectors guarantee every coordinate lies in [-1, 1], so the codebook
    is data-INDEPENDENT — no calibration aggregate, no trained state to
    version or serve; quantization is a pure map (the cheapest possible
    100 TB shape), and 4x smaller vectors cut the scan bandwidth.

    Emits ``qvec`` (levels) and ``qsum`` (level sum — the per-row term
    the integer ranking score needs, see :func:`sq8_topk`).  The level
    map is ONE indexed ``transform`` — a single higher-order expression,
    not ``dim`` per-element chains (the chain form re-substitutes the
    full normalization tree into each element after Catalyst project
    collapse: an O(dim^2)-node plan that OOM'd codegen at 64 dims)."""
    qvec = F.expr(
        f"transform({_bt(vec_col)}, __x -> greatest(CAST(0 AS BIGINT), "
        "least(CAST(255 AS BIGINT), FLOOR((__x + 1.0D) * 127.5D))))"
    )
    return normalized.select(F.col(id_col), qvec.alias("qvec")).withColumn(
        "qsum",
        F.expr("aggregate(`qvec`, CAST(0 AS BIGINT), (__acc, __e) -> __acc + __e)"),
    )


def sq8_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Brute-force top-k on the scalar-quantized cosine: normalize, then
    symmetric-SQ8 quantize (:func:`sq8_quantize`), then rank by the
    integer score ``qscore = 2 * sum(qx_i * qy_i) - 255 * sum(qy_i)``.

    Why that score: with dequantization x_hat = -1 + qx * (2/255), the
    reconstructed dot is ``dim - s*(sum qx + sum qy) + s^2 * QQ``
    (s = 2/255); for a FIXED query the ranking-relevant part is
    ``s^2*QQ - s*sum(qy)``, and multiplying by 255/s gives the all-int64
    ``2*QQ - 255*sum(qy)`` — the exact dequantized-dot order with zero
    float arithmetic in scoring, so ranking and tie-break (neighbor id)
    are bit-exact cross-engine by construction.  Measured recall@10 vs
    exact cosine: 90-100% on the fixtures (the ``ann_recall_sq8`` entry
    tracks it).

    Same plan shape as :func:`cosine_topk`: bounded query side
    broadcast, one candidate scan, WindowGroupLimit top-k."""
    cq = sq8_quantize(sq8_normalize(embeddings, dim, id_col, vec_col)).select(
        F.col(id_col).alias("neighbor_id"),
        F.col("qvec").alias("c_q"),
        F.col("qsum").alias("c_sum"),
    )
    qq = F.broadcast(
        sq8_quantize(sq8_normalize(queries, dim, id_col, vec_col)).select(
            F.col(id_col).alias("q_id"), F.col("qvec").alias("q_q")
        )
    )
    pairs = qq.join(cq, F.col("q_id") != F.col("neighbor_id"))
    # integer sums — associativity-free, so the fold (one higher-order
    # expression) equals the SQL twin's explicit 64-term chain exactly
    qq_dot = F.expr(
        "aggregate(zip_with(`q_q`, `c_q`, (__x, __y) -> __x * __y), "
        "CAST(0 AS BIGINT), (__acc, __e) -> __acc + __e)"
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("qscore"), F.col("neighbor_id"))
    return (
        pairs.withColumn("qscore", (F.lit(2) * qq_dot - F.lit(255) * F.col("c_sum")).cast("long"))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("q_id", "neighbor_id", "qscore", "rank")
    )


def prototypicality_prune(
    embeddings: DataFrame,
    dim: int,
    prune_pct: int = 30,
    n_centroids: int = 32,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: "np.ndarray | None" = None,
) -> DataFrame:
    """Self-supervised prototypicality data pruning (Sorscher et al. 2022,
    "Beyond neural scaling laws"): cluster the embedding space, score each
    example by cosine to its cluster centroid, and DROP the most
    prototypical ``prune_pct`` percent of every cluster — with abundant
    data, the easy/redundant examples near cluster centers teach the
    least, and pruning them beats random subsampling.  (The same score
    with the opposite sign is a noise/outlier filter — keep-rule is a
    column, flip it downstream.)

    Score: ``proto_cos = dp(v, c_assigned) / |v|`` with spherical-k-means
    (unit-norm) centroids — dp is the best cell's fold dot from the
    one in-plan ranking (:func:`_rank_cells`), so score and assignment
    are one pass and the DuckDB twin replays both from centroid
    literals.  Keep rule is INTEGER cross-multiplied:
    ``rank * 100 > prune_pct * n_cell`` over the per-cell
    ``(proto_cos DESC, id)`` ranking — no float percentile.

    Scale shape: bounded-sample codebook training; scoring is map-only
    (the codebook rides the plan as literals); the only exchange is ONE window
    partitioned by cell id.  Hot cells cost O(cell) sort work, not
    O(cell^2) — windows, unlike self-joins, need no salt cap.  Returns
    ``(id_col, cell, proto_cos, rank, n_cell, keep)`` for every non-zero
    vector."""
    emb = drop_zero_norm(embeddings, dim, vec_col)
    cents = (
        centroids
        if centroids is not None
        else train_ivf_centroids(emb, dim, n_centroids, seed, id_col, vec_col)
    )
    scored = _rank_cells(emb, cents, id_col, vec_col).select(
        F.col(id_col), "cell", (F.col("__dp") / _norm_fold("__v")).alias("proto_cos")
    )
    wo = Window.partitionBy("cell").orderBy(F.desc("proto_cos"), id_col)
    wn = Window.partitionBy("cell")
    out = scored.withColumn("rank", F.row_number().over(wo).cast("long")).withColumn(
        "n_cell", F.count(F.lit(1)).over(wn).cast("long")
    )
    keep = F.col("rank") * F.lit(100) > F.lit(int(prune_pct)) * F.col("n_cell")
    return out.select(id_col, "cell", "proto_cos", "rank", "n_cell", keep.alias("keep"))
