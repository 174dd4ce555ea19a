"""Registered entries for the round-10 curation additions: fuzzy record
linkage / entity resolution (:mod:`pyfads.linkage`), CCNet perplexity
bucketing (:func:`pyfads.text.rarity_buckets`), and asymmetric shingle
containment dedup (:func:`pyfads.dedup.containment_pairs`).

Every oracle is exact: integer arithmetic only (ppm cross-multiplication,
integer tertiles), Levenshtein is identical character-level DP in both
engines, and the blocking/salt steps are replayed bit-for-bit (the
MinHash `_salt_cap` oracle precedent in pyfads.llm_queries)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from pyfads import dedup as D
from pyfads import linkage as L
from pyfads import text as X
from pyfads.io import read_table
from pyfads.queries import query
from pyfads.text import md5_hash60_sql

_N_WORDS = 6
_MAX_DIST = 2
_MAX_BLOCK = 64


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_table(spark, sf_dir, "documents")


# --------------------------------------------------------------------------
# Fuzzy record linkage: pseudo-title keys, boundary-token blocking with the
# salt cap replayed, exact Levenshtein verify.  CTE chain ends in
# vp(a_id, b_id, edit_dist) — shared by the pairs and the entity oracles.
# --------------------------------------------------------------------------
_FUZZY_CTES = f"""
t AS (SELECT doc_id, string_split(text, ' ') AS toks
      FROM documents WHERE text IS NOT NULL),
k AS (
  SELECT doc_id,
         array_to_string(toks[1:{_N_WORDS}], ' ') AS rkey,
         toks[1] AS tok_first,
         toks[least(len(toks), {_N_WORDS})] AS tok_last
  FROM t
),
b0 AS (
  SELECT doc_id, unnest([0, 1]) AS block_idx,
         unnest([tok_first, tok_last]) AS block_key
  FROM k
),
b1 AS (
  SELECT doc_id, block_idx,
         concat_ws('#', block_key,
                   CAST((row_number() OVER (PARTITION BY block_idx, block_key
                                            ORDER BY doc_id) - 1)
                        // {_MAX_BLOCK} AS VARCHAR)) AS block_key
  FROM b0
),
cand AS (
  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
  FROM b1 a JOIN b1 b USING (block_idx, block_key)
  WHERE a.doc_id < b.doc_id
),
vp AS (
  SELECT c.a_id, c.b_id,
         CAST(levenshtein(ka.rkey, kb.rkey) AS BIGINT) AS edit_dist
  FROM cand c
  JOIN k ka ON ka.doc_id = c.a_id
  JOIN k kb ON kb.doc_id = c.b_id
  WHERE levenshtein(ka.rkey, kb.rkey) <= {_MAX_DIST}
)"""

_FUZZY_SQL = f"WITH {_FUZZY_CTES}\nSELECT a_id, b_id, edit_dist FROM vp"

_ENTITY_SQL = f"""
WITH RECURSIVE {_FUZZY_CTES},
edges AS (
  SELECT a_id AS u, b_id AS v FROM vp
  UNION
  SELECT b_id, a_id FROM vp
),
reach(src, node) AS (
    SELECT doc_id, doc_id FROM documents WHERE text IS NOT NULL
  UNION
    SELECT r.src, e.v FROM reach r JOIN edges e ON e.u = r.node
)
SELECT src AS doc_id, CAST(min(node) AS BIGINT) AS entity_id
FROM reach GROUP BY src
"""


@query("fuzzy_pairs", oracle=_FUZZY_SQL)
def fuzzy_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy record-linkage pairs: pseudo-title keys (leading 6 words),
    first/last-token blocking (salt-capped), exact Levenshtein <= 2
    verify — the metadata-dedup complement of content near-dup.  See
    :func:`pyfads.linkage.fuzzy_pairs`."""
    return L.fuzzy_pairs(
        _docs(spark, sf_dir),
        max_dist=_MAX_DIST,
        n_words=_N_WORDS,
        max_block=_MAX_BLOCK,
    )


@query("entity_resolution", oracle=_ENTITY_SQL)
def entity_resolution_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution: fuzzy pairs -> distributed connected components
    -> canonical min-id entity label per record (singletons label
    themselves).  The twin closes the same verified edges with a
    recursive CTE.  See :func:`pyfads.linkage.resolve_entities`."""
    return L.resolve_entities(
        _docs(spark, sf_dir),
        max_dist=_MAX_DIST,
        n_words=_N_WORDS,
        max_block=_MAX_BLOCK,
    )


# --------------------------------------------------------------------------
# CCNet head/middle/tail perplexity bucketing over the bigram-rarity proxy.
# The rarity CTEs mirror pyfads.llm_queries._LM_RARITY_SQL (same contract);
# the tertile is integer arithmetic — no percent_rank floats.
# --------------------------------------------------------------------------
_PPL_SQL = """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
g AS (
  SELECT doc_id, unnest(
           CASE WHEN len(toks) >= 2
                THEN list_transform(generate_series(1, len(toks) - 1),
                                    i -> concat_ws(' ', toks[i], toks[i + 1]))
                ELSE [] END) AS g
  FROM t
),
per_doc AS (SELECT doc_id, g, CAST(count(*) AS BIGINT) AS cnt
            FROM g GROUP BY doc_id, g),
corpus AS (SELECT g, CAST(sum(cnt) AS BIGINT) AS cc FROM per_doc GROUP BY g),
agg AS (
  SELECT p.doc_id,
         CAST(sum(p.cnt) AS BIGINT) AS n_bigrams,
         CAST(sum(CASE WHEN c.cc <= 2 THEN p.cnt ELSE 0 END) AS BIGINT) AS n_rare
  FROM per_doc p JOIN corpus c USING (g) GROUP BY p.doc_id
),
r AS (
  SELECT d.doc_id, d.lang,
         CAST(CASE WHEN coalesce(a.n_bigrams, 0) > 0
                   THEN a.n_rare * 1000000 // a.n_bigrams ELSE 0 END AS BIGINT)
           AS rare_ppm
  FROM documents d LEFT JOIN agg a USING (doc_id)
),
ranked AS (
  SELECT doc_id, lang, rare_ppm,
         row_number() OVER (PARTITION BY lang ORDER BY rare_ppm, doc_id) AS rn,
         count(*) OVER (PARTITION BY lang) AS n
  FROM r
)
SELECT doc_id, lang, rare_ppm,
       CASE least(((rn - 1) * 3) // n, 2)
            WHEN 0 THEN 'head' WHEN 1 THEN 'middle' ELSE 'tail'
       END AS ppl_bucket
FROM ranked
"""


@query("ppl_buckets", oracle=_PPL_SQL)
def ppl_buckets_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style per-language head/middle/tail fluency tertiles over the
    transcendental-free bigram-rarity proxy — integer-exact rank
    arithmetic, deterministic id tiebreak.  See
    :func:`pyfads.text.rarity_buckets`."""
    return X.rarity_buckets(_docs(spark, sf_dir))


# --------------------------------------------------------------------------
# Asymmetric shingle containment (subset-duplication detector) — exact
# prefix-filter candidates (the SSJoin/PPJoin precedent), replayed fully.
# --------------------------------------------------------------------------
_CONT_THR_PPM = 800_000

_CONT_H60 = md5_hash60_sql("cont", "g0")

_CONT_SQL = f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
           FROM documents WHERE text IS NOT NULL),
s AS (
  SELECT doc_id,
         list_transform(
             list_distinct(list_transform(
                 generate_series(1, greatest(len(toks) - 2, 1)),
                 i -> concat_ws(' ', toks[i], toks[i + 1], toks[i + 2]))),
             g0 -> {_CONT_H60}) AS sh
  FROM t
),
ds AS (SELECT doc_id, unnest(sh) AS g FROM s),
sz AS (SELECT doc_id, CAST(len(sh) AS BIGINT) AS sn FROM s),
gf AS (SELECT g, CAST(count(*) AS BIGINT) AS gdf FROM ds GROUP BY g),
pref AS (
  SELECT doc_id, g, sn FROM (
    SELECT ds.doc_id, ds.g, sz.sn,
           row_number() OVER (PARTITION BY ds.doc_id
                              ORDER BY gf.gdf, ds.g) AS rn
    FROM ds JOIN gf USING (g) JOIN sz USING (doc_id))
  WHERE rn <= sn - (({_CONT_THR_PPM} * sn + 999999) // 1000000) + 1
),
fullocc AS (SELECT ds.doc_id, ds.g, sz.sn FROM ds JOIN sz USING (doc_id)),
cand AS (
  SELECT DISTINCT least(p.doc_id, f.doc_id) AS a_id,
                  greatest(p.doc_id, f.doc_id) AS b_id
  FROM pref p JOIN fullocc f USING (g)
  WHERE (p.sn, p.doc_id) < (f.sn, f.doc_id)
),
v AS (
  SELECT c.a_id, c.b_id,
         CAST(len(list_intersect(sa.sh, sb.sh)) AS BIGINT) AS n_shared,
         CAST(len(sa.sh) AS BIGINT) AS n_a,
         CAST(len(sb.sh) AS BIGINT) AS n_b
  FROM cand c
  JOIN s sa ON sa.doc_id = c.a_id
  JOIN s sb ON sb.doc_id = c.b_id
)
SELECT a_id, b_id, n_shared, n_a, n_b,
       n_shared * 1000000 // n_a AS cont_a_ppm,
       n_shared * 1000000 // n_b AS cont_b_ppm
FROM v
WHERE n_shared * 1000000 >= {_CONT_THR_PPM} * least(n_a, n_b)
"""


@query("dedup_containment", oracle=_CONT_SQL)
def dedup_containment_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle-containment pairs (|A∩B|/|A| — the subset/
    excerpt duplication Jaccard misses), EXACT prefix-filter candidates
    (rarest-first ordering doubles as the skew guard), integer ppm
    verify.  See :func:`pyfads.dedup.containment_pairs`."""
    return D.containment_pairs(_docs(spark, sf_dir), threshold_ppm=_CONT_THR_PPM)


# --------------------------------------------------------------------------
# Prototypicality data pruning (Sorscher et al. 2022) over the embeddings
# table — codebook retrained bitwise into oracle literals (the ann_ivf
# precedent in pyfads.golden).
# --------------------------------------------------------------------------
def _proto_prune_sql() -> str:
    from pyfads.golden import prototypicality_prune_oracle

    return prototypicality_prune_oracle(dim=64, prune_pct=30)


@query("prototypicality_prune", oracle=_proto_prune_sql)
def prototypicality_prune_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-supervised data pruning: per-cluster cosine-to-centroid score,
    drop the most prototypical 30% of every cluster (keep the hard
    examples) — integer keep rule, in-plan fold scoring.  See
    :func:`pyfads.similarity.prototypicality_prune`."""
    from pyfads.similarity import prototypicality_prune

    emb = read_table(spark, sf_dir, "embeddings")
    return prototypicality_prune(emb, dim=64, prune_pct=30)


# --------------------------------------------------------------------------
# Stream-stream watermarked interval join, driven end-to-end as a REAL
# Structured Streaming query per call — the driver-gate registration of the
# capability tests/test_windows.py::test_interval_join_stream_equals_batch
# proves (inner time-interval joins emit matches as both sides arrive, so
# the streamed result equals the batch join value-for-value).
# --------------------------------------------------------------------------
def _events_ts_source(spark: SparkSession, sf_dir: str) -> tuple:
    """The events table as three ts-quantile-contiguous micro-batches —
    the shared source for every events-driven streaming entry that needs
    a watermark-safe micro-batch sequence (interval_join_streamed,
    session_window_streamed).  Cutting on the ts VALUE guarantees chunk
    boundaries are ts-monotone no matter how event_ids were assigned
    (ADVICE r10).  Returns (stream_df, row count)."""
    from pyfads.io import epoch_ms
    from pyfads.streamrun import _chunk_key, chunked_source

    return chunked_source(
        spark,
        lambda: read_table(spark, sf_dir, "events"),
        lambda ev: epoch_ms(ev, "ts"),
        3,
        (_chunk_key(sf_dir, "events"), "ts"),
    )


@query(
    "interval_join_streamed",
    oracle="""
SELECT c.user_id, c.event_id AS click_id, epoch_ms(c.ts) AS click_ms,
       p.event_id AS purchase_id, epoch_ms(p.ts) AS purchase_ms
FROM events c JOIN events p ON c.user_id = p.user_id
WHERE c.event_type = 'click' AND p.event_type = 'purchase'
  AND epoch_ms(p.ts) >= epoch_ms(c.ts)
  AND epoch_ms(p.ts) <= epoch_ms(c.ts) + 3600000
""",
)
def interval_join_streamed_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (click->purchase within 1h per user),
    both sides watermarked, run through a real chunked-parquet streaming
    query with a memory sink — Spark's canonical two-stream join with
    watermark state eviction; the oracle is the SAME SQL as the batch
    ``interval_join_events`` twin (inner joins emit exactly the matched
    pairs, independent of micro-batching).  Chunks are split on TS
    quantiles (not row ids), so chunk boundaries are ts-monotone no matter
    how event_ids were assigned and the 2h watermark never drops a
    legitimately-joinable row as late (ADVICE r10: id-quantile splits
    diverge on fixtures whose ids interleave across the full ts range).
    See :func:`pyfads.windows.interval_join`."""
    from pyfads.io import epoch_ms
    from pyfads.streamrun import run_to_completion
    from pyfads.windows import interval_join

    src, n_rows = _events_ts_source(spark, sf_dir)

    def side(df, etype, idname, tsname):
        return df.filter(F.col("event_type") == etype).select(
            "user_id",
            F.col("event_id").alias(idname),
            F.col("ts").cast("timestamp").alias(tsname),
        )

    clicks = side(src, "click", "click_id", "c_ts").withWatermark("c_ts", "2 hours")
    purchases = side(src, "purchase", "purchase_id", "p_ts").withWatermark(
        "p_ts", "2 hours"
    )
    joined = interval_join(clicks, purchases, ["user_id"], "c_ts", "p_ts", 0, 3_600_000)
    name = "interval_join_streamed_sink"
    from pyfads.io import stream_shuffle_scope

    # a stream-stream join keeps FOUR state stores per partition per side,
    # each opened+committed every micro-batch — size the partition count to
    # the input volume (guide §2; pyfads.io.stream_state_partitions)
    with stream_shuffle_scope(spark, n_rows=n_rows):
        q = (
            joined.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .start()
        )
        run_to_completion(q)
    out = spark.table(name)
    return out.select(
        "user_id",
        "click_id",
        epoch_ms(out, "c_ts").alias("click_ms"),
        "purchase_id",
        epoch_ms(out, "p_ts").alias("purchase_ms"),
    )


# --------------------------------------------------------------------------
# Streaming exact dedup (dropDuplicates keyed on the 128-bit content hash)
# driven as a real streaming query; the deterministic projection is the
# distinct content-hash SET (which row of a duplicate group a micro-batch
# keeps is engine-internal, the SET of survivors' texts is not).
# --------------------------------------------------------------------------
def _docs_text_source(spark: SparkSession, sf_dir: str) -> tuple:
    """documents (doc_id, text) as two doc_id-ordered micro-batches — one
    chunk set shared by dedup_exact_streamed and pack_nextfit_streamed.
    Returns (stream_df, row count)."""
    from pyfads.streamrun import _chunk_key, chunked_source

    return chunked_source(
        spark,
        lambda: read_table(spark, sf_dir, "documents").select("doc_id", "text"),
        "doc_id",
        2,
        (_chunk_key(sf_dir, "documents"), "doc_id,text"),
    )


@query(
    "dedup_exact_streamed",
    oracle="SELECT DISTINCT md5(text) AS text_md5 FROM documents WHERE text IS NOT NULL",
)
def dedup_exact_streamed_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup across micro-batches: one surviving row per
    distinct text on the whole stream (state = 16-byte content hashes) —
    the value oracle is the distinct-text set, which micro-batch
    boundaries cannot change.  See :func:`pyfads.dedup.exact_dedup_stream`."""
    from pyfads.io import stream_shuffle_scope
    from pyfads.streamrun import run_to_completion

    src, n_rows = _docs_text_source(spark, sf_dir)
    deduped = D.exact_dedup_stream(src.filter(F.col("text").isNotNull()))
    name = "dedup_exact_streamed_sink"
    # dropDuplicates state = one 16-byte hash per distinct doc — volume-
    # sized state partitions (pyfads.io.stream_state_partitions)
    with stream_shuffle_scope(spark, n_rows=n_rows):
        q = (
            deduped.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .start()
        )
        run_to_completion(q)
    return spark.table(name).select(F.md5("text").alias("text_md5"))


# --------------------------------------------------------------------------
# Golden-record survivorship (record-linkage completion) — longest text
# wins per resolved entity, ties on smaller id.
# --------------------------------------------------------------------------
_GOLDEN_SQL = f"""
WITH RECURSIVE {_FUZZY_CTES},
edges AS (
  SELECT a_id AS u, b_id AS v FROM vp
  UNION
  SELECT b_id, a_id FROM vp
),
reach(src, node) AS (
    SELECT doc_id, doc_id FROM documents WHERE text IS NOT NULL
  UNION
    SELECT r.src, e.v FROM reach r JOIN edges e ON e.u = r.node
),
cg AS (SELECT src AS doc_id, CAST(min(node) AS BIGINT) AS entity_id
       FROM reach GROUP BY src),
j AS (
  SELECT cg.entity_id, cg.doc_id, CAST(length(d.text) AS BIGINT) AS len
  FROM cg JOIN documents d USING (doc_id)
),
ranked AS (
  SELECT entity_id, doc_id, len,
         row_number() OVER (PARTITION BY entity_id
                            ORDER BY len DESC, doc_id) AS rn,
         CAST(count(*) OVER (PARTITION BY entity_id) AS BIGINT) AS n_records
  FROM j
)
SELECT entity_id, n_records, doc_id AS rep_id, len AS rep_len
FROM ranked WHERE rn = 1
"""


@query("golden_records", oracle=_GOLDEN_SQL)
def golden_records_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record-linkage survivorship: one golden record per resolved entity
    (longest text wins, id tiebreak).  See
    :func:`pyfads.linkage.golden_records`."""
    return L.golden_records(
        _docs(spark, sf_dir),
        max_dist=_MAX_DIST,
        n_words=_N_WORDS,
        max_block=_MAX_BLOCK,
    )


# --------------------------------------------------------------------------
# MinHash estimator-quality diagnostic: for every verified near-dup pair,
# the signature-agreement estimate k/16 vs the exact Jaccard — the
# measure-don't-guess dial for picking n_perm.
# --------------------------------------------------------------------------
def _minhash_est_sql() -> str:
    from pyfads.llm_queries import _minhash_ctes

    match_sum = " + ".join(
        f"(CASE WHEN a.mh{j} = b.mh{j} THEN 1 ELSE 0 END)" for j in range(16)
    )
    return f"""
WITH {_minhash_ctes()}
SELECT v.a_id, v.b_id, v.jaccard,
       CAST({match_sum} AS BIGINT) AS n_match,
       CAST({match_sum} AS DOUBLE) / 16.0 AS est_jaccard
FROM vpairs v
JOIN m a ON a.doc_id = v.a_id
JOIN m b ON b.doc_id = v.b_id
"""


@query("minhash_estimate", oracle=_minhash_est_sql)
def minhash_estimate_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-pair MinHash sketch quality: signature-agreement estimate
    (n_match/16, exactly representable) next to the exact Jaccard for
    every verified near-dup pair — E[est] = J, so the gap measured here
    is the n_perm=16 variance a production pipeline tunes against."""
    docs = _docs(spark, sf_dir)
    pairs = D.minhash_near_dup_pairs(docs)
    sigs = D.minhash_signature(docs)
    ma = sigs.select(
        F.col("doc_id").alias("a_id"), *[F.col(f"mh{j}").alias(f"__a{j}") for j in range(16)]
    )
    mb = sigs.select(
        F.col("doc_id").alias("b_id"), *[F.col(f"mh{j}").alias(f"__b{j}") for j in range(16)]
    )
    n_match = None
    for j in range(16):
        # null-safe: a NULL slot counts 0, matching the oracle's CASE WHEN
        # (a plain == would propagate NULL through the whole sum; ADVICE r10)
        t = F.coalesce(
            (F.col(f"__a{j}") == F.col(f"__b{j}")).cast("int"), F.lit(0)
        )
        n_match = t if n_match is None else n_match + t
    return (
        pairs.join(ma, "a_id")
        .join(mb, "b_id")
        .withColumn("n_match", n_match.cast("long"))
        .select(
            "a_id",
            "b_id",
            "jaccard",
            "n_match",
            (F.col("n_match").cast("double") / F.lit(16.0)).alias("est_jaccard"),
        )
    )


# --------------------------------------------------------------------------
# Triangle enumeration over the near-dup graph — the standard graph-quality
# diagnostic for dedup clustering (triangle-dense components are true
# duplicate piles; triangle-free stars are often chained false positives).
# --------------------------------------------------------------------------
def _triangles_sql() -> str:
    from pyfads.llm_queries import _minhash_ctes

    return f"""
WITH {_minhash_ctes()}
SELECT e1.a_id, e1.b_id AS m_id, e2.b_id AS c_id
FROM vpairs e1
JOIN vpairs e2 ON e2.a_id = e1.b_id
JOIN vpairs e3 ON e3.a_id = e1.a_id AND e3.b_id = e2.b_id
"""


@query("dupgraph_triangles", oracle=_triangles_sql)
def dupgraph_triangles_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangles (a < m < c, each edge a verified near-dup pair) in the
    MinHash dup graph.  Ordered-edge enumeration: every triangle counted
    exactly once via the a<m<c orientation — two equi-joins on node ids,
    no explicit orientation dedup needed because pairs are already
    canonical (a_id < b_id).  Scale: joins key on 8-byte ids over the
    (small) verified-pair set, never the corpus; the classic node-order
    trick bounds the join fan-out by the max out-degree in the
    orientation.  See :func:`pyfads.graph.triangles`."""
    from pyfads.graph import triangles

    docs = _docs(spark, sf_dir)
    return triangles(D.minhash_near_dup_pairs(docs).select("a_id", "b_id"))


# --------------------------------------------------------------------------
# LSH recall diagnostic: MinHash-LSH verified pairs vs the EXACT prefix-
# filter join at the same Jaccard threshold — the measured recall of the
# probabilistic path (its precision is 1.0 by construction: candidates are
# exact-Jaccard verified).
# --------------------------------------------------------------------------
def _minhash_recall_sql() -> str:
    from pyfads.llm_queries import _minhash_ctes

    return f"""
WITH {_minhash_ctes()},
eds AS (SELECT DISTINCT doc_id, unnest(sh) AS g FROM s),
esz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sn FROM eds GROUP BY doc_id),
einter AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id, CAST(count(*) AS BIGINT) AS inter
  FROM eds a JOIN eds b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
ep AS (
  SELECT i.a_id, i.b_id
  FROM einter i
  JOIN esz sa ON sa.doc_id = i.a_id
  JOIN esz sb ON sb.doc_id = i.b_id
  WHERE 5 * i.inter >= 4 * (sa.sn + sb.sn - i.inter)
),
lp AS (SELECT a_id, b_id FROM vpairs)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM ep) AS n_exact,
       (SELECT CAST(count(*) AS BIGINT) FROM lp) AS n_lsh,
       (SELECT CAST(count(*) AS BIGINT) FROM ep JOIN lp USING (a_id, b_id))
         AS n_hit,
       CAST(CASE WHEN (SELECT count(*) FROM ep) > 0
            THEN (SELECT count(*) FROM ep JOIN lp USING (a_id, b_id)) * 10000
                 // (SELECT count(*) FROM ep)
            ELSE 10000 END AS BIGINT) AS recall_bp
"""


@query("minhash_recall", oracle=_minhash_recall_sql)
def minhash_recall_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row recall report of MinHash-LSH (16 perms, 4 bands, salt cap)
    against the exact prefix-filter join at Jaccard >= 0.8 — the
    quality-vs-cost dial for the probabilistic dedup path (the ann_recall_*
    precedent, applied to lexical dedup).  Integer basis points."""
    docs = _docs(spark, sf_dir)
    # r13 restructure (the r12 verdict's #3: this entry was ~95% DRIVER
    # time).  The r12 form referenced each pair pipeline twice (own count
    # + hit join) behind a localCheckpoint; cProfile showed 12.4 s of its
    # 13.7 s build inside the two Dataset.localCheckpoint calls — each
    # pays a full Catalyst planning pass (toRdd) at BUILD time.  Instead:
    # tag each pair set, union, and take every statistic from ONE
    # aggregation pass — each pipeline is referenced (planned AND
    # executed) exactly once, no checkpoint, no join.  Both sets are
    # distinct (a_id, b_id) by construction, so presence flags per pair
    # reproduce the old count/join numbers exactly: n_hit = pairs present
    # in both sets == the old inner-join row count.
    exact = D.prefix_jaccard_pairs(docs).select(
        "a_id", "b_id", F.lit(1).alias("__e"), F.lit(0).alias("__l")
    )
    lsh = D.minhash_near_dup_pairs(docs).select(
        "a_id", "b_id", F.lit(0).alias("__e"), F.lit(1).alias("__l")
    )
    per = (
        exact.unionByName(lsh)
        .groupBy("a_id", "b_id")
        .agg(F.max("__e").alias("__e"), F.max("__l").alias("__l"))
    )
    return per.agg(
        F.coalesce(F.sum("__e"), F.lit(0)).cast("long").alias("n_exact"),
        F.coalesce(F.sum("__l"), F.lit(0)).cast("long").alias("n_lsh"),
        F.coalesce(F.sum(F.col("__e") * F.col("__l")), F.lit(0))
        .cast("long")
        .alias("n_hit"),
    ).select(
        "n_exact",
        "n_lsh",
        "n_hit",
        F.when(
            F.col("n_exact") > 0, F.expr("n_hit * 10000 div n_exact")
        )
        .otherwise(F.lit(10000))
        .cast("long")
        .alias("recall_bp"),
    )


# --------------------------------------------------------------------------
# Containment scrub verdict: drop the contained (smaller-set) side of every
# qualifying pair — the actionable form of dedup_containment.
# --------------------------------------------------------------------------
_CONT_SCRUB_SQL = f"""
WITH pairs AS ({_CONT_SQL.strip()}),
drops AS (
  SELECT CASE WHEN n_a < n_b THEN a_id
              WHEN n_a > n_b THEN b_id
              ELSE b_id END AS doc_id,
         CAST(count(*) AS BIGINT) AS n_containers
  FROM pairs GROUP BY 1
)
SELECT d.doc_id,
       dr.n_containers IS NULL AS keep,
       coalesce(dr.n_containers, 0) AS n_containers
FROM (SELECT doc_id FROM documents WHERE text IS NOT NULL) d
LEFT JOIN drops dr USING (doc_id)
"""


@query("containment_scrub", oracle=_CONT_SCRUB_SQL)
def containment_scrub_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drop-the-excerpt verdict per doc from the exact containment pairs
    (smaller set = the contained copy; equal sizes keep the min id).  See
    :func:`pyfads.dedup.containment_scrub`."""
    return D.containment_scrub(_docs(spark, sf_dir), threshold_ppm=_CONT_THR_PPM)


# --------------------------------------------------------------------------
# Token-sort linkage variant: reorder-invariant keys (fuzzywuzzy's
# token_sort_ratio class) — word-reordered duplicates collapse to dist 0.
# --------------------------------------------------------------------------
_FUZZY_TS_SQL = f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
      FROM documents WHERE text IS NOT NULL),
k AS (
  SELECT doc_id,
         array_to_string(list_sort(toks[1:{_N_WORDS}]), ' ') AS rkey,
         list_sort(toks[1:{_N_WORDS}])[1] AS tok_first,
         list_sort(toks[1:{_N_WORDS}])[len(list_sort(toks[1:{_N_WORDS}]))]
           AS tok_last
  FROM t
),
b0 AS (
  SELECT doc_id, unnest([0, 1]) AS block_idx,
         unnest([tok_first, tok_last]) AS block_key
  FROM k
),
b1 AS (
  SELECT doc_id, block_idx,
         concat_ws('#', block_key,
                   CAST((row_number() OVER (PARTITION BY block_idx, block_key
                                            ORDER BY doc_id) - 1)
                        // {_MAX_BLOCK} AS VARCHAR)) AS block_key
  FROM b0
),
cand AS (
  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
  FROM b1 a JOIN b1 b USING (block_idx, block_key)
  WHERE a.doc_id < b.doc_id
),
vp AS (
  SELECT c.a_id, c.b_id,
         CAST(levenshtein(ka.rkey, kb.rkey) AS BIGINT) AS edit_dist
  FROM cand c
  JOIN k ka ON ka.doc_id = c.a_id
  JOIN k kb ON kb.doc_id = c.b_id
  WHERE levenshtein(ka.rkey, kb.rkey) <= {_MAX_DIST}
)
SELECT a_id, b_id, edit_dist FROM vp
"""


@query("fuzzy_pairs_tokensort", oracle=_FUZZY_TS_SQL)
def fuzzy_pairs_tokensort_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reorder-invariant fuzzy linkage: keys are the SORTED leading-token
    slice, blocking on the slice's min/max token — "smith, john" vs
    "john smith" collapse to edit distance 0 where the raw-key variant
    needs 2x the token length in edits.  See
    :func:`pyfads.linkage.fuzzy_pairs` (sort_tokens=True)."""
    return L.fuzzy_pairs(
        _docs(spark, sf_dir),
        max_dist=_MAX_DIST,
        n_words=_N_WORDS,
        max_block=_MAX_BLOCK,
        sort_tokens=True,
    )


# --------------------------------------------------------------------------
# Retrieval-eval harness over the labeled embeddings: kNN majority-vote
# classification and k-means cell label purity — the two standard "is the
# embedding space any good" dials.
# --------------------------------------------------------------------------
_KNN_EVAL_Q = 64  # labeled queries
_KNN_EVAL_K = 10


def _knn_label_sql() -> str:
    from pyfads.golden import _dot_sql, _norm_sql
    from pyfads.llm_queries import DIM

    return f"""
WITH e AS (SELECT * FROM embeddings e0 WHERE {_norm_sql('e0.embedding', DIM)} > 0),
q AS (SELECT * FROM e WHERE vec_id < {_KNN_EVAL_Q}),
pairs AS (
  SELECT q.vec_id AS q_id, c.vec_id AS neighbor_id, c.label AS n_label,
         ({_dot_sql('q.embedding', 'c.embedding', DIM)})
           / ({_norm_sql('q.embedding', DIM)} * {_norm_sql('c.embedding', DIM)}) AS cosine
  FROM q JOIN e c ON q.vec_id <> c.vec_id
),
nn AS (
  SELECT q_id, n_label
  FROM (SELECT *, row_number() OVER (PARTITION BY q_id
                                     ORDER BY cosine DESC, neighbor_id) AS rank
        FROM pairs)
  WHERE rank <= {_KNN_EVAL_K}
),
votes AS (SELECT q_id, n_label, CAST(count(*) AS BIGINT) AS n_votes
          FROM nn GROUP BY q_id, n_label),
pred AS (
  SELECT q_id, n_label AS pred_label, n_votes
  FROM (SELECT *, row_number() OVER (PARTITION BY q_id
                                     ORDER BY n_votes DESC, n_label) AS rn
        FROM votes)
  WHERE rn = 1
)
SELECT p.q_id, q.label AS true_label, p.pred_label, p.n_votes,
       p.pred_label = q.label AS correct
FROM pred p JOIN q ON q.vec_id = p.q_id
"""


@query("knn_label_accuracy", oracle=_knn_label_sql)
def knn_label_accuracy_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN majority-vote classification over the labeled embeddings (the
    classic retrieval-quality eval): per query, the top-10 neighbours'
    label vote (ties: count DESC, label ASC) against the true label.
    Brute-force exact neighbours (the ground-truth path — swap in any ANN
    entry for the production shape)."""
    from pyfads import similarity as S
    from pyfads.llm_queries import DIM

    embs = read_table(spark, sf_dir, "embeddings")
    nn = S.cosine_topk(
        embs, embs.filter(F.col("vec_id") < _KNN_EVAL_Q), DIM, k=_KNN_EVAL_K
    )
    lab = embs.select(
        F.col("vec_id").alias("neighbor_id"), F.col("label").alias("n_label")
    )
    votes = (
        nn.join(lab, "neighbor_id")
        .groupBy("q_id", "n_label")
        .agg(F.count(F.lit(1)).cast("long").alias("n_votes"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("q_id").orderBy(F.desc("n_votes"), F.col("n_label"))
    pred = (
        votes.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("q_id", F.col("n_label").alias("pred_label"), "n_votes")
    )
    truth = embs.select(F.col("vec_id").alias("q_id"), F.col("label").alias("true_label"))
    return pred.join(truth, "q_id").select(
        "q_id",
        "true_label",
        "pred_label",
        "n_votes",
        (F.col("pred_label") == F.col("true_label")).alias("correct"),
    )


def _cell_purity_sql() -> str:
    from pyfads.golden import cell_purity_oracle

    return cell_purity_oracle(dim=64, n_centroids=32, seed=7)


@query("cell_purity_report", oracle=_cell_purity_sql)
def cell_purity_report_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell label purity of the k-means codebook (clustering-quality
    dial: a cell whose members share a label is a coherent region; purity
    near the label prior means the codebook ignores the labels).  Majority
    tie -> smaller label; integer basis points."""
    from pyfads import similarity as S
    from pyfads.llm_queries import DIM
    from pyfads.similarity import _assign_cells, drop_zero_norm, train_ivf_centroids

    embs = read_table(spark, sf_dir, "embeddings")
    emb = drop_zero_norm(embs, DIM)
    cents = train_ivf_centroids(emb, DIM, 32, 7)
    assigned = _assign_cells(emb, cents, "vec_id", "embedding").join(
        embs.select("vec_id", "label"), "vec_id"
    )
    lc = assigned.groupBy("cell", "label").agg(
        F.count(F.lit(1)).cast("long").alias("n_label")
    )
    tot = lc.groupBy("cell").agg(F.sum("n_label").cast("long").alias("n_cell"))
    from pyspark.sql import Window

    w = Window.partitionBy("cell").orderBy(F.desc("n_label"), F.col("label"))
    maj = (
        lc.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            "cell",
            F.col("label").alias("majority_label"),
            F.col("n_label").alias("n_majority"),
        )
    )
    return maj.join(tot, "cell").select(
        "cell",
        "n_cell",
        "majority_label",
        "n_majority",
        F.expr("n_majority * 10000 div n_cell").cast("long").alias("purity_bp"),
    )
