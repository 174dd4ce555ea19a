"""Registered entries for the training-batch construction family
(:mod:`pyfads.packing`): sequence packing, deterministic shuffle,
group-disjoint splits.  Every oracle is bit-exact — integer arithmetic
and cross-engine md5 only (see the float/hash parity rules in
pyfads.queries / pyfads.llm_queries docstrings)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from pyfads import packing as P
from pyfads import web as W
from pyfads.io import read_table
from pyfads.queries import query
from pyfads.text import md5_hash60_sql

_SHARDS = 8  # output-writer parallelism; thousands on a real cluster
_CHUNK = 256  # tokens per training chunk (concat-and-chunk packing)
_CAP = 256  # bin capacity (next-fit whole-doc packing)
_SHUF_SEED = "r10"
_SPLIT_SEED = "split-r10"

# shared packing input: (doc_id, shard, n_tokens) — the Spark twin is
# pyfads.packing.token_shards (same null-text guard, same tokenization)
_TOKS_CTE = f"""
t AS (
  SELECT doc_id, doc_id % {_SHARDS} AS shard,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents WHERE text IS NOT NULL
)
"""

_PACK_CHUNKS_SQL = f"""
WITH {_TOKS_CTE},
c AS (
  SELECT *, CAST(SUM(n_tokens) OVER (
      PARTITION BY shard ORDER BY doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
  FROM t
)
SELECT doc_id, shard, n_tokens, cum_tokens,
       (cum_tokens - n_tokens) // {_CHUNK} AS first_chunk,
       (cum_tokens - 1) // {_CHUNK} AS last_chunk,
       ((cum_tokens - 1) // {_CHUNK}) - ((cum_tokens - n_tokens) // {_CHUNK}) + 1
           AS n_chunks
FROM c
"""


@query("pack_concat_chunks", oracle=_PACK_CHUNKS_SQL)
def pack_concat_chunks_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style concat-then-chunk packing (pyfads.packing.pack_concat_chunks):
    per shard, docs concatenate in id order and the token stream is cut
    every 256 tokens; each doc reports the chunk span it occupies.  One
    cumulative-sum window per shard — codegen, no UDF, integer-exact."""
    docs = read_table(spark, sf_dir, "documents")
    return P.pack_concat_chunks(docs, _CHUNK, _SHARDS)


# greedy next-fit replayed EXACTLY by a recursive CTE: one recursion step
# advances every shard by one row, so depth = max rows per shard
_NEXTFIT_CTE = f"""
{_TOKS_CTE},
tr AS (
  SELECT *, row_number() OVER (PARTITION BY shard ORDER BY doc_id) AS rn FROM t
),
state AS (
  SELECT doc_id, shard, rn, n_tokens,
         CAST(0 AS BIGINT) AS bin_id, n_tokens AS fill_after
  FROM tr WHERE rn = 1
  UNION ALL
  SELECT tr.doc_id, tr.shard, tr.rn, tr.n_tokens,
         CASE WHEN s.fill_after + tr.n_tokens <= {_CAP}
              THEN s.bin_id ELSE s.bin_id + 1 END,
         CASE WHEN s.fill_after + tr.n_tokens <= {_CAP}
              THEN s.fill_after + tr.n_tokens ELSE tr.n_tokens END
  FROM state s JOIN tr ON tr.shard = s.shard AND tr.rn = s.rn + 1
)
"""

_PACK_NEXTFIT_SQL = f"""
WITH RECURSIVE {_NEXTFIT_CTE}
SELECT doc_id, shard, n_tokens, bin_id, fill_after FROM state
"""


@query("pack_nextfit", oracle=_PACK_NEXTFIT_SQL)
def pack_nextfit_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy next-fit whole-document bin packing
    (pyfads.packing.pack_nextfit): sequential per shard, so one
    Arrow-batched applyInPandas group per shard; the twin replays the
    identical greedy recurrence with a recursive CTE — bit-exact."""
    docs = read_table(spark, sf_dir, "documents")
    return P.pack_nextfit(docs, _CAP, _SHARDS)


_PACK_STATS_SQL = f"""
WITH RECURSIVE {_NEXTFIT_CTE}
SELECT shard, bin_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS fill_tokens,
       CAST((SUM(n_tokens) * 10000) // {_CAP} AS BIGINT) AS util_bp
FROM state GROUP BY shard, bin_id
"""


@query("pack_bin_stats", oracle=_PACK_STATS_SQL)
def pack_bin_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-bin packing report (docs, fill, basis-point utilization —
    integer-exact) over the next-fit assignment.  Map-side-combinable
    groupBy on (shard, bin)."""
    docs = read_table(spark, sf_dir, "documents")
    return P.pack_bin_stats(P.pack_nextfit(docs, _CAP, _SHARDS), _CAP)


_SHUFFLE_SQL = f"""
WITH h AS (
  SELECT doc_id,
         {md5_hash60_sql(_SHUF_SEED + ":shard", "CAST(doc_id AS VARCHAR)")}
             % {_SHARDS} AS shuffle_shard,
         {md5_hash60_sql(_SHUF_SEED + ":order", "CAST(doc_id AS VARCHAR)")}
             AS shuffle_key
  FROM documents
)
SELECT doc_id, shuffle_shard, shuffle_key,
       CAST(row_number() OVER (PARTITION BY shuffle_shard
                               ORDER BY shuffle_key, doc_id) AS BIGINT)
           AS shuffle_pos
FROM h
"""


@query("shuffle_order", oracle=_SHUFFLE_SQL)
def shuffle_order_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic seeded global shuffle (pyfads.packing.global_shuffle):
    hash-sharded, hash-ordered within shard — a reproducible training
    permutation with no global sort and no RNG state."""
    docs = read_table(spark, sf_dir, "documents")
    return P.global_shuffle(docs, _SHUF_SEED, _SHARDS)


# group-disjoint split over the canonical-URL dup groups (the web-family
# synth-URL contract: W.synth_url_sql / W.url_canonical_sql)
_SPLIT_CTE = f"""
u AS (SELECT doc_id, source, {W.synth_url_sql()} AS url FROM documents),
c AS (SELECT doc_id, {W.url_canonical_sql("url")[1]} AS canonical_url FROM u),
b AS (
  SELECT doc_id, canonical_url,
         {md5_hash60_sql(_SPLIT_SEED, "canonical_url")} % 100 AS split_bucket
  FROM c
),
a AS (
  SELECT doc_id, canonical_url, CAST(split_bucket AS BIGINT) AS split_bucket,
         CASE WHEN split_bucket < 80 THEN 'train'
              WHEN split_bucket < 90 THEN 'val'
              ELSE 'test' END AS split
  FROM b
)
"""

_SPLIT_SQL = f"WITH {_SPLIT_CTE} SELECT * FROM a"


def _split_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "source")
    c = W.url_canonicalize(W.with_synth_urls(docs))
    return P.split_by_group(
        c.select("doc_id", "canonical_url"), "canonical_url", _SPLIT_SEED
    ).select("doc_id", "canonical_url", "split_bucket", "split")


@query("split_by_group", oracle=_SPLIT_SQL)
def split_by_group_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-disjoint train/val/test assignment
    (pyfads.packing.split_by_group): the bucket hashes the canonical-URL
    dup-group key, so near-duplicate surface forms of one page can never
    straddle train and eval.  Pure per-row expressions — zero shuffle."""
    return _split_assignments(spark, sf_dir)


_SPLIT_SUMMARY_SQL = f"""
WITH {_SPLIT_CTE},
leak AS (
  SELECT CAST(count(*) AS BIGINT) AS n_leaky_groups FROM (
    SELECT canonical_url FROM a GROUP BY canonical_url
    HAVING count(DISTINCT split) > 1)
)
SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT canonical_url) AS BIGINT) AS n_groups,
       (SELECT n_leaky_groups FROM leak) AS n_leaky_groups
FROM a GROUP BY split
"""


@query("split_summary", oracle=_SPLIT_SUMMARY_SQL)
def split_summary_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split report: per-split doc/group counts plus the leakage audit
    (groups straddling >1 split — structurally zero, and this entry would
    catch any regression that re-keys the bucket to the row)."""
    a = _split_assignments(spark, sf_dir)
    leak = (
        a.groupBy("canonical_url")
        .agg(F.countDistinct("split").alias("ns"))
        .filter(F.col("ns") > 1)
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_leaky_groups"))
    )
    return (
        a.groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.countDistinct("canonical_url").cast("bigint").alias("n_groups"),
        )
        .crossJoin(F.broadcast(leak))
    )


@query("pack_nextfit_streamed", oracle=_PACK_NEXTFIT_SQL)
def pack_nextfit_streamed_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING next-fit packing (pyfads.packing.pack_nextfit_stream),
    driven through a real Structured Streaming query: the corpus arrives
    as two id-ordered parquet chunks (maxFilesPerTrigger=1 -> two
    micro-batches) and each shard's open bin persists in
    applyInPandasWithState state across the batch boundary — the streamed
    assignment is checked against the SAME recursive-CTE oracle as the
    batch operator, so state carry-over is value-verified, not just
    smoke-tested."""
    from pyfads.curation_queries import _docs_text_source
    from pyfads.io import stream_shuffle_scope
    from pyfads.streamrun import run_to_completion

    src, _n = _docs_text_source(spark, sf_dir)
    packed = P.pack_nextfit_stream(src, _CAP, _SHARDS)
    name = "pack_nextfit_streamed_sink"
    # state keys = the _SHARDS open bins — partitions beyond that hold no
    # state and pay per-batch store I/O (pyfads.io.stream_state_partitions)
    with stream_shuffle_scope(spark, n_keys=_SHARDS):
        q = (
            packed.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .start()
        )
        run_to_completion(q)  # NoTimeout state: terminates
    return spark.table(name)


# --------------------------------------------------------------------------
# Curriculum ordering (r11): per-source quality stages (Gopher-flag count
# tertiles, the ppl_buckets integer-rank arithmetic) + seeded hash shuffle
# within each stage.  The oracle replays the full chain: quality flags ->
# per-source stage rank -> md5 shard/order hashes -> per-(stage, shard)
# position.
# --------------------------------------------------------------------------
_CURR_SEED = "curr-r11"
_CURR_STAGES = 3


def _curriculum_sql() -> str:
    from pyfads.llm_queries import _QUALITY_SQL

    shard = md5_hash60_sql(_CURR_SEED + ":shard", "CAST(doc_id AS VARCHAR)")
    okey = md5_hash60_sql(_CURR_SEED + ":order", "CAST(doc_id AS VARCHAR)")
    return f"""
WITH q AS ({_QUALITY_SQL}),
d AS (
  SELECT doc_id, source, n_flags FROM q JOIN documents USING (doc_id)
),
r AS (
  SELECT doc_id, source, n_flags,
         row_number() OVER (PARTITION BY source ORDER BY n_flags, doc_id) AS rn,
         count(*) OVER (PARTITION BY source) AS n
  FROM d
),
s AS (
  SELECT doc_id, source, n_flags,
         CAST(least(((rn - 1) * {_CURR_STAGES}) // n, {_CURR_STAGES - 1}) AS INT)
             AS stage,
         CAST({shard} % {_SHARDS} AS INT) AS shard,
         {okey} AS okey
  FROM r
)
SELECT doc_id, source, n_flags, stage, shard,
       CAST(row_number() OVER (PARTITION BY stage, shard
                               ORDER BY okey, doc_id) AS BIGINT) AS pos
FROM s
"""


@query("curriculum_order", oracle=_curriculum_sql)
def curriculum_order_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum training order: per-source quality stages (cleanest
    first), deterministic seeded shuffle within stage — see
    :func:`pyfads.pipeline.curriculum_order`."""
    from pyfads.pipeline import curriculum_order

    docs = read_table(spark, sf_dir, "documents")
    return curriculum_order(
        docs, n_stages=_CURR_STAGES, n_shards=_SHARDS, seed=_CURR_SEED
    )


# --------------------------------------------------------------------------
# Data-constrained epoch scheduling (r11): per-source integer repeat
# factors for a fixed training token budget (proportional slice div source
# tokens, clamped to [1, max_epochs]) — pure integer arithmetic.
# --------------------------------------------------------------------------
_EPOCH_BUDGET = 3_000_000
_EPOCH_MAX = 4

_EPOCH_SQL = f"""
WITH t AS (
  SELECT source, CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
  FROM documents WHERE text IS NOT NULL
),
per AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(nt) AS BIGINT) AS source_tokens
  FROM t GROUP BY source
),
tot AS (SELECT CAST(sum(source_tokens) AS BIGINT) AS total FROM per)
SELECT source, n_docs, source_tokens,
       CAST(least(greatest((CAST({_EPOCH_BUDGET} AS BIGINT) * source_tokens
                            // total) // source_tokens, 1),
                  {_EPOCH_MAX}) AS BIGINT) AS epochs,
       CAST(least(greatest((CAST({_EPOCH_BUDGET} AS BIGINT) * source_tokens
                            // total) // source_tokens, 1),
                  {_EPOCH_MAX}) * source_tokens AS BIGINT) AS scheduled_tokens
FROM per, tot
"""


@query("epoch_schedule", oracle=_EPOCH_SQL)
def epoch_schedule_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-constrained epoch schedule: integer per-source repeat factors
    for a fixed token budget (Muennighoff et al. 2023 regime) — see
    :func:`pyfads.pipeline.epoch_schedule`."""
    from pyfads.pipeline import epoch_schedule

    docs = read_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    return epoch_schedule(docs, budget_tokens=_EPOCH_BUDGET, max_epochs=_EPOCH_MAX)
