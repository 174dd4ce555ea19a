"""pyfads — a PySpark-native rebuild of the FADS data-stream k-anonymization
engine (reference: augustinkrause/FADS-Flink).

The reference is a Flink 1.14 DataStream job; this package re-expresses its
pipeline and the relational primitives inside its stateful Generalizer
(SURVEY.md §2) as idiomatic Spark DataFrame / Structured Streaming code,
plus the large-scale training-data-pipeline extensions (dedup, similarity
search, text analysis, multimodal plumbing).

Module map (import the submodule you need — they are deliberately NOT
re-exported here so `import pyfads` stays cheap):

- ``pyfads.fads_batch`` / ``pyfads.fads_stream`` / ``pyfads.fads_core`` —
  the FADS generalizer: parity, partitioned, hot-key-salted, streaming.
- ``pyfads.primitives`` — the Generalizer's relational primitives G1-G11.
- ``pyfads.io`` — sources/sinks: gz-CSV taxi rides, arrival enrichment,
  parquet, bucketed + range layouts, upsert merge.
- ``pyfads.streamrun`` — chunked file streams and the one driver that runs
  a streaming query to completion.
- ``pyfads.dedup`` — exact / MinHash-LSH / SimHash / n-gram Jaccard /
  prefix-filter-exact dedup, connected components, signature store.
- ``pyfads.similarity`` — cosine / LSH / IVF / IVF-PQ (+store) / PCA ANN.
- ``pyfads.text`` — stats, quality, lang-id, fingerprints, chunking,
  BM25, inverted index, hashed classifier.
- ``pyfads.pipeline`` — sampling (stratified/exact-k/priority/mixture),
  splits, shuffle rank, packing, contamination.
- ``pyfads.sketches`` — KMV, Bloom, Count-Min, portable HLL, HDR
  quantiles (all cross-engine deterministic).
- ``pyfads.windows`` — sessionization, tumbling/sliding, as-of +
  interval joins, funnels, cohorts, event transitions.
- ``pyfads.graph`` — fixed-point PageRank + triangle enumeration.
  ``pyfads.layout`` — Z-order.  ``pyfads.linkage`` — fuzzy record
  linkage (blocking + Levenshtein), entity resolution, golden records.
- ``pyfads.profile`` — table profiling.  ``pyfads.semistruct`` — JSON.
- ``pyfads.multimodal`` — image/audio/frame plumbing (Arrow batches).
- ``pyfads.metrics`` — throughput observers (P5).
- ``pyfads.queries`` — the oracle-checked query registry
  (``__spark_entry__`` re-exports it for the driver).
"""

from pyfads.config import FADSConfig
from pyfads.fads_batch import fads_generalize, fads_generalize_partitioned
from pyfads.fads_core import FADSState

__all__ = [
    "FADSConfig",
    "FADSState",
    "fads_generalize",
    "fads_generalize_partitioned",
]
