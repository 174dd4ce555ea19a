"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from pyfads import FADSConfig, fads_generalize
from pyfads.io import events_with_arrival


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the full reference pipeline shape on sf0.001 events —
    source → arrival enrichment → batch FADS generalization
    (Generalizer.java:98-189 semantics; SURVEY.md §7.2 slice 0)."""
    df = events_with_arrival(spark, "/root/testdata/sf0.001")
    # FADSConfig() is the reference job wiring: k=10, buffer=30 rows,
    # reuse TTL=60s (TransactionGeneralizationJob.java:66-71)
    return fads_generalize(df, FADSConfig())


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    from pyfads.queries import QUERIES

    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    """ANSI SQL oracles (DuckDB) for every queries() entry.

    Data-dependent oracles (FADS golden tables, the trained-IVF-codebook
    literal) are built lazily for the sf dir in $SPARK_GRAFT_ORACLE_SF_DIR
    (default /root/testdata/sf0.01 — the scale this comparison runs at).
    """
    from pyfads.queries import resolve_oracles

    return resolve_oracles()
