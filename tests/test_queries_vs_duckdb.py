"""Every oracle-backed queries() entry must match its DuckDB oracle exactly
at sf0.001 (mirror of the driver's correctness gate, SURVEY.md §5 item 1)."""

from __future__ import annotations

import duckdb
import numpy as np
import pytest

from tests.conftest import SF_DIR

import __spark_entry__ as entry

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    yield con
    con.close()


def assert_matches(spark_pdf, duck_pdf):
    assert len(spark_pdf) == len(duck_pdf)
    sc, dc = sorted(spark_pdf.columns), sorted(duck_pdf.columns)
    assert sc == dc
    s = spark_pdf[sc].sort_values(sc).reset_index(drop=True)
    d = duck_pdf[dc].sort_values(dc).reset_index(drop=True)
    for c in sc:
        sv, dv = s[c].to_numpy(), d[c].to_numpy()
        if sv.dtype.kind == "f" or dv.dtype.kind == "f":
            assert np.array_equal(sv.astype(float), dv.astype(float), equal_nan=True), c
        else:
            assert (sv.astype(object) == dv.astype(object)).all(), c


@pytest.mark.parametrize("name", sorted(entry.oracle_sql().keys()))
def test_query_matches_oracle(spark, duck, name):
    fn = entry.queries()[name]
    spark_pdf = fn(spark, SF_DIR).toPandas()
    duck_pdf = duck.sql(entry.oracle_sql()[name]).df()
    assert_matches(spark_pdf, duck_pdf)


@pytest.mark.parametrize("name", sorted(set(entry.queries()) - set(entry.oracle_sql())))
def test_rows_only_queries_run(spark, name):
    df = entry.queries()[name](spark, SF_DIR)
    assert df.count() >= 0
