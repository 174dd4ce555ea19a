"""Focused tests for the r12 optimization internals: the SQL-text
expression builders in pyfads.similarity (one F.expr per expression
instead of py4j-composed Column trees) must produce BIT-identical doubles
to an in-order Python fold, and the streaming state-partition policy must
stay scale-adaptive."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from pyfads import similarity as S


def _py_dot(a, b):
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + float(x) * float(y)
    return acc


def _py_chain_dot(a, b):
    acc = float(a[0]) * float(b[0])
    for x, y in zip(a[1:], b[1:]):
        acc = acc + float(x) * float(y)
    return acc


@pytest.fixture(scope="module")
def vecs(spark):
    rng = np.random.default_rng(7)
    rows = [
        (i, [float(np.float32(x)) for x in rng.standard_normal(8)],
         [float(np.float32(x)) for x in rng.standard_normal(8)])
        for i in range(50)
    ]
    return spark.createDataFrame(
        rows, "id long, a array<float>, b array<float>"
    ), rows


def test_dot_chain_bitwise(vecs):
    df, rows = vecs
    got = {r["id"]: r["d"] for r in df.select("id", S.dot_chain("a", "b", 8).alias("d")).collect()}
    for i, a, b in rows:
        # chain seeds with a1*b1 (no 0.0 +) — same value either way in
        # IEEE754, but assert against the chain-order reference
        assert got[i] == _py_chain_dot(a, b), i


def test_dot_fold_bitwise(vecs):
    df, rows = vecs
    got = {r["id"]: r["d"] for r in df.select("id", S._dot_fold("a", "b").alias("d")).collect()}
    for i, a, b in rows:
        assert got[i] == _py_dot(a, b), i


def test_norm_bitwise(vecs):
    df, rows = vecs
    for dim_switch in (8, 4096):  # chain path and fold path
        col = S.norm_expr("a", dim_switch) if dim_switch == 8 else S._norm_fold("a")
        got = {r["id"]: r["n"] for r in df.select("id", col.alias("n")).collect()}
        for i, a, _ in rows:
            ref = math.sqrt(_py_dot(a, a)) if dim_switch != 8 else math.sqrt(_py_chain_dot(a, a))
            assert got[i] == ref, (i, dim_switch)


def test_assign_cells_inplan_matches_python_argmax(vecs, spark, monkeypatch):
    """The in-plan ranking's cell and best-cell dp equal an in-order Python
    fold argmax (ties -> lowest cell) in both literal forms."""
    df, rows = vecs
    rng = np.random.default_rng(11)
    cents = rng.standard_normal((5, 8))
    for threshold in (64, 0):  # per-cell literals, then the flat literal
        monkeypatch.setattr(S, "INPLAN_MAX_CENTROIDS", threshold)
        out = {
            r["id"]: (r["cell"], r["__dp"])
            for r in S._rank_cells(
                df.select("id", F.col("a").alias("embedding")), cents, "id", "embedding"
            ).collect()
        }
        for i, a, _ in rows:
            dots = [_py_dot(a, c) for c in cents]
            best = max(range(5), key=lambda j: (dots[j], -j))
            assert out[i] == (best, dots[best]), (i, threshold)


def test_vec_lit_sql_roundtrip(spark):
    v = np.array([0.1, -1.5e-13, 2.0 / 3.0, 1e300])
    got = spark.range(1).select(F.expr(S._vec_lit_sql(v)).alias("v")).first()["v"]
    assert list(got) == [float(x) for x in v]


def test_stream_state_partitions_policy(spark):
    from pyfads.io import stream_state_partitions

    cores = spark.sparkContext.defaultParallelism
    # key-bounded: never more partitions than state keys
    assert stream_state_partitions(spark, n_keys=1) == 1
    assert stream_state_partitions(spark, n_keys=10**9) == cores
    # volume-bounded: ceil(rows / 50k), capped at cores, floored at 1
    assert stream_state_partitions(spark, n_rows=1) == 1
    assert stream_state_partitions(spark, n_rows=100_000) == min(2, cores)
    assert stream_state_partitions(spark, n_rows=10**12) == cores
    # unknown shape: session default parallelism
    assert stream_state_partitions(spark) == cores


def test_stream_shuffle_scope_restores(spark):
    from pyfads.io import stream_shuffle_scope

    before = spark.conf.get("spark.sql.shuffle.partitions")
    with stream_shuffle_scope(spark, n_keys=1) as n:
        assert n == 1
        assert spark.conf.get("spark.sql.shuffle.partitions") == "1"
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
