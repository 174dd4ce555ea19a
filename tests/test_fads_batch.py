"""Golden-oracle + property tests for batch FADS (SURVEY.md §5 items 2/4)."""

from __future__ import annotations

import json

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from pyfads import FADSConfig, fads_generalize, fads_generalize_partitioned
from pyfads.fads_batch import _assemble, _frame_inputs, run_fads_pandas
from pyfads.fads_core import FADSState, ReleasedBatch
from pyfads.fads_stream import fads_generalize_stream
from pyfads.oracle import fads_oracle

from tests.conftest import SF_DIR

CFG = FADSConfig(
    k=10,
    buffer_rows=30,
    reuse_ms=60_000,
    qid_cols=("user_id", "value", "ts_millis"),
    pid_col="event_id",
    arrival_col="arrival_ms",
)


def _events_df(spark):
    from pyfads.io import events_with_arrival
    return events_with_arrival(spark, SF_DIR)


def _events_pdf(spark, n=None):
    pdf = _events_df(spark).toPandas().sort_values(["arrival_ms", "event_id"]).reset_index(drop=True)
    return pdf if n is None else pdf.head(n)


def _oracle_result(pdf, cfg):
    rows = [
        (i, tuple(pdf.loc[i, c] for c in cfg.qid_cols), int(pdf.loc[i, cfg.arrival_col]))
        for i in range(len(pdf))
    ]
    return fads_oracle(rows, cfg)


def test_core_matches_oracle_events(spark):
    """Independent implementations (numpy core vs pure-Python oracle) agree
    row-for-row on real sf0.001 events."""
    pdf = _events_pdf(spark)
    got = run_fads_pandas(pdf, CFG)
    expected = _oracle_result(pdf, CFG)
    assert len(got) == len(pdf) == len(expected)
    got = got.set_index("event_id")
    key = {int(pdf.loc[i, "event_id"]): i for i in range(len(pdf))}
    for eid, row in got.iterrows():
        lo, hi = expected[key[int(eid)]]
        for j, q in enumerate(CFG.qid_cols):
            assert row[f"{q}_lo"] == pytest.approx(lo[j])
            assert row[f"{q}_hi"] == pytest.approx(hi[j])


def test_core_matches_oracle_random_configs(spark):
    """Sweep k/buffer/TTL on random data — both implementations agree."""
    rng = np.random.default_rng(7)
    n = 400
    pdf = pd.DataFrame(
        {
            "event_id": np.arange(n),
            "user_id": rng.integers(0, 50, n).astype(float),
            "value": rng.normal(100, 20, n).round(2),
            "ts_millis": np.sort(rng.integers(0, 1_000_000, n)).astype(float),
            "event_type": ["x"] * n,
        }
    )
    pdf["arrival_ms"] = pdf["ts_millis"].astype(np.int64)
    for k, b, ttl in [(3, 5, 10**9), (5, 12, 50_000), (10, 30, 0), (4, 4, 100_000)]:
        cfg = FADSConfig(k=k, buffer_rows=b, reuse_ms=ttl,
                         qid_cols=("user_id", "value", "ts_millis"),
                         pid_col="event_id", arrival_col="arrival_ms")
        got = run_fads_pandas(pdf, cfg).set_index("event_id")
        expected = _oracle_result(pdf, cfg)
        assert len(got) == n
        for i, (lo, hi) in expected.items():
            eid = int(pdf.loc[i, "event_id"])
            for j, q in enumerate(cfg.qid_cols):
                assert got.loc[eid, f"{q}_lo"] == pytest.approx(lo[j])
                assert got.loc[eid, f"{q}_hi"] == pytest.approx(hi[j])


def test_properties(spark):
    """k-anonymity invariants: |out|==|in|, interval contains value OR is a
    reused/suppress interval, lo<=hi always, infoLoss-style sanity."""
    pdf = _events_pdf(spark)
    out = run_fads_pandas(pdf, CFG)
    assert len(out) == len(pdf)
    # every released interval is well-formed
    for q in CFG.qid_cols:
        assert (out[f"{q}_lo"] <= out[f"{q}_hi"]).all()
    # suppressed/generalized intervals lie within global bounds
    for q in CFG.qid_cols:
        gmin, gmax = pdf[q].min(), pdf[q].max()
        assert (out[f"{q}_lo"] >= gmin - 1e-9).all()
        assert (out[f"{q}_hi"] <= gmax + 1e-9).all()
    # output ids are a permutation of input ids
    assert sorted(out["event_id"]) == sorted(pdf["event_id"])


def test_spark_parity_mode_matches_local(spark):
    """groupBy(lit(1)).applyInPandas == direct pandas run."""
    df = _events_df(spark)
    got = fads_generalize(df, CFG).toPandas().sort_values("event_id").reset_index(drop=True)
    local = run_fads_pandas(df.toPandas(), CFG).sort_values("event_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(got, local, check_like=True)


def test_partitioned_mode(spark):
    """Scale-out mode: per-group FADS; invariants hold within each group."""
    df = _events_df(spark)
    cfg = FADSConfig(k=5, buffer_rows=15, reuse_ms=60_000,
                     qid_cols=("user_id", "value", "ts_millis"),
                     pid_col="event_id", arrival_col="arrival_ms")
    out = fads_generalize_partitioned(df, cfg, "event_type")
    out_pdf = out.toPandas()
    assert len(out_pdf) == df.count()
    # per-group row preservation + equality with a local per-group run
    in_pdf = df.toPandas()
    for et, g in in_pdf.groupby("event_type"):
        local = run_fads_pandas(g.reset_index(drop=True), cfg)
        got_g = out_pdf[out_pdf.event_type == et].sort_values("event_id").reset_index(drop=True)
        local = local.sort_values("event_id").reset_index(drop=True)
        pd.testing.assert_frame_equal(got_g, local, check_like=True)


def test_config_validation():
    with pytest.raises(ValueError):
        FADSConfig(k=1)
    with pytest.raises(ValueError):
        FADSConfig(reuse_ms=-1)
    with pytest.raises(ValueError):
        FADSConfig(qid_cols=("a", "a"))
    with pytest.raises(ValueError):
        FADSConfig(qid_cols=("ts_millis", "value"), arrival_col="ts_millis")
    # pid-as-QID is VALID — the reference's own job keys on {0,1,5} with
    # pidKey=0 (TransactionGeneralizationJob.java:66-72); exercised
    # end-to-end in test_fads_stream.py::test_end_to_end_taxi_job_gz_to_parquet
    FADSConfig(qid_cols=("event_id", "value"), pid_col="event_id")


# -- distinct_pids option (reference Generalizer.java:205-216, intended) ----


def test_distinct_pids_noop_when_pids_unique(spark):
    """With globally unique PIDs, greedy unique-PID selection degenerates to
    plain top-(k-1): both modes must produce identical output."""
    pdf = _events_pdf(spark)
    base = run_fads_pandas(pdf, CFG)
    strict = run_fads_pandas(
        pdf, FADSConfig(**{**CFG.__dict__, "distinct_pids": True})
    )
    pd.testing.assert_frame_equal(
        base.sort_values("event_id").reset_index(drop=True),
        strict.sort_values("event_id").reset_index(drop=True),
        check_like=True,
    )


def _dup_pid_pdf(seed=11, n=300, n_pids=20):
    """Data where PIDs repeat heavily, so the uniqueness filter bites."""
    rng = np.random.default_rng(seed)
    pdf = pd.DataFrame(
        {
            "row_uid": np.arange(n),
            "person": rng.integers(0, n_pids, n),
            "user_id": rng.integers(0, 50, n).astype(float),
            "value": rng.normal(100, 20, n).round(2),
            "ts_millis": np.sort(rng.integers(0, 1_000_000, n)).astype(float),
        }
    )
    pdf["arrival_ms"] = pdf["ts_millis"].astype(np.int64)
    return pdf


def test_distinct_pids_core_matches_oracle():
    """Dual-implementation agreement on duplicate-PID data, both modes."""
    pdf = _dup_pid_pdf()
    for strict in (False, True):
        cfg = FADSConfig(
            k=5, buffer_rows=12, reuse_ms=100_000,
            qid_cols=("user_id", "value", "ts_millis"),
            pid_col="person", arrival_col="arrival_ms",
            distinct_pids=strict,
        )
        # pid_col is non-unique: sort exactly like run_fads_pandas does and
        # feed the oracle positional ids + pid values
        s = pdf.sort_values(["arrival_ms", "person"], kind="mergesort").reset_index(drop=True)
        rows = [
            (i, tuple(s.loc[i, c] for c in cfg.qid_cols), int(s.loc[i, "arrival_ms"]),
             int(s.loc[i, "person"]))
            for i in range(len(s))
        ]
        expected = fads_oracle(rows, cfg)
        got = run_fads_pandas(pdf, cfg)
        assert len(got) == len(pdf)
        got = got.set_index("row_uid")
        for i, (lo, hi) in expected.items():
            uid = int(s.loc[i, "row_uid"])
            for j, q in enumerate(cfg.qid_cols):
                assert got.loc[uid, f"{q}_lo"] == pytest.approx(lo[j])
                assert got.loc[uid, f"{q}_hi"] == pytest.approx(hi[j])


def test_distinct_pids_forces_fallback():
    """All rows share one PID: no k-1 unique-PID neighbour set ever exists,
    so every overflow release must suppress (no cluster is ever cached) —
    intervals equal the running global-bounds snapshot, never a kNN box."""
    n = 40
    pdf = pd.DataFrame(
        {
            "row_uid": np.arange(n),
            "person": np.zeros(n, dtype=np.int64),
            "user_id": np.linspace(0.0, 39.0, n),
            "value": np.linspace(100.0, 139.0, n),
            "ts_millis": np.arange(n, dtype=float),
        }
    )
    pdf["arrival_ms"] = np.arange(n, dtype=np.int64)
    cfg = FADSConfig(
        k=4, buffer_rows=8, reuse_ms=10**9,
        qid_cols=("user_id", "value"),
        pid_col="person", arrival_col="arrival_ms",
        distinct_pids=True,
    )
    out = run_fads_pandas(pdf, cfg).sort_values("row_uid").reset_index(drop=True)
    assert len(out) == n
    # row released at overflow i (buffer holds rows 0..8 -> row 0 released
    # when row 8 arrives): bounds snapshot covers rows seen so far
    first = out.iloc[0]
    assert first["user_id_lo"] == 0.0 and first["user_id_hi"] == 8.0
    assert first["value_lo"] == 100.0 and first["value_hi"] == 108.0
    # strict mode must differ from parity mode on this data
    base = run_fads_pandas(pdf, FADSConfig(**{**cfg.__dict__, "distinct_pids": False}))
    base = base.sort_values("row_uid").reset_index(drop=True)
    assert not out[["user_id_lo", "user_id_hi"]].equals(base[["user_id_lo", "user_id_hi"]])


# -- hot-key salting in scale-out mode (dedup _salt_cap discipline) ---------


def test_partitioned_hot_key_salting(spark):
    """One 10x-hot key: max_group_rows sub-splits it into arrival-contiguous
    runs; the output equals an independent local FADS over each run (proving
    every task is bounded at max_group_rows rows) and cold keys are
    untouched (single run)."""
    rng = np.random.default_rng(3)

    def mk(grp, n, base):
        return pd.DataFrame(
            {
                "event_id": np.arange(base, base + n),
                "grp": grp,
                "user_id": rng.uniform(0, 50, n).round(2),
                "value": rng.uniform(0, 100, n).round(2),
                "arrival_ms": np.sort(rng.integers(0, 10**6, n)).astype(np.int64),
            }
        )

    hot = mk("hot", 1000, 0)
    colds = [mk(f"cold{i}", 100, 10_000 * (i + 1)) for i in range(4)]
    pdf = pd.concat([hot, *colds], ignore_index=True)
    cfg = FADSConfig(
        k=5, buffer_rows=15, reuse_ms=60_000,
        qid_cols=("user_id", "value"),
        pid_col="event_id", arrival_col="arrival_ms",
    )
    cap = 250
    df = spark.createDataFrame(pdf)
    out = fads_generalize_partitioned(df, cfg, "grp", max_group_rows=cap).toPandas()
    assert len(out) == len(pdf)
    assert "__fads_run" not in out.columns

    # expected: chunk each group's arrival-ordered rows into runs of <= cap,
    # run FADS independently per run
    expect_frames = []
    for _, g in pdf.groupby("grp"):
        s = g.sort_values(["arrival_ms", "event_id"], kind="mergesort").reset_index(drop=True)
        for start in range(0, len(s), cap):
            expect_frames.append(run_fads_pandas(s.iloc[start : start + cap], cfg))
    expected = pd.concat(expect_frames, ignore_index=True)
    o = out.sort_values("event_id").reset_index(drop=True)
    e = expected[o.columns].sort_values("event_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(o, e, check_dtype=False)

    # the hot group really was split (4 runs of 250), colds were not
    assert len(hot) / cap == 4
    with pytest.raises(ValueError):
        fads_generalize_partitioned(df, cfg, "grp", max_group_rows=cfg.buffer_rows)


# -- legacy (shipped-bug-parity) distance mode ------------------------------


def legacy_pdf() -> pd.DataFrame:
    """Rows with raw0/raw1 columns standing in for the reference's raw
    fields 0..d-1 of the legacy distance."""
    rng = np.random.default_rng(5)
    n = 300
    pdf = pd.DataFrame(
        {
            "event_id": np.arange(n),
            "raw0": rng.uniform(1, 9, n).round(3),   # stand-in for field 0
            "raw1": rng.uniform(1, 9, n).round(3),   # stand-in for field 1
            "user_id": rng.uniform(0, 50, n).round(2),
            "value": rng.uniform(10, 200, n).round(2),
            "ts_millis": np.sort(rng.integers(0, 10**6, n)).astype(float),
        }
    )
    pdf["arrival_ms"] = pdf["ts_millis"].astype(np.int64)
    return pdf


def test_legacy_distance_core_matches_oracle():
    """Dual-implementation agreement with the shipped (abs/hi)-lo distance,
    including distinct legacy columns standing in for the reference's raw
    fields 0..d-1."""
    pdf = legacy_pdf()
    n = len(pdf)
    for lcols in (None, ("raw0", "raw1")):
        cfg = FADSConfig(
            k=4, buffer_rows=10, reuse_ms=100_000,
            qid_cols=("user_id", "value"),
            pid_col="event_id", arrival_col="arrival_ms",
            legacy_distance=True, legacy_distance_cols=lcols,
        )
        use = list(lcols or cfg.qid_cols)
        rows = [
            (i, tuple(pdf.loc[i, c] for c in cfg.qid_cols), int(pdf.loc[i, "arrival_ms"]),
             int(pdf.loc[i, "event_id"]), tuple(pdf.loc[i, c] for c in use))
            for i in range(n)
        ]
        expected = fads_oracle(rows, cfg)
        got = run_fads_pandas(pdf, cfg).set_index("event_id")
        for i, (lo, hi) in expected.items():
            for j, q in enumerate(cfg.qid_cols):
                assert got.loc[i, f"{q}_lo"] == pytest.approx(lo[j]), (lcols, i)
                assert got.loc[i, f"{q}_hi"] == pytest.approx(hi[j]), (lcols, i)

    # the shipped formula must actually diverge from the intended one here
    base = run_fads_pandas(
        pdf, FADSConfig(k=4, buffer_rows=10, reuse_ms=100_000,
                        qid_cols=("user_id", "value"),
                        pid_col="event_id", arrival_col="arrival_ms")
    )
    legacy = run_fads_pandas(
        pdf, FADSConfig(k=4, buffer_rows=10, reuse_ms=100_000,
                        qid_cols=("user_id", "value"),
                        pid_col="event_id", arrival_col="arrival_ms",
                        legacy_distance=True)
    )
    b = base.sort_values("event_id").reset_index(drop=True)
    l = legacy.sort_values("event_id").reset_index(drop=True)
    assert not b[["user_id_lo", "user_id_hi", "value_lo", "value_hi"]].equals(
        l[["user_id_lo", "user_id_hi", "value_lo", "value_hi"]]
    )


def test_legacy_distance_cols_validation():
    with pytest.raises(ValueError):
        FADSConfig(qid_cols=("a", "b"), pid_col="p", arrival_col="t",
                   legacy_distance=True, legacy_distance_cols=("x",))


@pytest.mark.parametrize(
    "kw",
    [{}, {"distinct_pids": True}, {"legacy_distance": True}],
    ids=["intended", "distinct_pids", "legacy_distance"],
)
def test_chunked_process_bit_identical_to_one_shot(spark, kw):
    """Resumability contract of the one FADS engine: feeding the rows to
    ``FADSState.process`` in several chunks, then ``flush``, emits
    byte-for-byte the frame of one ``process`` + ``flush`` over all rows
    (``run_fads_pandas``), in every distance/filter mode."""
    pdf = _events_pdf(spark)
    cfg = FADSConfig(
        k=5,
        buffer_rows=15,
        reuse_ms=60_000,
        qid_cols=("user_id", "value", "ts_millis"),
        pid_col="event_id",
        arrival_col="arrival_ms",
        **kw,
    )
    one_shot = run_fads_pandas(pdf, cfg)
    pdf = pdf.sort_values(["arrival_ms", "event_id"], kind="mergesort").reset_index(drop=True)
    qids, arrivals, pids, legacy = _frame_inputs(pdf, cfg)
    for n_chunks in (2, 7, 61):
        state = FADSState(cfg)
        parts = [
            state.process(
                idx, qids[idx], arrivals[idx], pids[idx], None if legacy is None else legacy[idx]
            )
            for idx in np.array_split(np.arange(len(pdf)), n_chunks)
        ]
        released = ReleasedBatch(*map(np.concatenate, zip(*parts, state.flush())))
        chunked = _assemble(pdf, released.row_ids, released, cfg, pdf.columns)
        pd.testing.assert_frame_equal(one_shot, chunked, check_exact=True)


def test_busy_cluster_table_matches_oracle():
    """At the reference job's own arrival density (1,000 rows/s, 60 s
    reuse) no cluster expires within 4k rows, so every release searches a
    table of up to ~400 live clusters.  One-shot and 7-chunk runs both
    equal the oracle exactly, and the run takes every kind of release
    decision: new cluster, reuse, suppression."""
    rng = np.random.default_rng(5)
    n = 4000
    arrival = np.floor(np.cumsum(rng.exponential(1.0, n))).astype(np.int64)
    pdf = pd.DataFrame(
        {
            "event_id": np.arange(n),
            "user_id": rng.integers(0, 1500, n).astype(float),
            "value": rng.exponential(50.0, n).round(2),
            "ts_millis": arrival.astype(float),
            "arrival_ms": arrival,
        }
    )
    cfg = FADSConfig()
    qids, arrivals, pids, _ = _frame_inputs(pdf, cfg)
    expected = fads_oracle(list(zip(range(n), map(tuple, qids.tolist()), arrivals.tolist())), cfg)
    exp_lo = np.array([expected[i][0] for i in range(n)])
    exp_hi = np.array([expected[i][1] for i in range(n)])

    # suppressed rows carry a snapshot of the running global bounds; a new
    # cluster releases exactly k rows with its box, so rows beyond k per
    # box are reuses
    snaps = set(
        zip(
            map(tuple, np.minimum.accumulate(qids).tolist()),
            map(tuple, np.maximum.accumulate(qids).tolist()),
        )
    )
    boxes = [box for box in expected.values() if box not in snaps]
    n_new = len(set(boxes))
    assert len(boxes) < n  # suppression
    assert n_new > 300  # new clusters, all still live
    assert len(boxes) > cfg.k * n_new  # reuse

    one_shot = run_fads_pandas(pdf, cfg).sort_values("event_id")
    lo_cols = [f"{q}_lo" for q in cfg.qid_cols]
    hi_cols = [f"{q}_hi" for q in cfg.qid_cols]
    np.testing.assert_array_equal(one_shot[lo_cols].to_numpy(), exp_lo)
    np.testing.assert_array_equal(one_shot[hi_cols].to_numpy(), exp_hi)

    state = FADSState(cfg)
    parts = [
        state.process(idx, qids[idx], arrivals[idx], pids[idx])
        for idx in np.array_split(np.arange(n), 7)
    ]
    chunked = ReleasedBatch(*map(np.concatenate, zip(*parts, state.flush())))
    order = np.argsort(chunked.row_ids)
    assert np.array_equal(chunked.row_ids[order], np.arange(n))
    np.testing.assert_array_equal(chunked.lo[order], exp_lo)
    np.testing.assert_array_equal(chunked.hi[order], exp_hi)


def _edge_case(name: str):
    """(qids, arrivals, cfg) of one engine edge case: 600 rows ~100 ms
    apart on small integer grids, so boxes contain later rows strictly and
    many clusters tie on infoLoss."""
    rng = np.random.default_rng(3)
    n = 600
    arrivals = np.floor(np.cumsum(rng.exponential(100.0, n))).astype(np.int64)
    grid = rng.integers(0, 40, (n, 4)).astype(float)
    d, kw = 3, {}
    if name == "constant_col":  # zero global range for the whole run
        grid[:, 0] = 7.0
    elif name == "range_opens_mid_call":  # range 0 -> > 0 at row 50
        grid[:50, 0] = 3.0
    elif name in ("d1", "d4"):
        d = int(name[1])
    elif name == "duplicate_rows":  # exact duplicates: tied distances and infoLoss
        grid = rng.integers(0, 8, (60, 4)).astype(float)[rng.integers(0, 60, n)]
    elif name == "reuse0":
        kw = {"reuse_ms": 0}
    elif name == "ttl_mid_call":  # clusters expire within one call
        kw = {"reuse_ms": 5_000}
    cols = ("a", "b", "c", "e")[:d]
    cfg = FADSConfig(k=5, buffer_rows=15, qid_cols=cols, pid_col="p", arrival_col="t", **kw)
    return grid[:, :d].copy(), arrivals, cfg


def _oracle_bounds(qids, arrivals, cfg):
    n = len(qids)
    expected = fads_oracle(list(zip(range(n), map(tuple, qids.tolist()), arrivals.tolist())), cfg)
    return (np.array([expected[i][0] for i in range(n)]),
            np.array([expected[i][1] for i in range(n)]))


def _released_by_row(parts) -> ReleasedBatch:
    """Concatenated releases, sorted by row id."""
    out = ReleasedBatch(*map(np.concatenate, zip(*parts)))
    order = np.argsort(out.row_ids)
    return ReleasedBatch(out.row_ids[order], out.lo[order], out.hi[order])


@pytest.mark.parametrize(
    "case",
    ["constant_col", "range_opens_mid_call", "d1", "d4", "duplicate_rows", "reuse0",
     "ttl_mid_call"],
)
def test_engine_edge_cases_equal_oracle_exactly(case):
    """One-shot and 7-chunk ``FADSState`` runs equal the oracle bit for bit
    on zero and opening global ranges, one and four QIDs, exact duplicate
    rows (first-created cluster wins a tie) and clusters that expire mid-call."""
    qids, arrivals, cfg = _edge_case(case)
    exp_lo, exp_hi = _oracle_bounds(qids, arrivals, cfg)
    for n_chunks in (1, 7):
        state = FADSState(cfg)
        parts = [
            state.process(idx, qids[idx], arrivals[idx])
            for idx in np.array_split(np.arange(len(qids)), n_chunks)
        ]
        got = _released_by_row([*parts, state.flush()])
        np.testing.assert_array_equal(got.row_ids, np.arange(len(qids)))
        np.testing.assert_array_equal(got.lo, exp_lo)
        np.testing.assert_array_equal(got.hi, exp_hi)


def test_late_batch_processed_like_the_oracle():
    """A batch whose arrivals lie below the previous batch's last arrival
    (out of G1 order) is processed as the oracle processes the same row
    sequence: nothing is raised, and a cluster expires only once the clock
    passes its creation time + reuse_ms again."""
    qids, arrivals, cfg = _edge_case("ttl_mid_call")
    late = arrivals[300:] - arrivals[300]  # restarts at 0, below batch 1's clock
    arrivals = np.concatenate([arrivals[:300], late])
    exp_lo, exp_hi = _oracle_bounds(qids, arrivals, cfg)
    state = FADSState(cfg)
    parts = [state.process(idx, qids[idx], arrivals[idx]) for idx in (np.arange(300), np.arange(300, 600))]
    got = _released_by_row([*parts, state.flush()])
    np.testing.assert_array_equal(got.lo, exp_lo)
    np.testing.assert_array_equal(got.hi, exp_hi)


def _busy_pdf(n: int = 4000) -> pd.DataFrame:
    """The reference job's arrival density: 1,000 rows/s, no expiry."""
    rng = np.random.default_rng(5)
    arrival = np.floor(np.cumsum(rng.exponential(1.0, n))).astype(np.int64)
    return pd.DataFrame(
        {
            "event_id": np.arange(n),
            "user_id": rng.integers(0, 1500, n).astype(float),
            "value": rng.exponential(50.0, n).round(2),
            "ts_millis": arrival.astype(float),
            "arrival_ms": arrival,
        }
    )


def test_engine_prints_nothing_and_bounds_stay_finite(capfd):
    """The engine writes nothing to stdout (a benchmark's result line is the
    last stdout line of its process) and every released bound is finite, so
    a width metric over them is strict JSON."""
    pdf, cfg = _busy_pdf(), FADSConfig()
    out = run_fads_pandas(pdf, cfg)
    qids, arrivals, pids, _ = _frame_inputs(pdf, cfg)
    state = FADSState(cfg)
    parts = [
        state.process(idx, qids[idx], arrivals[idx], pids[idx])
        for idx in np.array_split(np.arange(len(pdf)), 2)
    ]
    chunked = _released_by_row([*parts, state.flush()])
    assert capfd.readouterr().out == ""
    batch = (out[[f"{q}_lo" for q in cfg.qid_cols]].to_numpy(),
             out[[f"{q}_hi" for q in cfg.qid_cols]].to_numpy())
    for lo, hi in (batch, (chunked.lo, chunked.hi)):
        assert np.isfinite(lo).all() and np.isfinite(hi).all()
        json.dumps({"mean_width": float(np.mean(hi - lo))}, allow_nan=False)


@pytest.mark.parametrize(
    "build",
    [
        fads_generalize,
        lambda df, cfg: fads_generalize_partitioned(df, cfg, "event_type"),
        fads_generalize_stream,
    ],
    ids=["fads_generalize", "fads_generalize_partitioned", "fads_generalize_stream"],
)
def test_missing_input_column_fails_at_build(spark, build, tmp_path):
    """A missing QID, pid, arrival or legacy-distance column is a ValueError
    when the query is built, not a Python-worker failure mid-query."""
    path = str(tmp_path / "events")
    _events_df(spark).write.parquet(path)
    df = spark.read.parquet(path)
    if build is fads_generalize_stream:
        df = spark.readStream.schema(df.schema).parquet(path)
    for missing in ("value", "event_id", "arrival_ms"):
        with pytest.raises(ValueError, match=missing):
            build(df.drop(missing), CFG)
    legacy = FADSConfig(
        **{**CFG.__dict__, "legacy_distance": True,
           "legacy_distance_cols": ("user_id", "value", "raw_ts")}
    )
    with pytest.raises(ValueError, match="raw_ts"):
        build(df, legacy)
