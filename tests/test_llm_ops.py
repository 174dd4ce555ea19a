"""Semantic tests for the LLM-training-data pipeline operators (dedup,
similarity, text analysis, multimodal plumbing) on hand-built inputs where
the right answer is obvious, plus a recall check of the LSH scale path
against the exact brute-force baseline on the real fixtures."""

from __future__ import annotations

import pytest
from pyspark.sql import Row, functions as F

from pyfads import dedup as D
from pyfads import multimodal as M
from pyfads import similarity as S
from pyfads import text as X
from pyfads.io import read_table

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [
            Row(doc_id=1, text="the quick brown fox jumps over the lazy dog"),
            Row(doc_id=2, text="the quick brown fox jumps over the lazy dog"),  # exact dup
            Row(doc_id=3, text="the quick brown fox jumps over the lazy cat"),  # near dup
            Row(doc_id=4, text="completely different words appear in here 42 ok"),
        ]
    )


def test_exact_dedup(docs):
    out = {r["doc_id"]: r["n_copies"] for r in D.exact_dedup(docs).collect()}
    assert out == {1: 2, 3: 1, 4: 1}  # doc 2 folded into doc 1


def test_minhash_near_dup(docs):
    pairs = {
        (r["a_id"], r["b_id"]): r["jaccard"]
        for r in D.minhash_near_dup_pairs(docs, threshold=0.5).collect()
    }
    assert pairs[(1, 2)] == 1.0  # exact dup always survives
    # near-dup (1,3): 7 shingles each, 6 shared -> jaccard 6/8 = 0.75
    if (1, 3) in pairs:
        assert pairs[(1, 3)] == pytest.approx(0.75)
    assert all(a < 4 and b < 4 for a, b in pairs)  # doc 4 never pairs


def test_exact_dedup_stream_cross_batch(spark, tmp_path_factory):
    """Streaming exact dedup suppresses duplicates ACROSS micro-batches and
    keeps the first-seen occurrence; the watermarked bounded-state variant
    behaves identically inside the horizon."""
    import os as _os
    import time as _t

    import pandas as pd

    d = str(tmp_path_factory.mktemp("dedup_stream"))
    n, distinct = 60, 20
    pdf = pd.DataFrame(
        {
            "doc_id": range(n),
            "text": [f"document body {i % distinct}" for i in range(n)],
            "ts": (pd.to_datetime("2024-01-01") + pd.to_timedelta(range(n), unit="s")).astype("datetime64[us]"),
        }
    )
    for i, part in enumerate([pdf.iloc[:20], pdf.iloc[20:40], pdf.iloc[40:]]):
        p = f"{d}/chunk_{i}.parquet"
        part.to_parquet(p, index=False)
        _os.utime(p, (1_700_000_000 + i * 60,) * 2)
    schema = spark.createDataFrame(pdf.head(1)).schema

    for mode, kwargs in [
        ("exact", {}),
        ("watermarked", {"event_time_col": "ts", "watermark_delay": "1 hour"}),
    ]:
        src = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(d)
        out = D.exact_dedup_stream(src, **kwargs)
        name = f"dedup_stream_{mode}"
        q = (
            out.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        try:
            assert q.awaitTermination(240)
        finally:
            q.stop()
        got = spark.table(name).toPandas()
        # one survivor per distinct text, and it is the FIRST-seen doc_id
        assert len(got) == distinct, mode
        assert sorted(got["doc_id"]) == list(range(distinct)), mode


def test_text_ops_run_on_streams_unchanged(spark, tmp_path_factory):
    """The text/quality operators are stateless projections, so the SAME
    functions run on a streaming DataFrame with no code changes — streamed
    results equal the batch run row for row."""
    import shutil

    d = str(tmp_path_factory.mktemp("docs_stream"))
    shutil.copy("/root/testdata/sf0.001/documents.parquet", d)
    batch_docs = read_table(spark, "/root/testdata/sf0.001", "documents")
    stream_docs = spark.readStream.schema(batch_docs.schema).parquet(d)

    # dsir_score_serve's literal-array model makes it stream-safe too —
    # train on the batch side, serve on the stream (the quality-gate shape)
    lam = X.dsir_train_lambda(batch_docs, F.col("lang") == "en", n_buckets=256)
    serve = lambda df: X.dsir_score_serve(df, lam)  # noqa: E731

    for i, op in enumerate(
        [X.text_stats, X.quality_score, X.token_counts, X.lang_id, serve]
    ):
        name = f"text_stream_{i}"
        q = (
            op(stream_docs)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        try:
            assert q.awaitTermination(240)
        finally:
            q.stop()
        got = spark.table(name).toPandas().sort_values("doc_id").reset_index(drop=True)
        want = op(batch_docs).toPandas().sort_values("doc_id").reset_index(drop=True)
        import pandas as pd

        pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_minhash_bucket_cap_bounds_fanout(spark):
    """30 identical docs share every band key: uncapped C(30,2)=435 pairs;
    a cap of 10 splits each band bucket into 3 salted sub-buckets, so the
    join fan-out per bucket is bounded at C(10,2)."""
    rows = [Row(doc_id=i, text="same boilerplate text repeated again and again") for i in range(30)]
    df = spark.createDataFrame(rows)
    sigs = D.minhash_signature(df)
    assert D.minhash_band_pairs(sigs).count() == 435
    capped = D.minhash_band_pairs(sigs, max_bucket=10).collect()
    # sub-buckets are salted identically per band (ordered by id): ids
    # [0..9], [10..19], [20..29] -> 3 * C(10,2) pairs, none crossing groups
    assert len(capped) == 3 * 45
    assert all(r["a_id"] // 10 == r["b_id"] // 10 for r in capped)


def test_simhash_identical_texts_equal(docs):
    sigs = {r["doc_id"]: r["simhash"] for r in D.simhash(docs).collect()}
    assert sigs[1] == sigs[2]
    assert 0 <= sigs[1] < (1 << 32)
    assert sigs[1] != sigs[4]


def test_cosine_topk_exact_match_ranks_first(spark):
    rows = [
        Row(vec_id=0, embedding=[1.0, 0.0, 0.0]),
        Row(vec_id=1, embedding=[2.0, 0.0, 0.0]),  # same direction as 0
        Row(vec_id=2, embedding=[0.0, 1.0, 0.0]),
        Row(vec_id=3, embedding=[-1.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows)
    out = S.cosine_topk(df, df.filter(F.col("vec_id") == 0), dim=3, k=3).collect()
    ranked = sorted(out, key=lambda r: r["rank"])
    assert [r["neighbor_id"] for r in ranked] == [1, 2, 3]
    assert ranked[0]["cosine"] == pytest.approx(1.0)
    assert ranked[2]["cosine"] == pytest.approx(-1.0)


def test_ann_lsh_recall_vs_bruteforce(spark):
    embs = read_table(spark, SF_DIR, "embeddings")
    q = embs.filter(F.col("vec_id") < 8)
    exact = S.cosine_topk(embs, q, dim=64, k=10).collect()
    approx = S.ann_lsh_topk(embs, q, dim=64, k=10, n_planes=4, n_tables=8).collect()
    exact_set = {(r["q_id"], r["neighbor_id"]) for r in exact}
    approx_set = {(r["q_id"], r["neighbor_id"]) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    # 8 tables x 4 planes on 64-dim Gaussian data: measured recall ~0.68
    # (per-table collision for cos~0.4 is ~(1-theta/pi)^4 ~ 0.16; 8 tables
    # -> 1-(1-0.16)^8 ~ 0.75).  Floor at 0.4 leaves seed margin.
    assert recall >= 0.4, f"LSH recall {recall:.2f} below floor"
    # within buckets the cosine values must agree exactly with brute force
    exact_cos = {(r["q_id"], r["neighbor_id"]): r["cosine"] for r in exact}
    for r in approx:
        key = (r["q_id"], r["neighbor_id"])
        if key in exact_cos:
            assert r["cosine"] == exact_cos[key]


def test_embedding_near_dup_planted(spark):
    """Plant near-identical vector pairs among random Gaussians: LSH bucket
    self-join must recover them (true dups collide with prob ~1), exact
    cosine must match brute force, and random non-dup pairs must not appear."""
    import numpy as np

    rng = np.random.default_rng(7)
    base = rng.standard_normal((100, 16))
    rows = [Row(vec_id=i, embedding=[float(x) for x in base[i]]) for i in range(100)]
    # plant 5 near-dups: ids 100+j is a tiny perturbation of j
    for j in range(5):
        v = base[j] + 1e-4 * rng.standard_normal(16)
        rows.append(Row(vec_id=100 + j, embedding=[float(x) for x in v]))
    df = spark.createDataFrame(rows)
    got = {
        (r["a_id"], r["b_id"])
        for r in S.embedding_near_dup_pairs(df, dim=16, threshold=0.95).collect()
    }
    assert {(j, 100 + j) for j in range(5)} <= got
    # random 16-dim Gaussians essentially never reach cosine 0.95
    assert got == {(j, 100 + j) for j in range(5)}


def test_dsir_weights_separate_target_vocab(spark):
    """DSIR importance weights must rank docs made of target-distribution
    vocabulary above docs made of off-target vocabulary (the paper's
    selection property), here at floor-log2 resolution: 8 target docs
    share one vocabulary, 8 raw-only docs another; two held-out probes
    (target-vocab vs off-vocab, neither marked target) must order
    accordingly and the gap must be material (>= 3 bits)."""
    from pyfads.text import dsir_weights

    rows = []
    for i in range(8):
        rows.append((i, "alpha beta gamma alpha beta gamma", True))
    for i in range(8, 16):
        rows.append((i, "delta epsilon zeta delta epsilon zeta", False))
    rows.append((100, "alpha beta gamma alpha beta gamma", False))  # probe: on-target
    rows.append((101, "delta epsilon zeta delta epsilon zeta", False))  # probe: off
    df = spark.createDataFrame(rows, "doc_id long, text string, tgt boolean")
    w = {
        r["doc_id"]: r["logw_bits"]
        for r in dsir_weights(df, "tgt", n_buckets=64, text_col="text").collect()
    }
    assert w[100] - w[101] >= 3, (w[100], w[101])
    # weights are a pure function of text: probe == its vocabulary twin
    assert w[100] == w[0] and w[101] == w[8]


def test_dsir_weights_fixture_prefers_target_language(spark):
    """On the real documents fixture with target = lang='en', mean
    logw_bits of en docs must exceed every other language's mean
    (deterministic: measured ~-5.9 vs -11.8..-13.0 at sf0.01)."""
    from pyfads.text import dsir_weights

    docs = read_table(spark, "/root/testdata/sf0.01", "documents")
    w = dsir_weights(docs, F.col("lang") == "en").join(
        docs.select("doc_id", "lang"), "doc_id"
    )
    means = {
        r["lang"]: r["m"]
        for r in w.groupBy("lang").agg(F.avg("logw_bits").alias("m")).collect()
    }
    for lang, m in means.items():
        if lang != "en":
            assert means["en"] > m + 3, (lang, means)


def test_clf_eval_confusion_held_out(spark):
    """The train/eval composition on the real fixture: the confusion counts
    partition the test split exactly, accuracy_ppm is their integer ratio,
    and the model generalizes — held-out accuracy beats the
    majority-class baseline (the split is deterministic, so this is a
    fixed measured property, not a flaky ML assert)."""
    from pyfads.llm_queries import clf_eval_confusion_q
    from pyfads.pipeline import split_assign

    row = clf_eval_confusion_q(spark, "/root/testdata/sf0.01").collect()[0]
    assert row.tp + row.fp + row.fn + row.tn == row.n_test > 0
    assert row.accuracy_ppm == ((row.tp + row.tn) * 1_000_000) // row.n_test
    docs = read_table(spark, "/root/testdata/sf0.01", "documents")
    test = split_assign(docs, {"train": 0.9, "val": 0.05, "test": 0.05}).filter(
        F.col("split") == "test"
    )
    n_en = test.filter(F.col("lang") == "en").count()
    n = test.count()
    majority_ppm = max(n_en, n - n_en) * 1_000_000 // n
    assert row.n_test == n
    assert row.accuracy_ppm > majority_ppm, (row.accuracy_ppm, majority_ppm)


def test_dsir_sample_race_semantics(spark):
    """The integer exponential race: race_key = logw_bits + geometric
    noise (60 - bit_length(md5 uniform)); a 100-bit weight gap cannot be
    bridged by noise (max 60 bits), so all k winners come from the heavy
    group, and the race is a pure function of (id, seed) — rerun equal."""
    from pyfads.pipeline import dsir_sample
    from pyfads.text import md5_hash60_py

    heavy = [(i, 100) for i in range(20)]
    light = [(i, 0) for i in range(20, 200)]
    df = spark.createDataFrame(heavy + light, "doc_id long, logw_bits long")
    got = dsir_sample(df, k=20).collect()
    assert sorted(r["doc_id"] for r in got) == list(range(20))
    for r in got:
        u = md5_hash60_py("dsirs", str(r["doc_id"]))
        noise = 60 - ((u + 1).bit_length() - 1)
        assert r["noise_bits"] == noise
        assert r["race_key"] == r["logw_bits"] + noise
    assert [r["doc_id"] for r in dsir_sample(df, k=20).collect()] == [
        r["doc_id"] for r in got
    ]


def test_semantic_dedup_planted_paraphrase(spark):
    """SemDeDup keeper semantics on a hand-built cluster geometry: within
    a cell, every vector with a >= tau neighbor of LOWER centroid-cosine
    (ties: lower id) is dropped; the least-typical member survives.

    cents pinned so cell assignment is known: id1=(1,0,0,0) cell0 cc=1.0;
    id2=(0.9,0.1,0,0) cell0 cc~0.9938 with cos(1,2)~0.9938 >= 0.9 -> id2
    (farther from centroid) survives, id1 drops; id5 duplicates id1
    exactly -> cc tie, id1 beats id5 on id, and id2 beats both, so id5
    has TWO better neighbors; cell1's pair sits at cos 0.707 < 0.9 ->
    both kept."""
    import numpy as np

    cents = np.array([[1.0, 0, 0, 0], [0, 1.0, 0, 0]])
    df = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0, 0.0]),
            (2, [0.9, 0.1, 0.0, 0.0]),
            (3, [0.0, 1.0, 0.0, 0.0]),
            (4, [0.0, 0.5, 0.5, 0.0]),
            (5, [1.0, 0.0, 0.0, 0.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    rows = {
        r["vec_id"]: r
        for r in S.semantic_dedup(df, dim=4, threshold=0.9, centroids=cents).collect()
    }
    assert {i: rows[i]["is_kept"] for i in rows} == {
        1: False,
        2: True,
        3: True,
        4: True,
        5: False,
    }
    assert rows[1]["n_better_neighbors"] == 1  # id2 only
    assert rows[5]["n_better_neighbors"] == 2  # id2 and (id-tiebreak) id1
    assert rows[1]["cell"] == rows[2]["cell"] == rows[5]["cell"] == 0
    assert rows[3]["cell"] == rows[4]["cell"] == 1
    assert abs(rows[1]["centroid_cos"] - 1.0) < 1e-12
    # survivors of a tau-group are the LOW-centroid-cos members
    assert rows[2]["centroid_cos"] < rows[1]["centroid_cos"]


def test_kcenter_select_farthest_point_order(spark):
    """Greedy k-center picks the farthest point from the selected set each
    round: from seed (1,0,..), the antipode (cos dist 2) comes first, the
    orthogonal (dist 1) second, and the near-seed clone last."""
    df = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0, 0.0]),   # seed (lowest id)
            (2, [0.999, 0.0447, 0.0, 0.0]),  # near seed -> picked last
            (3, [0.0, 1.0, 0.0, 0.0]),   # orthogonal -> dist 1
            (4, [-1.0, 0.0, 0.0, 0.0]),  # antipode  -> dist 2
        ],
        "vec_id long, embedding array<double>",
    )
    sel = S.kcenter_select(df, k=4, dim=4)
    assert [s[1] for s in sel] == [1, 4, 3, 2]
    assert sel[0][2] is None
    assert abs(sel[1][2] - 2.0) < 1e-12
    assert abs(sel[2][2] - 1.0) < 1e-12
    assert sel[3][2] < 0.1  # the clone is close to the seed


def test_semantic_dedup_multiprobe_catches_boundary_pairs(spark):
    """SemDeDup's known recall gap: a tau-pair whose members sit just
    either side of a cell boundary is invisible to single-assignment
    (different primary cells) but caught at n_assign=2 (each member's
    second-best cell is the other's primary)."""
    import math

    t0, t1, t2 = math.radians(19), math.radians(21), math.radians(40)
    cents = __import__("numpy").array(
        [[1.0, 0.0, 0.0, 0.0], [math.cos(t2), math.sin(t2), 0.0, 0.0]]
    )
    df = spark.createDataFrame(
        [
            (1, [math.cos(t0), math.sin(t0), 0.0, 0.0]),  # primary cell 0
            (2, [math.cos(t1), math.sin(t1), 0.0, 0.0]),  # primary cell 1
        ],
        "vec_id long, embedding array<double>",
    )
    single = {
        r["vec_id"]: r["is_kept"]
        for r in S.semantic_dedup(df, 4, threshold=0.9, centroids=cents).collect()
    }
    assert single == {1: True, 2: True}  # boundary pair missed
    probe2 = {
        r["vec_id"]: r["is_kept"]
        for r in S.semantic_dedup(
            df, 4, threshold=0.9, centroids=cents, n_assign=2
        ).collect()
    }
    assert sorted(probe2.values()) == [False, True]  # exactly one survives

    # ADAPTIVE probe (r9 verdict #5): the margin test dp1 - dp2 <
    # 0.05 * |v| keeps this boundary pair (each member's second-cell dp
    # deficit is cos19 - cos21 ~ 0.012) -> identical verdicts to the
    # unconditional 2-probe; a clear-interior vector probes ONE cell.
    adaptive = {
        r["vec_id"]: r["is_kept"]
        for r in S.semantic_dedup(
            df, 4, threshold=0.9, centroids=cents, n_assign=2, probe_margin=0.05
        ).collect()
    }
    assert adaptive == probe2
    interior = spark.createDataFrame(
        [(9, [1.0, 0.0, 0.0, 0.0])], "vec_id long, embedding array<double>"
    )
    one = _probe_set(interior, cents, 2, 0.05)
    assert len(one) == 1  # second probe suppressed away from boundaries
    both = _probe_set(df, cents, 2, 0.05)
    assert len(both) == 4  # boundary pair still probes two cells each
    import pytest as _pytest

    with _pytest.raises(ValueError, match="n_assign"):
        S.semantic_dedup(df, 4, centroids=cents, probe_margin=0.05)


def test_semantic_dedup_incremental_gate(spark):
    """Incremental semantic gate semantics: exact corpus copies drop
    (is_new=false), orthogonal/negated vectors pass, and the corpus
    always wins — no keeper priority on the batch side."""
    import numpy as np

    cents = np.array([[1.0, 0, 0, 0], [0, 1.0, 0, 0]])
    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    batch = spark.createDataFrame(
        [
            (10, [2.0, 0.0, 0.0, 0.0]),   # scaled copy of corpus 1 -> dup
            (11, [0.0, 0.0, 1.0, 0.0]),   # orthogonal -> new
            (12, [0.95, 0.05, 0.0, 0.0]), # near corpus 1 (cos ~0.999) -> dup
        ],
        "vec_id long, embedding array<double>",
    )
    rows = {
        r["vec_id"]: r
        for r in S.semantic_dedup_incremental(
            batch, corpus, dim=4, threshold=0.9, centroids=cents
        ).collect()
    }
    assert rows[10]["is_new"] is False and rows[10]["n_corpus_dups"] == 1
    assert rows[12]["is_new"] is False
    assert rows[11]["is_new"] is True and rows[11]["n_corpus_dups"] == 0


def test_semantic_dedup_docs_catches_planted_text_neardups(spark):
    """The model-free composition (hashed-projection embeddings ->
    semantic_dedup) must DEDUP the fixture's planted near-dup text pairs:
    for every pair sharing an 80-char prefix, at most one side survives
    when both hash to the same cell (cosine ~0.98 >> tau=0.8); overall
    the majority of the corpus is kept."""
    from pyfads.text import doc_embed_hash

    docs = read_table(spark, "/root/testdata/sf0.01", "documents")
    pairs = (
        docs.alias("a")
        .join(
            docs.alias("b"),
            (F.col("a.doc_id") < F.col("b.doc_id"))
            & (
                F.substring("a.text", 1, 80) == F.substring("b.text", 1, 80)
            ),
        )
        .select(F.col("a.doc_id").alias("x"), F.col("b.doc_id").alias("y"))
        .collect()
    )
    assert len(pairs) >= 20  # the fixture plants ~24
    embs = doc_embed_hash(docs).withColumnRenamed("doc_id", "vec_id")
    cents = S.train_ivf_centroids(S.drop_zero_norm(embs, 64), 64, 32, 7)
    out = {
        r["vec_id"]: r
        for r in S.semantic_dedup(embs, 64, threshold=0.8, centroids=cents).collect()
    }
    same_cell = [p for p in pairs if out[p["x"]]["cell"] == out[p["y"]]["cell"]]
    assert same_cell, "no planted pair landed in one cell — geometry broke"
    for p in same_cell:
        assert not (out[p["x"]]["is_kept"] and out[p["y"]]["is_kept"]), p
    kept = sum(1 for r in out.values() if r["is_kept"])
    assert kept > len(out) * 0.7


def test_ann_ivf_trained_recall_gate(spark):
    """Recall gate for the k-means-trained IVF codebook at sf0.01.

    The Gaussian fixtures are the worst case for IVF (no cluster structure:
    top-10 neighbours sit at ~66 deg, spanning many cells), so hitting 0.9
    needs multi-assignment + wide probing here; clustered real-world
    embeddings reach the same recall at ~10% scan.  Everything is seeded,
    so the measured 0.963 is deterministic.
    """
    embs = read_table(spark, "/root/testdata/sf0.01", "embeddings")
    q = embs.filter(F.col("vec_id") < 8)
    exact = S.cosine_topk(embs, q, dim=64, k=10).collect()
    cents = S.train_ivf_centroids(embs, dim=64, n_centroids=32)
    approx = S.ann_ivf_topk(
        embs, q, dim=64, k=10, n_probe=14, centroids=cents, corpus_assign=2
    ).collect()
    exact_set = {(r["q_id"], r["neighbor_id"]) for r in exact}
    approx_set = {(r["q_id"], r["neighbor_id"]) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.9, f"trained-IVF recall {recall:.2f} below 0.9 gate"
    # candidates that survive must carry the exact brute-force cosine
    exact_cos = {(r["q_id"], r["neighbor_id"]): r["cosine"] for r in exact}
    for r in approx:
        key = (r["q_id"], r["neighbor_id"])
        if key in exact_cos:
            assert r["cosine"] == exact_cos[key]


def test_ann_ivf_filtered_semantics(spark):
    """Filtered vector search: every returned neighbour shares the query's
    label (the predicate is in the candidate join, not a post-filter), the
    result equals running the same IVF probe over the pre-filtered
    same-label slice, and post-filtering the UNFILTERED top-k would have
    under-filled — the property that makes in-join filtering correct."""
    embs = read_table(spark, "/root/testdata/sf0.01", "embeddings")
    q = embs.filter(F.col("vec_id") < 8)
    cents = S.train_ivf_centroids(embs, dim=64, n_centroids=32)
    got = S.ann_ivf_filtered_topk(
        embs, q, dim=64, filter_col="label", k=10, centroids=cents
    ).collect()
    labels = {r["vec_id"]: r["label"] for r in embs.select("vec_id", "label").collect()}
    assert got, "filtered search returned nothing"
    for r in got:
        assert labels[r["neighbor_id"]] == labels[r["q_id"]], r
        assert r["rank"] >= 1
    # per-query, equals the plain IVF run over that query's own-label slice
    for qid in {r["q_id"] for r in got}:
        slice_df = embs.filter(F.col("label") == labels[qid])
        expect = {
            (r["neighbor_id"], r["rank"])
            for r in S.ann_ivf_topk(
                slice_df,
                slice_df.filter(F.col("vec_id") == qid),
                dim=64,
                k=10,
                centroids=cents,
            ).collect()
        }
        mine = {(r["neighbor_id"], r["rank"]) for r in got if r["q_id"] == qid}
        assert mine == expect, f"q{qid}: {mine ^ expect}"
    # post-filtering the unfiltered top-10 keeps fewer qualifying rows
    unf = S.ann_ivf_topk(embs, q, dim=64, k=10, centroids=cents).collect()
    post = sum(1 for r in unf if labels[r["neighbor_id"]] == labels[r["q_id"]])
    assert post < len(got), "post-filter baseline unexpectedly matched in-join filtering"


def test_mmr_rerank_diversifies(spark):
    """MMR semantics: first pick is the most relevant candidate; a
    near-duplicate of an already-picked result is demoted below a less
    relevant but diverse candidate (the property plain top-k lacks); ranks
    are contiguous and the sel_rank=1 score is exactly lam*rel micros."""
    import numpy as np

    rng = np.random.default_rng(3)
    q = np.array([1.0, 0.9] + [0.0] * 62)
    c1 = np.array([1.0] + [0.0] * 63)  # most relevant (cos ~0.743)
    c2 = np.array([0.95, -0.001] + [0.0] * 62)  # near-copy of c1 (sim ~1)
    c3 = np.array([0.0, 1.0] + [0.0] * 62)  # diverse: orthogonal to c1, cos ~0.669
    rows = [(0, [float(x) for x in q])]
    for i, v in enumerate((c1, c2, c3), start=1):
        rows.append((i, [float(x) for x in v]))
    # distant low-relevance filler so the pool has bulk
    for i in range(4, 12):
        v = rng.normal(size=64) * 0.01
        v[3 + i % 4] = 1.0
        rows.append((i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = sorted(
        S.mmr_rerank(
            df, df.filter(F.col("vec_id") == 0), dim=64, k=4, pool=11, lam=0.7
        ).collect(),
        key=lambda r: r.sel_rank,
    )
    assert [r.sel_rank for r in out] == [1, 2, 3, 4]
    assert out[0].neighbor_id == 1  # pure relevance first
    # diverse c3 (0.7*0.669 - 0) beats near-dup c2 (0.7*0.743 - 0.3*~1)
    assert out[1].neighbor_id == 3, out
    assert out[2].neighbor_id == 2, out  # the near-dup still beats filler
    # plain cosine ranking would have put the near-copy second
    plain = S.cosine_topk(df, df.filter(F.col("vec_id") == 0), dim=64, k=2).collect()
    assert {r.neighbor_id for r in plain} == {1, 2}
    # rank-1 objective is exactly lam * rel (no diversity penalty yet)
    rel1 = [r.cosine for r in plain if r.neighbor_id == 1][0]
    assert out[0].mmr_micros == int(np.round(np.float64(0.7) * np.float64(rel1) * 1e6))


def test_ivf_codebook_trained_and_balanced(spark):
    """The trained codebook must be deterministic and give balanced cells
    (a random codebook on skewed data degenerates into hot cells — the
    failure mode k-means training exists to prevent)."""
    import numpy as np

    embs = read_table(spark, "/root/testdata/sf0.01", "embeddings")
    c1 = S.train_ivf_centroids(embs, dim=64, n_centroids=32)
    c2 = S.train_ivf_centroids(embs, dim=64, n_centroids=32)
    assert np.array_equal(c1, c2)  # same data + seed -> same codebook
    assert c1.shape == (32, 64)
    assert np.allclose(np.linalg.norm(c1, axis=1), 1.0)  # unit sphere
    rows = embs.collect()
    m = np.array([r["embedding"] for r in rows], dtype=np.float64)
    m /= np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
    counts = np.bincount(np.argmax(m @ c1.T, axis=1), minlength=32)
    assert counts.min() >= 1  # no empty cells
    assert counts.max() <= 3 * counts.mean()  # no hot cells


def test_jaccard_ngram_pairs(docs):
    pairs = {
        (r["a_id"], r["b_id"]): r["jaccard"]
        for r in D.jaccard_ngram_pairs(docs, threshold=0.5).collect()
    }
    assert pairs[(1, 2)] == 1.0  # identical texts: same min-gram, jaccard 1
    # docs 1 and 3 share all but the final word; char-4-gram jaccard is high
    # but blocking only finds them if the min-hashed gram is shared — accept
    # either, but doc 4 must never pair with anything
    assert all(a < 4 and b < 4 for a, b in pairs)


def test_quality_score_flags(spark):
    rows = [
        Row(doc_id=1, text="the cat sat on the mat and then the dog sat too"),
        Row(doc_id=2, text="a b"),  # too short -> flag_short + flag_token_len
    ]
    out = {r["doc_id"]: r for r in X.quality_score(spark.createDataFrame(rows)).collect()}
    assert out[1]["quality_pass"] and out[1]["n_flags"] == 0
    assert out[1]["quality_score"] == pytest.approx(1.0)
    assert out[2]["flag_short"] and not out[2]["quality_pass"]
    assert out[2]["quality_score"] == pytest.approx(1.0 - out[2]["n_flags"] / 5.0)


def test_gate_drift_planted(spark):
    """Known-value drift report: 12-token clean docs land in bin 0 and
    pass the gate; 2-token docs land in bin 0 and fail (flag_short), so
    the kept population concentrates — integer ppm arithmetic checked
    exactly, |delta| sums to 2e6 * TVD."""
    clean = "the cat sat on the mat and then the dog sat too"  # 12 tok, passes
    # 32 tokens -> bin 2; distinct-heavy suffix keeps every flag green
    long_clean = clean + " " + " ".join(f"w{i:02d}" for i in range(20))
    rows = (
        [Row(doc_id=i, text=clean) for i in range(3)]
        + [Row(doc_id=10 + i, text="a b") for i in range(2)]  # bin 0, fails
        + [Row(doc_id=20, text=long_clean)]
    )
    out = {r["bin"]: r for r in X.gate_drift(spark.createDataFrame(rows)).collect()}
    # raw: bin0 = 5/6 docs, bin2 = 1/6; kept: bin0 = 3/4, bin2 = 1/4
    assert out[0]["n_raw"] == 5 and out[0]["n_kept"] == 3
    assert out[2]["n_raw"] == 1 and out[2]["n_kept"] == 1
    assert out[0]["raw_ppm"] == 5 * 1_000_000 // 6
    assert out[0]["kept_ppm"] == 3 * 1_000_000 // 4
    assert out[0]["delta_ppm"] == out[0]["kept_ppm"] - out[0]["raw_ppm"]
    assert out[2]["kept_ppm"] == 250_000 and out[2]["raw_ppm"] == 166_666
    # TVD sanity: deltas sum to ~0 (integer floor residue only)
    assert abs(sum(r["delta_ppm"] for r in out.values())) <= len(out)


def test_resize_media_plumbing(spark):
    df = spark.createDataFrame(
        [Row(doc_id=1, text="x" * 300, source="s"), Row(doc_id=2, text="", source="s")]
    )
    media = M.as_media(df, "doc_id", F.encode(F.col("text"), "UTF-8"), "txt", "source")
    out = {r["media_id"]: r for r in M.resize_media(media, 8, 8).collect()}
    # 300 bytes at stride 300//64=4 -> ceil(300/4)=75 kept, capped at 64
    assert out[1]["n_bytes"] == 64 and len(out[1]["content"]) == 64
    assert out[1]["target_w"] == 8 and out[1]["target_h"] == 8
    assert out[2]["n_bytes"] == 0  # empty payload stays empty


def test_text_stats_known_values(spark):
    df = spark.createDataFrame([Row(doc_id=1, text="the cat, the hat! 99")])
    r = X.text_stats(df).collect()[0]
    assert r["n_tokens"] == 5
    assert r["n_distinct_tokens"] == 4
    assert r["n_chars_calc"] == 20
    assert r["stopword_ratio"] == pytest.approx(2 / 5)  # 'the' twice
    assert r["punct_ratio"] == pytest.approx(2 / 20)  # ',' and '!'


def test_token_counts_known_values(spark):
    df = spark.createDataFrame([Row(doc_id=1, text="abc 12 x,y 3d")])
    r = X.token_counts(df).collect()[0]
    assert r["n_alpha_tokens"] == 4  # abc x y d
    assert r["n_num_tokens"] == 2  # 12 3
    assert r["n_sym_tokens"] == 1  # ,
    assert r["n_bpe_ish_tokens"] == 7


def test_lang_id_markers(spark):
    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="the cat and the dog is here"),
            Row(doc_id=2, text="der hund und die katze ist nicht da"),
        ]
    )
    out = {r["doc_id"]: r["lang_pred"] for r in X.lang_id(df).collect()}
    assert out == {1: "en", 2: "de"}


def test_fingerprint_edit_robustness(spark):
    base = "the quick brown fox jumps over the lazy dog again and again"
    df = spark.createDataFrame(
        [Row(doc_id=1, text=base), Row(doc_id=2, text=base + " x")]
    )
    rows = {r["doc_id"]: r for r in X.fingerprint(df).collect()}
    assert rows[1]["fp_md5"] != rows[2]["fp_md5"]  # md5 flips on any edit
    # winnow min-hash survives a suffix edit (min over shared 8-grams)
    assert rows[1]["fp_winnow"] == rows[2]["fp_winnow"]


def test_media_features_deterministic(spark):
    docs = spark.createDataFrame([Row(doc_id=7, text="hello world", source="s")])
    media = M.as_media(docs, "doc_id", F.encode(F.col("text"), "UTF-8"), "txt", "source")
    r = M.extract_media_features(media).collect()[0]
    assert r["media_id"] == 7
    assert r["n_bytes"] == 11
    assert r["fake_width"] == 1 + ord("h")
    assert r["fake_height"] == 1 + ord("d")
    assert r["byte_mean"] == pytest.approx(sum(b"hello world") / 11)
    import hashlib

    assert r["header_hash"] == hashlib.md5(b"hello world").hexdigest()


def test_sample_frames_windows(spark):
    text = "a" * 200  # 200 bytes -> 3 frames of 64 (last truncated at source len)
    docs = spark.createDataFrame([Row(doc_id=1, text=text, source="s")])
    media = M.as_media(docs, "doc_id", F.encode(F.col("text"), "UTF-8"), "txt", "source")
    frames = sorted(M.sample_frames(media).collect(), key=lambda r: r["frame_idx"])
    assert [r["frame_idx"] for r in frames] == [0, 1, 2]
    assert bytes(frames[0]["frame_bytes"]) == b"a" * 64
    assert bytes(frames[2]["frame_bytes"]) == b"a" * 64


def test_dim_switched_dot_norm_parity(spark):
    """dot_expr/norm_expr switch to the higher-order fold above
    CHAIN_MAX_DIM; the fold's left-associated double sum is bit-identical
    to the codegen chain (same rounding sequence, 0.0 seed is exact)."""
    embs = read_table(spark, SF_DIR, "embeddings").select(
        "vec_id", F.col("embedding").alias("v")
    )
    chain = {
        r["vec_id"]: (r["d"], r["n"])
        for r in embs.select(
            "vec_id",
            S.dot_chain("v", "v", 64).alias("d"),
            S._norm_chain("v", 64).alias("n"),
        ).collect()
    }
    fold = embs.select(
        "vec_id",
        S._dot_fold("v", "v").alias("d"),
        S.norm_expr("v", 1024).alias("n"),  # dim arg > CHAIN_MAX_DIM -> fold
    ).collect()
    for r in fold:
        assert chain[r["vec_id"]] == (r["d"], r["n"])
    # the switch itself
    assert S.CHAIN_MAX_DIM < 1024


def test_media_decoder_gating(spark):
    """decoder='fake' is the deterministic default; 'real' requires PIL
    (absent here -> clear NotImplementedError at call time, driver-side);
    'auto' falls back to the fake and matches it exactly."""
    import pyfads.multimodal as M

    docs = read_table(spark, SF_DIR, "documents").limit(20)
    media = M.as_media(docs, "doc_id", F.encode("text", "utf-8"), "text/fake", "lang")
    fake = M.extract_media_features(media, decoder="fake").collect()
    if M._has_pil():
        # environment grew a decoder: 'real' must now work end-to-end
        real = M.extract_media_features(media, decoder="real").collect()
        assert len(real) == len(fake)
    else:
        import pytest as _pt

        with _pt.raises(NotImplementedError):
            M.extract_media_features(media, decoder="real")
        with _pt.raises(NotImplementedError):
            M.resize_media(media, decoder="real")
    auto = M.extract_media_features(media, decoder="auto").collect()
    if not M._has_pil():
        assert sorted(map(tuple, auto)) == sorted(map(tuple, fake))
    with pytest.raises(ValueError):
        M.extract_media_features(media, decoder="nope")


def test_image_dhash_planted_duplicates(spark):
    """dHash near-dup semantics on planted media: an exact byte copy pairs
    at hamming 0; a lightly-perturbed copy (few flipped bytes -> few
    flipped gradient bits) still pairs within the 3-bit budget; unrelated
    deterministic byte strings never pair at <= 3."""
    import pyfads.multimodal as M

    base = ("the quick brown fox jumps over the lazy dog " * 6).encode()
    near = bytearray(base)
    # perturb a byte the stride-3 fake resample actually SAMPLES (12 % 3
    # == 0 -> px[4]='o'(111); neighbors px[3] and px[5] are both ' '(32)):
    # dropping it to 32 flips exactly the px[4]>px[5] gradient bit
    near[12] = 32
    other = bytes((i * 37 + 11) % 251 for i in range(len(base)))
    df = spark.createDataFrame(
        [(1, bytes(base), "s"), (2, bytes(base), "s"),
         (3, bytes(near), "s"), (4, other, "s")],
        "doc_id long, raw binary, src string",
    )
    media = M.as_media(df, "doc_id", F.col("raw"), "image/fake", "src")
    pairs = {
        (r["a_id"], r["b_id"]): r["hamming"]
        for r in M.image_neardup_pairs(media, max_hamming=3).collect()
    }
    assert pairs[(1, 2)] == 0
    assert (1, 3) in pairs and 0 < pairs[(1, 3)] <= 3
    assert not any(4 in p for p in pairs)


def test_image_dhash_band_packing():
    """_dhash_bands_from_pixels bit layout: bit r*8+c (set iff
    px[r][c] > px[r][c+1]) lands in band (r*8+c)//16 at position %16."""
    import pyfads.multimodal as M

    px = [0] * 72
    px[0] = 5  # r0 c0 > r0 c1 -> bit 0 -> band 0, bit 0
    px[9 * 2 + 3] = 7  # r2 c3 > r2 c4 -> bit 19 -> band 1, bit 3
    px[9 * 7 + 7] = 9  # r7 c7 > r7 c8 -> bit 63 -> band 3, bit 15
    assert M._dhash_bands_from_pixels(px) == (1, 8, 0, 32768)
    # empty/flat content -> all-zero signature
    assert M._dhash_bands_from_pixels([0] * 72) == (0, 0, 0, 0)


def test_image_ahash_mean_semantics():
    """aHash bit = pixel strictly above the 8x8 block mean, tested in the
    exact integer form px*64 > sum: a uniform block has NO bit set (strict
    >), one bright pixel sets exactly its own bit."""
    import pyfads.multimodal as M

    assert M._ahash_bands_from_pixels([10] * 72) == (0, 0, 0, 0)
    px = [0] * 72
    px[20] = 100  # bit 20 -> band 1, bit 4
    assert M._ahash_bands_from_pixels(px) == (0, 16, 0, 0)
    # pixels 64..71 are ignored (8x8 block): lighting them changes nothing
    px2 = [10] * 72
    for j in range(64, 72):
        px2[j] = 255
    assert M._ahash_bands_from_pixels(px2) == (0, 0, 0, 0)


def test_image_dhash_real_decoder_with_pil(spark):
    """Real-PIL dHash path — runs only where pillow exists (skipped in
    this container): a flat image has zero gradients everywhere, a
    left-right gradient image sets every bit."""
    pytest.importorskip("PIL")
    import io as _io

    import pyfads.multimodal as M
    from PIL import Image

    flat = _io.BytesIO()
    Image.new("L", (32, 32), color=100).save(flat, format="PNG")
    grad = Image.new("L", (32, 32))
    grad.putdata([max(0, 255 - 8 * (i % 32)) for i in range(32 * 32)])
    gbuf = _io.BytesIO()
    grad.save(gbuf, format="PNG")
    df = spark.createDataFrame(
        [(1, flat.getvalue(), "s"), (2, gbuf.getvalue(), "s")],
        "doc_id long, raw binary, src string",
    )
    media = M.as_media(df, "doc_id", F.col("raw"), "image/png", "src")
    sigs = {r["media_id"]: r for r in M.image_dhash(media, decoder="real").collect()}
    assert (sigs[1]["b0"], sigs[1]["b1"], sigs[1]["b2"], sigs[1]["b3"]) == (0, 0, 0, 0)
    assert all(sigs[2][f"b{i}"] == 65535 for i in range(4))


def _wav_bytes(samples, rate=8000):
    import io
    import wave

    import numpy as np

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(np.asarray(samples, dtype="<i2").tobytes())
    return buf.getvalue()


def test_audio_fingerprint_gain_invariance_and_failures(spark):
    """The fingerprint keeps only energy-delta SIGNS, so a clean gain
    change (x2 amplitude) must produce the IDENTICAL fingerprint (the
    perceptual point); an exact copy pairs at hamming 0; garbage bytes
    surface as n_frames=-1 and are excluded from the pair join instead of
    forming an all-zero 'duplicate' bucket."""
    import numpy as np

    import pyfads.multimodal as M

    rng = np.random.default_rng(3)
    s = rng.integers(-4000, 4000, size=650)  # 65 frames x 10 samples
    rows = [
        (1, _wav_bytes(s), "s"),
        (2, _wav_bytes(s), "s"),          # exact copy
        (3, _wav_bytes(s * 2), "s"),      # gain x2: same delta signs
        (4, b"not a wav at all", "s"),    # decode failure
        (5, _wav_bytes(rng.integers(-4000, 4000, size=650)), "s"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, raw binary, src string")
    media = M.as_media(df, "doc_id", F.col("raw"), "audio/wav", "src")
    sigs = {r["media_id"]: r for r in M.audio_fingerprint(media).collect()}
    assert sigs[4]["n_frames"] == -1
    assert tuple(sigs[1][f"b{i}"] for i in range(4)) == tuple(
        sigs[3][f"b{i}"] for i in range(4)
    )
    pairs = {
        (r["a_id"], r["b_id"]): r["hamming"]
        for r in M.audio_neardup_pairs(media, max_hamming=3).collect()
    }
    assert pairs[(1, 2)] == 0 and pairs[(1, 3)] == 0 and pairs[(2, 3)] == 0
    assert not any(4 in p or 5 in p for p in pairs)


def test_image_neardup_salt_cap_semantics(spark):
    """The hot-bucket salt cap on the perceptual banding join: 70
    identical images share every band value, so each band bucket splits
    at 64 into id-ordered salt groups and pairs survive only WITHIN a
    group — C(64,2)+C(6,2) = 2031, not C(70,2) = 2415.  This is exactly
    what the DuckDB twin replays (code-review r8 #3); uncapped
    (max_bucket=None) recovers all 2415."""
    import pyfads.multimodal as M

    blob = ("pixel soup " * 30).encode()
    df = spark.createDataFrame(
        [(i, blob, "s") for i in range(70)], "doc_id long, raw binary, src string"
    )
    media = M.as_media(df, "doc_id", F.col("raw"), "image/fake", "src")
    capped = M.image_neardup_pairs(media, max_hamming=3, max_bucket=64).count()
    assert capped == (64 * 63) // 2 + (6 * 5) // 2
    full = M.image_neardup_pairs(media, max_hamming=3, max_bucket=None).count()
    assert full == (70 * 69) // 2


def test_audio_delta_band_packing():
    """_delta_bands bit layout: bit i (vals[i] > vals[i+1]) -> band i//16,
    position i%16."""
    import pyfads.multimodal as M

    vals = [0] * 66
    vals[0] = 5    # bit 0 -> band 0, bit 0
    vals[19] = 7   # bit 19 -> band 1, bit 3
    vals[63] = 9   # bit 63 -> band 3, bit 15
    assert M._delta_bands(vals) == (1, 8, 0, 32768)
    assert M._delta_bands([0] * 66) == (0, 0, 0, 0)


def test_media_real_decode_with_pil(spark):
    """Real decode path end-to-end — runs only where pillow exists (skipped
    in this container); generates a tiny in-memory PNG and checks width/
    height/mean come from real pixels."""
    PIL = pytest.importorskip("PIL")
    import io as _io

    import pyfads.multimodal as M
    from PIL import Image

    buf = _io.BytesIO()
    Image.new("L", (5, 3), color=128).save(buf, format="PNG")
    png = buf.getvalue()
    df = spark.createDataFrame([(1, png, "t")], "doc_id long, raw binary, src string")
    media = M.as_media(df, "doc_id", F.col("raw"), "image/png", "src")
    feats = M.extract_media_features(media, decoder="real").collect()
    assert feats[0]["fake_width"] == 5 and feats[0]["fake_height"] == 3
    assert feats[0]["byte_mean"] == 128.0
    resized = M.resize_media(media, 2, 2, decoder="real").collect()
    assert Image.open(_io.BytesIO(bytes(resized[0]["content"]))).size == (2, 2)


# --------------------------------------------------------------------------
# Corpus-assembly ops (pyfads.pipeline + text repetition/PII)
# --------------------------------------------------------------------------

def test_sample_by_hash_subset_and_rates(spark):
    """Raising a stratum's rate only ADDS rows (membership is a pure
    function of (id, seed) vs a moving threshold) — the reproducibility
    property the docstring promises. Strata absent from the map drop."""
    from pyfads import pipeline as P

    df = spark.createDataFrame(
        [Row(doc_id=i, lang="en" if i % 2 else "de") for i in range(400)]
    )
    lo = {r["doc_id"] for r in P.sample_by_hash(df, {"en": 0.2}).collect()}
    hi = {r["doc_id"] for r in P.sample_by_hash(df, {"en": 0.6}).collect()}
    assert lo <= hi
    assert 0 < len(lo) < len(hi) < 200  # only the 200 en docs are eligible
    assert all(i % 2 for i in hi)  # de (default_rate=0) never sampled
    with pytest.raises(ValueError):
        P.sample_by_hash(df, {"en": 1.5})
    with pytest.raises(ValueError):
        P.sample_by_hash(df, {})


def test_pack_greedy_bins_and_partition(spark):
    """Every doc lands in exactly one shard/bin; within a shard the bins
    follow the running token prefix: bin_idx = prefix // context_len and
    prefixes are consistent with the shard's own ordering."""
    from pyfads import pipeline as P

    df = spark.createDataFrame(
        [Row(doc_id=i, text=" ".join(["w"] * (5 + i % 7))) for i in range(100)]
    )
    out = P.pack_greedy(df, context_len=16, n_shards=4).collect()
    assert len(out) == 100 and len({r["doc_id"] for r in out}) == 100
    assert {r["shard"] for r in out} <= set(range(4))
    by_shard = {}
    for r in sorted(out, key=lambda r: (r["shard"], r["prefix_tokens"], r["doc_id"])):
        assert r["bin_idx"] == r["prefix_tokens"] // 16
        assert r["prefix_tokens"] == by_shard.get(r["shard"], 0)
        by_shard[r["shard"]] = r["prefix_tokens"] + r["n_tokens"]


def test_contamination_self_and_disjoint(spark):
    """A doc fully inside the benchmark is 100% contaminated; docs sharing
    no 5-gram with it are 0%; docs under 5 tokens report zero grams."""
    from pyfads import pipeline as P

    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="alpha beta gamma delta epsilon zeta eta"),
            Row(doc_id=2, text="one two three four five six seven eight"),
            Row(doc_id=3, text="too short"),
        ]
    )
    bench = df.filter(F.col("doc_id") == 1)
    out = {r["doc_id"]: r for r in P.contamination_overlap(df, bench, n=5).collect()}
    assert out[1]["contamination_frac"] == 1.0 and out[1]["n_grams"] == 3
    assert out[2]["contamination_frac"] == 0.0 and out[2]["n_contaminated"] == 0
    assert out[3]["n_grams"] == 0 and out[3]["contamination_frac"] == 0.0


def test_repetition_stats_known_values(spark):
    """'a b a b a' has 2-grams [ab, ba, ab, ba]: n=4, distinct=2, top=2,
    dup_ratio=(4-2)/4=0.5, top_frac=0.5. A 1-token doc is all zeros."""
    out = {
        r["doc_id"]: r
        for r in X.repetition_stats(
            spark.createDataFrame(
                [Row(doc_id=1, text="a b a b a"), Row(doc_id=2, text="solo")]
            )
        ).collect()
    }
    r1 = out[1]
    assert (r1["n_2grams"], r1["n_distinct_2grams"], r1["top_2gram_count"]) == (4, 2, 2)
    assert r1["dup_2gram_ratio"] == 0.5 and r1["top_2gram_frac"] == 0.5
    r2 = out[2]
    assert r2["n_2grams"] == 0 and r2["dup_2gram_ratio"] == 0.0


def test_pii_scrub_counts_and_redaction(spark):
    """Counts each PII class on the raw text and hashes the redacted text;
    the md5 must equal the hand-redacted string's md5."""
    import hashlib

    raw = "mail a@b.io and c.d@e.org call 555-123-4567 host 10.0.0.1 end"
    scrubbed = "mail <EMAIL> and <EMAIL> call <PHONE> host <IP> end"
    row = X.pii_scrub(spark.createDataFrame([Row(doc_id=1, text=raw)])).collect()[0]
    assert (row["n_email"], row["n_phone"], row["n_ip"]) == (2, 1, 1)
    assert row["scrubbed_md5"] == hashlib.md5(scrubbed.encode()).hexdigest()


def test_connected_components_groups(spark):
    """Chain, triangle+tail, pair, and isolated node all label with the
    component min; singletons (no edges) keep their own id via the node
    rejoin.  Matches the recursive-CTE oracle's fixpoint semantics."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (12, 13), (7, 8)],
        "a_id long, b_id long",
    )
    nodes = spark.createDataFrame(
        [(i,) for i in (1, 2, 3, 4, 7, 8, 10, 11, 12, 13, 99)], "doc_id long"
    )
    got = sorted(map(tuple, D.connected_components(pairs, nodes).collect()))
    assert got == [
        (1, 1), (2, 1), (3, 1), (4, 1), (7, 7), (8, 7),
        (10, 10), (11, 10), (12, 10), (13, 10), (99, 99),
    ]


def test_connected_components_long_chain(spark):
    """A 40-edge path needs pointer jumping to converge inside max_iter —
    min-label alone would need ~40 rounds."""
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(100, 140)], "a_id long, b_id long"
    )
    out = D.connected_components(chain)
    assert {g for _, g in out.collect()} == {100}
    assert out.count() == 41


def test_top_ngrams_counts_and_ties(spark):
    """'x y' appears 3 times across docs, 'y x' twice; ties order by gram
    ascending and limit keeps the deterministic prefix."""
    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="x y x y"),      # x y:2, y x:1
            Row(doc_id=2, text="x y"),           # x y:1
            Row(doc_id=3, text="y x"),           # y x:1
            Row(doc_id=4, text="solo"),          # no 2-grams
        ]
    )
    got = [(r["gram"], r["cnt"]) for r in X.top_ngrams(df, k=2, n=2).collect()]
    assert got == [("x y", 3), ("y x", 2)]
    # k beyond vocab: returns all grams, still deterministic
    assert len(X.top_ngrams(df, k=10, n=2).collect()) == 2


def test_corpus_stats_per_lang(spark):
    """Exact median interpolates between the two middle values (DuckDB
    quantile_cont semantics); counts and distinct sources per stratum."""
    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="a b c", lang="en", source="s1"),
            Row(doc_id=2, text="a", lang="en", source="s2"),
            Row(doc_id=3, text="a b c d e f", lang="en", source="s1"),
            Row(doc_id=4, text="q r", lang="de", source="s3"),
        ]
    )
    out = {r["lang"]: r for r in X.corpus_stats(df).collect()}
    en = out["en"]
    assert (en["n_docs"], en["total_tokens"], en["n_sources"]) == (3, 10, 2)
    assert en["median_tokens"] == 3.0 and en["min_tokens"] == 1 and en["max_tokens"] == 6
    de = out["de"]
    assert (de["n_docs"], de["median_tokens"], de["n_sources"]) == (1, 2.0, 1)


def test_split_assign_partition_and_stability(spark):
    """Every row gets exactly one split; fractions are approximately
    honored; assignment is stable across calls and corpus growth."""
    from pyfads import pipeline as P

    fr = {"train": 0.9, "val": 0.05, "test": 0.05}
    small = spark.createDataFrame([Row(doc_id=i) for i in range(500)])
    big = spark.createDataFrame([Row(doc_id=i) for i in range(1000)])
    s = {r["doc_id"]: r["split"] for r in P.split_assign(small, fr).collect()}
    b = {r["doc_id"]: r["split"] for r in P.split_assign(big, fr).collect()}
    assert set(s.values()) <= {"train", "val", "test"}
    # growth never moves an existing row
    assert all(b[k] == v for k, v in s.items())
    n_train = sum(1 for v in b.values() if v == "train")
    assert 850 <= n_train <= 950
    with pytest.raises(ValueError):
        P.split_assign(small, {"train": 0.5, "val": 0.1})


def test_global_shuffle_index_is_exact_rank(spark):
    """shuffle_pos is a bijection onto 0..n-1 that equals the rank of
    (shuffle_key, id) in the global order, for bucket counts that do and
    don't divide the corpus evenly."""
    from pyfads import pipeline as P

    df = spark.createDataFrame([Row(doc_id=i) for i in range(777)])
    for buckets in (1, 7, 256):
        out = P.global_shuffle_index(df, buckets=buckets).collect()
        assert sorted(r["shuffle_pos"] for r in out) == list(range(777))
        ordered = sorted(out, key=lambda r: (r["shuffle_key"], r["doc_id"]))
        assert [r["shuffle_pos"] for r in ordered] == list(range(777))


def test_ann_ivfpq_recall_and_refine(spark):
    """IVF-PQ at sf0.001: the ADC ranking inside widely-probed cells finds a
    usable fraction of the true top-10 despite 8x4-bit compression of
    structureless Gaussians (the PQ worst case), and the exact-cosine refine
    stage strictly improves it.  Refined survivors carry the exact
    brute-force cosine (bit-identical chain arithmetic)."""
    embs = read_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = embs.filter(F.col("vec_id") < 8)
    exact = S.cosine_topk(embs, q, dim=64, k=10).collect()
    exact_set = {(r["q_id"], r["neighbor_id"]) for r in exact}
    adc = S.ann_ivfpq_topk(embs, q, dim=64, k=10, n_probe=8).collect()
    adc_set = {(r["q_id"], r["neighbor_id"]) for r in adc}
    r_adc = len(exact_set & adc_set) / len(exact_set)
    assert r_adc >= 0.15, f"pure-ADC recall {r_adc:.2f} below floor"
    refined = S.ann_ivfpq_topk(embs, q, dim=64, k=10, n_probe=8, refine=4).collect()
    ref_set = {(r["q_id"], r["neighbor_id"]) for r in refined}
    r_ref = len(exact_set & ref_set) / len(exact_set)
    assert r_ref > r_adc, f"refine did not improve recall ({r_ref:.2f} <= {r_adc:.2f})"
    assert r_ref >= 0.4, f"refined recall {r_ref:.2f} below floor"
    exact_cos = {(r["q_id"], r["neighbor_id"]): r["cosine"] for r in exact}
    for r in refined:
        key = (r["q_id"], r["neighbor_id"])
        if key in exact_cos:
            assert r["cosine"] == exact_cos[key]


def test_pq_codebooks_shape_and_determinism(spark):
    embs = read_table(spark, "/root/testdata/sf0.001", "embeddings")
    cb1 = S.train_pq_codebooks(embs, dim=64, m_sub=8, ksub=16, seed=11)
    cb2 = S.train_pq_codebooks(embs, dim=64, m_sub=8, ksub=16, seed=11)
    assert cb1.shape == (8, 16, 8)
    import numpy as np

    assert np.array_equal(cb1, cb2)
    with pytest.raises(ValueError):
        S.train_pq_codebooks(embs, dim=64, m_sub=7)


def test_hashed_classifier_score_known_values(spark):
    """The classifier logit equals a hand-computed hashed-feature weight
    sum (unigrams + bigrams), is integer-exact, and the pass flag follows
    the threshold."""
    import hashlib

    from pyfads import text as X

    W = [((i * 37) % 2001) - 1000 for i in range(256)]  # any integer model
    df = spark.createDataFrame([Row(doc_id=1, text="a b a")])
    out = X.hashed_classifier_score(df, W, seed="t").collect()[0]

    def h60(s):
        return int(hashlib.md5(f"t:{s}".encode()).hexdigest()[:15], 16)

    feats = ["a", "b", "a", "a b", "b a"]
    wsum = sum(W[h60(g) % 256] for g in feats)
    assert out["n_feats"] == 5
    assert out["weight_sum"] == wsum
    assert out["clf_score"] == wsum / (1024.0 * 5)
    assert out["clf_pass"] == (out["clf_score"] >= 0.0)
    # unigram-only mode drops the bigram features
    uni = X.hashed_classifier_score(df, W, seed="t", bigrams=False).collect()[0]
    assert uni["n_feats"] == 3
    assert uni["weight_sum"] == sum(W[h60(g) % 256] for g in ["a", "b", "a"])


def test_mix_sample_quota_and_determinism(spark):
    """Rates cap at keep-everything for under-quota strata, unlisted strata
    drop, realized counts track quotas, and the sample is a pure function
    of (id, seed)."""
    from pyfads import pipeline as P

    rows = [Row(doc_id=i, source=f"s{i % 4}") for i in range(1000)]
    df = spark.createDataFrame(rows)  # 250 rows per source
    out = P.mix_sample(df, {"s0": 8, "s1": 1, "s3": 40}, out_rows=100).collect()
    by_src = {}
    for r in out:
        by_src.setdefault(r["source"], []).append(r)
    assert set(by_src) <= {"s0", "s1", "s3"}  # s2 unlisted -> dropped
    # s3 quota = 100*40//49 = 81 < 250 -> rate 324000 ppm; s0 quota 16,
    # s1 quota 2. Binomial tolerance: +/- 4 sigma.
    import math

    for src, quota in [("s0", 16), ("s1", 2), ("s3", 81)]:
        n = len(by_src.get(src, []))
        rate = min(1.0, (quota * 1_000_000 // 250) / 1_000_000)
        sigma = math.sqrt(250 * rate * (1 - rate))
        assert abs(n - 250 * rate) <= 4 * sigma + 1, (src, n, 250 * rate)
    again = P.mix_sample(df, {"s0": 8, "s1": 1, "s3": 40}, out_rows=100).collect()
    assert {r["doc_id"] for r in again} == {r["doc_id"] for r in out}
    # over-quota stratum keeps everything
    all_in = P.mix_sample(df, {"s0": 1}, out_rows=10_000).collect()
    assert len(all_in) == 250 and all(r["rate_ppm"] == 1_000_000 for r in all_in)
    with pytest.raises(ValueError):
        P.mix_sample(df, {}, out_rows=10)
    with pytest.raises(ValueError):
        P.mix_sample(df, {"s0": 1}, out_rows=0)


def test_key_skew_report_values(spark):
    """Counts, shares, and uniform-ratio on a known skewed key set; top-k
    cut is deterministic."""
    from pyfads import pipeline as P

    rows = (
        [Row(k="hot")] * 60 + [Row(k="warm")] * 30 + [Row(k="a")] * 5 + [Row(k="b")] * 5
    )
    out = P.key_skew_report(spark.createDataFrame(rows), "k", top=3).collect()
    assert [(r["key"], r["cnt"]) for r in out] == [("hot", 60), ("warm", 30), ("a", 5)]
    assert out[0]["share"] == 0.6
    assert out[0]["skew_x"] == 60 * 4 / 100  # 2.4x a uniform key


def test_incremental_dedup_verdicts(spark):
    """Planted duplicates land in the right verdict class with the right
    priority: exact beats near_corpus beats near_batch; novel docs keep."""
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    corpus = spark.createDataFrame(
        [Row(doc_id=i, text=f"{base} corpusdoc number {i}") for i in range(10)]
        + [Row(doc_id=50, text="the quick brown fox jumps over the lazy dog today")]
    )
    batch = spark.createDataFrame(
        [
            # exact copy of corpus doc 50
            Row(doc_id=100, text="the quick brown fox jumps over the lazy dog today"),
            # near-dup of corpus doc 3 (one token changed)
            Row(doc_id=101, text=f"{base} corpusdoc number 3x"),
            # novel (long enough that a 1-token edit keeps jaccard >= 0.8)
            Row(
                doc_id=102,
                text="completely different content about spark shuffle plans "
                "and adaptive execution tuning for wide joins here",
            ),
            # near-dup of batch doc 102 (one token changed) -> near_batch
            Row(
                doc_id=103,
                text="completely different content about spark shuffle plans "
                "and adaptive execution tuning for wide joins there",
            ),
            # exact copy of EARLIER batch doc 102 -> exact (earlier-batch rule)
            Row(
                doc_id=104,
                text="completely different content about spark shuffle plans "
                "and adaptive execution tuning for wide joins here",
            ),
        ]
    )
    out = {r["doc_id"]: r for r in D.incremental_dedup(corpus, batch).collect()}
    assert out[100]["reason"] == "exact" and not out[100]["keep"]
    assert out[101]["reason"] == "near_corpus" and not out[101]["keep"]
    assert out[102]["reason"] == "kept" and out[102]["keep"]
    assert out[103]["reason"] == "near_batch" and not out[103]["keep"]
    assert out[104]["reason"] == "exact" and not out[104]["keep"]


def test_connected_components_random_fuzz(spark):
    """Randomized adversarial check vs an independent union-find: a dozen
    random graphs (varying density, self-loops, duplicate and reversed
    edges) — labels must equal min-node-per-component exactly."""
    import random

    def uf_components(n_nodes, edges):
        parent = list(range(n_nodes))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        # min label per component
        comp = {}
        for v in range(n_nodes):
            r = find(v)
            comp.setdefault(r, []).append(v)
        out = {}
        for members in comp.values():
            m = min(members)
            for v in members:
                out[v] = m
        return out

    rng = random.Random(20260814)
    for trial in range(12):
        n = rng.randint(2, 40)
        n_edges = rng.randint(0, 2 * n)
        edges = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(n_edges)
        ]
        expect = uf_components(n, edges)
        nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
        if edges:
            pairs = spark.createDataFrame(
                [(a, b) for a, b in edges], "a_id long, b_id long"
            )
        else:
            pairs = spark.createDataFrame([], "a_id long, b_id long")
        from pyfads import dedup as D

        got = {
            r["doc_id"]: r["group_id"]
            for r in D.connected_components(pairs, nodes).collect()
        }
        assert got == expect, f"trial {trial}: n={n} edges={edges}"


def test_ann_recall_dim1024_all_paths(spark):
    """Pin the accuracy/cost trade-off at a realistic model dim (VERDICT r4
    item 7): recall@10 floors for every dim-1024 ANN path against the exact
    brute-force baseline on the 16x-tiled fixtures (tiling preserves cosine,
    so the geometry is the dim-64 worst case at 1024 width).  All paths are
    seeded — measured values are deterministic per sf (lsh 0.725, pca_lsh
    0.80, ivf 0.487 at 12.5% scan, ivfpq ADC 0.325 / refined 0.475)."""
    dim, tile = 1024, 16
    embs = read_table(spark, SF_DIR, "embeddings").select(
        "vec_id", F.flatten(F.array_repeat(F.col("embedding"), tile)).alias("embedding")
    )
    q = embs.filter(F.col("vec_id") < 8)
    exact_set = {
        (r["q_id"], r["neighbor_id"])
        for r in S.cosine_topk(embs, q, dim=dim, k=10).collect()
    }

    def recall(df):
        got = {(r["q_id"], r["neighbor_id"]) for r in df.collect()}
        return len(exact_set & got) / len(exact_set)

    r_lsh = recall(S.ann_lsh_topk(embs, q, dim, k=10))
    assert r_lsh >= 0.5, f"dim-1024 LSH recall {r_lsh:.2f} below floor"
    r_pca = recall(S.ann_pca_lsh_topk(embs, q, dim, k=10))
    assert r_pca >= 0.5, f"dim-1024 PCA-LSH recall {r_pca:.2f} below floor"
    r_ivf = recall(S.ann_ivf_topk(embs, q, dim, k=10))
    assert r_ivf >= 0.35, f"dim-1024 IVF recall {r_ivf:.2f} below floor"
    r_adc = recall(S.ann_ivfpq_topk(embs, q, dim, k=10))
    assert r_adc >= 0.15, f"dim-1024 IVF-PQ ADC recall {r_adc:.2f} below floor"
    r_ref = recall(S.ann_ivfpq_topk(embs, q, dim, k=10, refine=4))
    assert r_ref > r_adc, f"dim-1024 refine did not improve ({r_ref:.2f} <= {r_adc:.2f})"
    assert r_ref >= 0.3, f"dim-1024 refined recall {r_ref:.2f} below floor"


def test_incremental_dedup_presigged(spark):
    """Passing precomputed corpus hashes/signatures/shingles (the bucketed
    -table maintenance path the docstring promises at 100 TB) yields
    verdicts identical to reading the corpus text — the corpus text column
    is never touched by the presigged plan."""
    docs = read_table(spark, SF_DIR, "documents")
    corpus = docs.filter(F.col("doc_id") % 3 != 0)
    batch = docs.filter(F.col("doc_id") % 3 == 0)
    want = {
        (r.doc_id, r.reason, r.keep)
        for r in D.incremental_dedup(corpus, batch).collect()
    }
    hashes = corpus.select(F.md5(F.col("text")).alias("__h")).distinct()
    sigs = D.minhash_signature(corpus)
    sh = D.shingle_sets(corpus)
    got_df = D.incremental_dedup(
        corpus,
        batch,
        corpus_hashes=hashes,
        corpus_sigs=sigs,
        corpus_shingles=sh,
    )
    got = {(r.doc_id, r.reason, r.keep) for r in got_df.collect()}
    assert got == want and len(want) > 0


def test_incremental_dedup_signature_store_roundtrip(spark, tmp_path):
    """write_signature_store -> parquet -> read_signature_store feeds
    incremental_dedup with corpus=None and yields verdicts identical to
    the direct corpus-text path; a partial store raises instead of
    silently needing the corpus."""
    import pytest

    docs = read_table(spark, SF_DIR, "documents")
    corpus = docs.filter(F.col("doc_id") % 3 != 0).select("doc_id", "text")
    batch = docs.filter(F.col("doc_id") % 3 == 0).select("doc_id", "text")
    want = {
        (r.doc_id, r.reason, r.keep)
        for r in D.incremental_dedup(corpus, batch).collect()
    }
    path = D.write_signature_store(corpus, str(tmp_path / "store"))
    ch, cs, csh = D.read_signature_store(spark, path)
    got = {
        (r.doc_id, r.reason, r.keep)
        for r in D.incremental_dedup(
            None, batch, corpus_hashes=ch, corpus_sigs=cs, corpus_shingles=csh
        ).collect()
    }
    assert got == want and len(want) > 0
    with pytest.raises(ValueError, match="signature store"):
        D.incremental_dedup(None, batch, corpus_hashes=ch)


def test_audio_features_real_wav_decode(spark):
    """REAL audio decode end-to-end (PCM WAV needs only stdlib wave +
    numpy): synthesized sine/silence/stereo clips round-trip through the
    mapInPandas decoder with exact frame counts and analytically-known
    rms/peak; malformed bytes degrade to a zero row, not a task failure."""
    import io
    import math
    import struct
    import wave

    import numpy as np
    from pyspark.sql import Row

    def wav_bytes(rate, nch, samples_by_ch):
        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(nch)
            w.setsampwidth(2)
            w.setframerate(rate)
            inter = np.stack(samples_by_ch, axis=1).reshape(-1).astype("<i2")
            w.writeframes(inter.tobytes())
        return buf.getvalue()

    rate = 8000
    t = np.arange(rate)  # 1 second
    sine = (10000 * np.sin(2 * math.pi * 440 * t / rate)).astype(np.int64)
    silence = np.zeros(rate // 2, dtype=np.int64)  # 0.5 s
    rows = [
        Row(media_id=1, content=wav_bytes(rate, 1, [sine])),
        Row(media_id=2, content=wav_bytes(rate, 1, [silence])),
        Row(media_id=3, content=wav_bytes(rate, 2, [sine, sine])),  # stereo
        Row(media_id=4, content=b"not a wav at all"),
        Row(media_id=5, content=b""),
    ]
    out = {
        r.media_id: r
        for r in M.audio_features(spark.createDataFrame(rows)).collect()
    }
    assert out[1].sample_rate == rate and out[1].n_channels == 1
    assert out[1].n_frames == rate and out[1].duration_s == pytest.approx(1.0)
    # sine rms = amplitude / sqrt(2) (discretization keeps it within 1%)
    assert out[1].rms == pytest.approx(10000 / math.sqrt(2), rel=0.01)
    assert out[1].peak == pytest.approx(10000, rel=0.01)
    assert out[2].rms == 0.0 and out[2].peak == 0.0
    assert out[2].n_frames == rate // 2 and out[2].duration_s == pytest.approx(0.5)
    assert out[3].n_channels == 2 and out[3].n_frames == rate
    # undecodable rows degrade, never fail the task
    assert out[4].sample_rate == 0 and out[5].sample_rate == 0


def test_quantile_select_approx_bound(spark):
    """The percentile_approx scale path: per-stratum selection differs from
    the exact path by at most ~n/accuracy docs per threshold boundary (the
    Greenwald-Khanna rank-error guarantee), and at high accuracy the
    selections coincide on the fixture."""
    from pyfads.pipeline import select_by_stratum_quantile

    base = read_table(spark, SF_DIR, "documents")
    exact = {
        r.doc_id for r in select_by_stratum_quantile(base).collect()
    }
    # even at max accuracy the approx form returns ACTUAL values (GK holds
    # observed points; the exact form interpolates), so thresholds can sit
    # one data point off — selection may differ by a handful of boundary
    # docs, never more
    tight = {
        r.doc_id
        for r in select_by_stratum_quantile(base, approx_accuracy=100000).collect()
    }
    assert len(exact.symmetric_difference(tight)) <= 12
    loose = {
        r.doc_id
        for r in select_by_stratum_quantile(base, approx_accuracy=50).collect()
    }
    n = base.count()
    # 2 thresholds per stratum; rank error <= n_stratum/accuracy each side
    assert len(exact.symmetric_difference(loose)) <= max(4 * n // 50, 8)


def test_pagerank_star_hub_and_symmetry(spark):
    """On a star graph the hub out-ranks every leaf and all leaves tie
    exactly (integer arithmetic — EXACT equality, not approximate)."""
    from pyfads.graph import pagerank

    star = spark.createDataFrame(
        [(0, i) for i in range(1, 6)], "a_id long, b_id long"
    )
    rows = {r.doc_id: r for r in pagerank(star).collect()}
    assert rows[0].degree == 5
    leaf_ranks = {rows[i].pagerank_scaled for i in range(1, 6)}
    assert len(leaf_ranks) == 1  # exact tie
    assert rows[0].pagerank_scaled > leaf_ranks.pop()


def test_pagerank_partition_invariant(spark):
    """Fixed-point ranks are identical under any input partitioning —
    the property float PageRank cannot give."""
    from pyspark.sql import functions as F

    from pyfads.graph import pagerank

    edges = spark.range(200).select(
        (F.col("id") % 40).alias("a_id"), ((F.col("id") * 7 + 1) % 40).alias("b_id")
    ).filter(F.col("a_id") != F.col("b_id"))
    one = {(r.doc_id, r.pagerank_scaled) for r in pagerank(edges.coalesce(1)).collect()}
    many = {(r.doc_id, r.pagerank_scaled) for r in pagerank(edges.repartition(13)).collect()}
    assert one == many


def test_sample_priority_estimator_properties(spark):
    """DLT guarantees on a small population: est_weight >= weight,
    small-population case (n <= k) keeps everything with est == weight,
    and the est_weight total is within sampling error of the true mass."""
    from pyspark.sql import functions as F

    from pyfads.pipeline import sample_priority_k

    docs = spark.range(1, 1001).select(
        F.col("id").alias("doc_id"), (F.col("id") % 97 + 1).alias("n_chars")
    )
    out = sample_priority_k(docs, k=100)
    rows = out.collect()
    assert len(rows) == 100
    assert all(r.est_weight >= r.weight for r in rows)
    true_total = docs.agg(F.sum("n_chars")).first()[0]
    est_total = sum(r.est_weight for r in rows)
    assert abs(est_total - true_total) / true_total < 0.5  # k=100 of 1000
    # n <= k: everything kept, tau = 0, estimator degenerates to exact
    small = sample_priority_k(docs.filter(F.col("doc_id") <= 20), k=100).collect()
    assert len(small) == 20
    assert all(r.est_weight == r.weight for r in small)
    # weight <= 0 / NULL rows are excluded
    weird = docs.withColumn(
        "n_chars", F.when(F.col("doc_id") <= 500, F.lit(None)).otherwise(F.lit(0))
    )
    assert sample_priority_k(weird, k=10).count() == 0


def test_sample_priority_plan_is_take_ordered(spark):
    """The corpus-wide cut must plan as TakeOrderedAndProject (never a
    global sort); the composed operator materializes that cut once and
    the final plan only re-sorts the k+1 checkpointed rows."""
    from pyfads.io import read_table
    from pyfads.pipeline import _priority_cut, sample_priority_k

    docs = read_table(spark, "/root/testdata/sf0.001", "documents")
    cut = _priority_cut(docs, 200, "n_chars", "doc_id", "prio")
    plan = cut._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "Sort [priority" not in plan.replace("TakeOrderedAndProject", "")
    # composed plan reads the checkpointed cut, not the corpus, twice
    full = sample_priority_k(docs)._jdf.queryExecution().executedPlan().toString()
    assert full.count("Scan parquet") == 0  # corpus appears only pre-checkpoint


def test_prefix_jaccard_exactness_vs_bruteforce(spark):
    """Prefix filtering is lossless: the pruned join equals the unpruned
    all-pairs Jaccard join on a corpus with planted near-dups."""
    from pyspark.sql import functions as F

    from pyfads.dedup import prefix_jaccard_pairs, shingles

    base = "the quick brown fox jumps over the lazy dog again and again today"
    docs = []
    for i in range(40):
        words = base.split()
        # rotate + tweak one word so similarity varies across pairs
        words[i % len(words)] = f"w{i % 7}"
        docs.append((i, " ".join(words)))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r.a_id, r.b_id, r.inter, r.uni)
        for r in prefix_jaccard_pairs(df).collect()
    }
    # brute force: all pairs over distinct shingle sets
    ds = df.select("doc_id", F.array_distinct(shingles("text")).alias("gs"))
    a = ds.select(F.col("doc_id").alias("a_id"), F.col("gs").alias("ga"))
    b = ds.select(F.col("doc_id").alias("b_id"), F.col("gs").alias("gb"))
    brute = (
        a.crossJoin(b)
        .filter(F.col("a_id") < F.col("b_id"))
        .withColumn("inter", F.size(F.array_intersect("ga", "gb")).cast("long"))
        .withColumn("uni", (F.size("ga") + F.size("gb")).cast("long") - F.col("inter"))
        .filter(5 * F.col("inter") >= 4 * F.col("uni"))
    )
    want = {(r.a_id, r.b_id, r.inter, r.uni) for r in brute.collect()}
    assert got == want
    assert len(want) > 0  # the fixture actually exercises the threshold


def test_codebook_store_roundtrip_bitexact(spark, tmp_path):
    """The persisted IVF/PQ index artifact loads back to the EXACT numpy
    arrays (parquet doubles round-trip), so a store-served query scores
    bit-identically to a freshly-trained one."""
    import numpy as np

    from pyfads.similarity import read_codebook_store, write_codebook_store

    rng = np.random.default_rng(3)
    cents = rng.normal(size=(32, 64))
    books = rng.normal(size=(8, 16, 8))
    path = str(tmp_path / "cb")
    write_codebook_store(spark, path, cents, books)
    c2, b2 = read_codebook_store(spark, path)
    assert c2.shape == cents.shape and b2.shape == books.shape
    assert (c2 == cents).all() and (b2 == books).all()  # exact, not close


def test_mix_temperature_rebalances(spark):
    """alpha=1/2 mixing: a tail stratum's realized keep-RATE exceeds the
    head stratum's (upsample tails), while realized counts still order
    head >= tail; uniform strata keep equal rates."""
    from pyspark.sql import functions as F

    from pyfads.pipeline import mix_temperature

    docs = spark.range(1100).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < 1000, F.lit("big")).otherwise(F.lit("small")).alias("lang"),
    )
    out = mix_temperature(docs, out_rows=300)
    rates = {
        r.lang: r.rate_ppm for r in out.select("lang", "rate_ppm").distinct().collect()
    }
    # target shares ~ sqrt(1000):sqrt(100) = 10:3.16 -> per-row keep rate
    # small = share/size is ~3.2x big's
    assert rates["small"] > 2 * rates["big"]
    counts = {r.lang: r.cnt for r in out.groupBy("lang").agg(F.count("*").alias("cnt")).collect()}
    assert counts["big"] > counts["small"]


def test_pagerank_empty_graph(spark):
    """A corpus with no near-dup pairs yields an empty typed frame, not a
    ZeroDivisionError (r6 review finding)."""
    from pyfads.graph import pagerank

    empty = spark.createDataFrame([], "a_id long, b_id long")
    out = pagerank(empty)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "doc_id",
        "degree",
        "pagerank_scaled",
    ]


def test_sample_priority_stratified_per_stratum_tau(spark):
    """Each stratum gets its own tau: a small stratum (n <= k) keeps all
    rows with est == weight while a big one is cut to k with est >= tau."""
    from pyspark.sql import functions as F

    from pyfads.pipeline import sample_priority_stratified

    docs = spark.range(1, 501).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") <= 480, F.lit("big")).otherwise(F.lit("tiny")).alias("lang"),
        (F.col("id") % 89 + 1).alias("n_chars"),
    )
    out = sample_priority_stratified(docs, k=40, strat_col="lang")
    rows = out.collect()
    by = {}
    for r in rows:
        by.setdefault(r.lang, []).append(r)
    assert len(by["big"]) == 40
    assert len(by["tiny"]) == 20  # n <= k: everything kept
    assert all(r.est_weight == r.weight for r in by["tiny"])
    assert all(r.est_weight >= r.weight for r in by["big"])


def test_streaming_priority_topk_maintenance(spark, tmp_path):
    """Maintain a global priority top-k over a stream: per-batch top-k
    merges into a store by re-cutting top-k of the union — selection is a
    semilattice (top-k(A ∪ B) == top-k(top-k(A) ∪ top-k(B))), so the final
    store equals the batch sample of the full stream exactly."""
    import os
    import time

    import pandas as pd
    from pyspark.sql import functions as F

    from pyfads.pipeline import _priority_cut

    k = 25
    src = tmp_path / "prio_src"
    src.mkdir()
    chunks = [range(1, 300), range(300, 700), range(700, 1000)]
    t0 = time.time() - 100
    for n, ids in enumerate(chunks):
        p = str(src / f"c{n}.parquet")
        pd.DataFrame(
            {"doc_id": list(ids), "n_chars": [i % 97 + 1 for i in ids]}
        ).to_parquet(p)
        os.utime(p, (t0 + n, t0 + n))
    store = str(tmp_path / "prio_store")
    spark.createDataFrame(
        [], "doc_id long, weight double, priority double"
    ).write.parquet(store)

    def merge_in(bdf, _bid):
        sp = bdf.sparkSession
        union = sp.read.parquet(store).unionByName(
            _priority_cut(bdf, k, "n_chars", "doc_id", "prio")
        )
        cut = union.orderBy(F.col("priority").desc(), "doc_id").limit(k + 1)
        cut.cache().count()
        cut.write.mode("overwrite").parquet(store + "_next")
        sp.read.parquet(store + "_next").write.mode("overwrite").parquet(store)

    q = (
        spark.readStream.schema("doc_id long, n_chars long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .writeStream.foreachBatch(merge_in)
        .option("checkpointLocation", str(tmp_path / "prio_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.doc_id, r.priority)
        for r in spark.read.parquet(store).collect()
    }
    whole = spark.createDataFrame(
        [(i, i % 97 + 1) for ch in chunks for i in ch], "doc_id long, n_chars long"
    )
    want = {
        (r.doc_id, r.priority)
        for r in _priority_cut(whole, k, "n_chars", "doc_id", "prio").collect()
    }
    assert got == want


def test_pagerank_weighted_shifts_mass(spark):
    """On a path a-b-c where the a-b edge carries 9x the weight of b-c,
    the weighted ranks of a and c separate (a > c) while the unweighted
    run ties them exactly (symmetric path ends)."""
    from pyspark.sql import functions as F

    from pyfads.graph import pagerank

    pairs = spark.createDataFrame(
        [(1, 2, 900_000), (2, 3, 100_000)], "a_id long, b_id long, w long"
    )
    unw = {r.doc_id: r.pagerank_scaled for r in pagerank(pairs).collect()}
    assert unw[1] == unw[3]  # exact symmetric tie
    wgt = {
        r.doc_id: r.pagerank_scaled
        for r in pagerank(pairs, weight_col="w").collect()
    }
    assert wgt[1] > wgt[3]  # heavy edge pulls mass toward a
    assert wgt[2] == max(wgt.values())  # the hub still leads


# ---------------------------------------------------------------------------
# Substring-level exact dedup (ExactSubstr class) — r7
# ---------------------------------------------------------------------------


def test_exact_substring_spans_planted_verbatim(spark):
    """Two docs share a planted 60-char verbatim passage at DIFFERENT
    offsets inside otherwise-unique text; the detector must report exactly
    the planted span (60 chars, one merged island) in each, and nothing
    for the unrelated doc."""
    from pyfads.dedup import exact_substring_spans

    planted = "the quick brown fox jumps over the lazy dog again and again!"
    assert len(planted) == 60
    # unique fillers (no 40-gram of a filler repeats anywhere)
    fill_a = " ".join(f"alpha{i:03d}" for i in range(12))
    fill_b = " ".join(f"bravo{i:03d}" for i in range(25))
    fill_c = " ".join(f"zulu{i:03d}" for i in range(40))
    doc_a = fill_a + planted + fill_a.upper()
    doc_b = fill_b + planted  # different offset than in doc_a
    rows = [(1, doc_a), (2, doc_b), (3, fill_c)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_spans, r.dup_chars, r.n_chars)
        for r in exact_substring_spans(df, L=40).collect()
    }
    assert set(got) == {1, 2}, got
    assert got[1] == (1, 60, len(doc_a))
    assert got[2] == (1, 60, len(doc_b))


def test_exact_substring_spans_within_doc_repeat_counts(spark):
    """Lee et al. semantics: 'occurs more than once in the corpus' includes
    a repeat WITHIN one document — both occurrences are duplicated spans."""
    from pyfads.dedup import exact_substring_spans

    rep = "x" * 0 + "one two three four five six seven eight nine ten"  # 49 chars
    fill = " ".join(f"mid{i:03d}" for i in range(20))
    doc = rep + fill + rep
    df = spark.createDataFrame([(7, doc)], "doc_id long, text string")
    [r] = exact_substring_spans(df, L=40).collect()
    assert r.doc_id == 7
    assert r.n_spans == 2
    assert r.dup_chars == 2 * len(rep)


def test_exact_substring_spans_rejects_bad_L(spark):
    import pytest

    from pyfads.dedup import exact_substring_spans

    df = spark.createDataFrame([(1, "abc")], "doc_id long, text string")
    with pytest.raises(ValueError, match="L must be"):
        exact_substring_spans(df, L=1)


def test_cdc_duplicate_chunks_offset_robust(spark):
    """The CDC selling point: a long passage shared at DIFFERENT offsets
    still produces identical interior chunks (cut points are content-local),
    so both docs report duplicated coverage; a doc without shared content
    reports zero."""
    from pyfads.dedup import cdc_duplicate_chunks

    shared = " ".join(f"shared{i:04d}" for i in range(60))  # ~660 chars
    pre_a = " ".join(f"alpha{i:03d}" for i in range(5))
    pre_b = " ".join(f"bravo{i:03d}" for i in range(17))  # different offset
    doc_a, doc_b = pre_a + " " + shared, pre_b + " " + shared
    doc_c = " ".join(f"zulu{i:03d}" for i in range(80))
    df = spark.createDataFrame(
        [(1, doc_a), (2, doc_b), (3, doc_c)], "doc_id long, text string"
    )
    got = {r.doc_id: r for r in cdc_duplicate_chunks(df).collect()}
    assert set(got) == {1, 2, 3}
    assert got[1].n_dup_chunks >= 1 and got[2].n_dup_chunks >= 1, (
        got[1], got[2],
    )
    assert got[1].dup_chars == got[2].dup_chars > 0
    assert got[3].n_dup_chunks == 0 and got[3].dup_chars == 0
    # chunk accounting is complete: every doc's chunks tile its text
    for r in got.values():
        assert r.n_chunks >= 1 and r.n_chars == len(
            {1: doc_a, 2: doc_b, 3: doc_c}[r.doc_id]
        )


def test_cdc_short_doc_is_single_chunk(spark):
    from pyfads.dedup import cdc_duplicate_chunks

    df = spark.createDataFrame(
        [(1, "tiny"), (2, "tiny")], "doc_id long, text string"
    )
    got = {r.doc_id: r for r in cdc_duplicate_chunks(df).collect()}
    # two identical short docs: one chunk each, both duplicated
    assert got[1].n_chunks == 1 and got[1].n_dup_chunks == 1
    assert got[1].dup_chars == 4 and got[1].dup_ppm == 1_000_000


def test_hard_negatives_skips_same_label_near_miss(spark):
    """The anchor's NEAREST vector shares its label, so it must be skipped;
    the top hard negative is the best different-label vector. Filtering
    after ranking would get this wrong (the same-label hit would consume a
    rank slot)."""
    from pyfads.similarity import hard_negatives

    rows = [
        # (vec_id, embedding, label): anchor 0 points along +x
        (0, [1.0, 0.0, 0.0, 0.0], 1),
        (1, [0.99, 0.14, 0.0, 0.0], 1),   # nearest, but same label
        (2, [0.9, 0.43, 0.0, 0.0], 2),    # best true negative
        (3, [0.0, 1.0, 0.0, 0.0], 2),
        (4, [-1.0, 0.0, 0.0, 0.0], 3),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    got = hard_negatives(
        df, df.filter(F.col("vec_id") == 0), dim=4, k=2
    ).collect()
    ranked = [(r.neighbor_id, r.neighbor_label) for r in sorted(got, key=lambda r: r.rank)]
    assert ranked == [(2, 2), (3, 2)]
    assert all(r.q_label == 1 and r.neighbor_label != 1 for r in got)


def test_bpe_training_and_encoding_hand_checked():
    """Textbook BPE on a tiny vocabulary: with 'ab' overwhelmingly frequent
    the first merge is (a,b); encoding then segments via the learned ranks
    (GPT-2 bpe() spec: lowest-rank pair first, all occurrences merged)."""
    from pyfads.text import bpe_piece_count, bpe_train_merges

    wc = {"abab": 10, "abc": 5, "bc": 3}
    merges = bpe_train_merges(wc, n_merges=2)
    # pair counts round 1: (a,b)=25, (b,a)=10, (b,c)=8 -> merge (a,b)
    assert merges[0] == ("a", "b")
    # round 2: words are (ab,ab)x10, (ab,c)x5, (b,c)x3 -> (ab,ab)=10 wins
    assert merges[1] == ("ab", "ab")
    ranks = {p: i for i, p in enumerate(merges)}
    assert bpe_piece_count("abab", ranks) == 1     # ab+ab then abab
    assert bpe_piece_count("abc", ranks) == 2      # ab, c
    assert bpe_piece_count("ababab", ranks) == 2   # abab + ab (left-to-right)
    assert bpe_piece_count("zzz", ranks) == 3      # no learned pairs
    assert bpe_piece_count("", ranks) == 0


def test_bpe_token_counts_distinct_word_economy(spark):
    """bpe_token_counts totals: n_words is the whitespace token count and
    n_bpe_tokens applies the trained merges per word occurrence."""
    from pyfads.text import bpe_token_counts

    rows = [(1, "abab abc abab"), (2, "abc bc bc")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: (r.n_words, r.n_bpe_tokens) for r in
           bpe_token_counts(df, n_merges=2, train_top_words=100).collect()}
    # corpus counts: abab=3, abc=2, bc=2 -> merges: (a,b) [count 8] then
    # (ab,ab) [3] -> pieces: abab=1, abc=2 (ab,c), bc=2 (b,c unlearned)
    assert got[1] == (3, 1 + 2 + 1)
    assert got[2] == (3, 2 + 2 + 2)


def test_contamination_report_planted_eval_overlap(spark):
    """A training doc embedding a 60-char passage from an eval doc is
    flagged with exactly the planted span and the right eval-doc count; a
    clean training doc is absent (the clean corpus is the anti-join)."""
    from pyfads.dedup import contamination_report

    passage = "the quick brown fox jumps over the lazy dog again and again!"
    fill_t = " ".join(f"train{i:03d}" for i in range(12))
    fill_c = " ".join(f"clean{i:03d}" for i in range(20))
    eval_df = spark.createDataFrame(
        [(100, "eval preamble " + passage), (101, "unrelated eval text only")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [(1, fill_t + passage + fill_t.upper()), (2, fill_c)],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in contamination_report(corpus, eval_df, L=40).collect()}
    assert set(got) == {1}
    r = got[1]
    assert r.n_spans == 1
    assert r.contaminated_chars == len(passage)
    assert r.n_eval_docs == 1


def test_lm_bigram_rarity_flags_disfluent_doc(spark):
    """A doc whose transitions all occur once in the corpus scores ~1e6 ppm;
    a doc made of the corpus's common transitions scores 0; a doc with < 2
    tokens comes back with zeros (left join)."""
    from pyfads.text import lm_bigram_rarity

    common = "a b"  # "a b" appears in 4 docs -> corpus count 4 > 2
    rows = [
        (1, common),
        (2, common),
        (3, common),
        # bigrams: "a b" (common) + "b x","x q","q z","z w" (4 rare)
        (4, f"{common} x q z w"),
        (5, "solo"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in lm_bigram_rarity(df).collect()}
    assert got[1].rare_ppm == 0 and got[1].n_bigrams == 1
    assert got[4].n_bigrams == 5 and got[4].n_rare == 4
    assert got[4].rare_ppm == 4 * 1_000_000 // 5
    assert got[5].n_bigrams == 0 and got[5].rare_ppm == 0


def test_exact_substring_scrub_keeps_canonical_occurrence(spark):
    """Keep-one semantics: the corpus-first (doc_id, pos) occurrence of a
    shared passage survives; the later doc loses exactly that span; an
    untouched doc round-trips byte-for-byte."""
    import hashlib

    from pyfads.dedup import exact_substring_scrub

    passage = "the quick brown fox jumps over the lazy dog again and again!"
    fill_a = " ".join(f"alpha{i:03d}" for i in range(12))
    fill_b = " ".join(f"bravo{i:03d}" for i in range(25))
    fill_c = " ".join(f"zulu{i:03d}" for i in range(40))
    doc_a = fill_a + passage + fill_a.upper()
    doc_b = fill_b + passage
    rows = [(1, doc_a), (2, doc_b), (3, fill_c)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in exact_substring_scrub(df, L=40).collect()}
    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()
    # doc 1 owns the canonical occurrence -> untouched
    assert got[1].removed_chars == 0 and got[1].clean_md5 == md5(doc_a)
    # doc 2 loses exactly the passage
    assert got[2].removed_chars == len(passage)
    assert got[2].clean_md5 == md5(fill_b)
    assert got[2].n_chars_clean == len(fill_b)
    # clean doc round-trips
    assert got[3].removed_chars == 0 and got[3].clean_md5 == md5(fill_c)


def test_contamination_gate_stream_drops_contaminated_docs(spark, tmp_path):
    """The stateless streaming gate drops exactly the docs the batch
    detector flags: replay a doc batch as a file stream, keep survivors,
    and cross-check against contamination_report on the same data."""
    import time as _t

    from pyfads.dedup import contamination_gate_stream, contamination_report

    passage = "the quick brown fox jumps over the lazy dog again and again!"
    fill_a = " ".join(f"alpha{i:03d}" for i in range(12))
    fill_b = " ".join(f"bravo{i:03d}" for i in range(25))
    fill_c = " ".join(f"zulu{i:03d}" for i in range(40))
    eval_df = spark.createDataFrame(
        [(100, "eval preamble " + passage)], "doc_id long, text string"
    )
    docs = [(1, fill_a + passage), (2, fill_b), (3, fill_c + " " + passage)]
    batch = spark.createDataFrame(docs, "doc_id long, text string")
    src = str(tmp_path / "gate_src")
    batch.coalesce(1).write.parquet(src)

    flagged = {
        r.doc_id for r in contamination_report(batch, eval_df, L=40).collect()
    }
    assert flagged == {1, 3}

    stream = spark.readStream.schema(batch.schema).parquet(src)
    gated = contamination_gate_stream(stream, eval_df, L=40)
    q = (
        gated.writeStream.format("memory")
        .queryName("gate_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "gate_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.table("gate_out").collect()
    assert {r.doc_id for r in rows} == {2}
    assert all(r.contam_ppm == 0 for r in rows)


def test_exact_substring_spans_hypothesis_vs_bruteforce(spark):
    """Property check: on random tiny corpora over a 3-char alphabet, the
    Spark span detector equals an independent brute-force Python reference
    (all L-gram occurrences with corpus frequency >= 2, adjacency-merged)."""
    from collections import Counter

    from hypothesis import given, settings, strategies as st

    from pyfads.dedup import exact_substring_spans

    L = 4

    def ref(docs: "dict[int, str]") -> "dict[int, tuple[int, int]]":
        cnt: Counter = Counter()
        for t in docs.values():
            for i in range(len(t) - L + 1):
                cnt[t[i : i + L]] += 1
        out = {}
        for d, t in docs.items():
            spans: "list[list[int]]" = []
            for p in range(len(t) - L + 1):
                if cnt[t[p : p + L]] < 2:
                    continue
                s, e = p, p + L - 1
                if spans and s <= spans[-1][1] + 1:
                    spans[-1][1] = e
                else:
                    spans.append([s, e])
            if spans:
                out[d] = (len(spans), sum(e - s + 1 for s, e in spans))
        return out

    texts = st.text(alphabet="ab ", min_size=0, max_size=30)
    corpora = st.lists(texts, min_size=2, max_size=4)

    @settings(max_examples=10, deadline=None)
    @given(corpora)
    def run(doc_texts):
        docs = {i + 1: t for i, t in enumerate(doc_texts)}
        df = spark.createDataFrame(
            list(docs.items()), "doc_id long, text string"
        )
        got = {
            r.doc_id: (r.n_spans, r.dup_chars)
            for r in exact_substring_spans(df, L=L).collect()
        }
        assert got == ref(docs)

    run()


def test_exact_substring_scrub_periodic_text_keeps_canonical_copy(spark):
    """Code-review r7: overlapping within-doc occurrences ('a'*50 at L=40
    has 11, all sharing chars with the canonical first one) must NOT eat
    the kept copy — interval subtraction protects [1, 40], so exactly the
    tail [41, 50] is removed."""
    import hashlib

    from pyfads.dedup import exact_substring_scrub

    df = spark.createDataFrame([(1, "a" * 50)], "doc_id long, text string")
    [r] = exact_substring_scrub(df, L=40).collect()
    assert r.removed_chars == 10
    assert r.n_chars_clean == 40
    assert r.clean_md5 == hashlib.md5(("a" * 40).encode()).hexdigest()


def test_gate_udf_closure_is_broadcast_not_set(spark):
    """ADVICE r7: the gate's pandas UDF must capture the BROADCAST HANDLE,
    not the eval-hash set itself — the closure pickles into every task's
    command, so an embedded multi-MB frozenset would re-ship with each
    micro-batch.  Pin it: the pickled closure of a UDF built over a 100k-
    hash broadcast stays ~constant-size (handle only), orders of magnitude
    under the pickled set."""
    import pickle

    from pyspark.serializers import CloudPickleSerializer

    from pyfads.dedup import _gate_ppm_udf

    big = frozenset(range(100_000))
    bc = spark.sparkContext.broadcast((40, big))  # the (L, set) gate contract
    try:
        udf = _gate_ppm_udf(bc, 40)
        closure_bytes = len(CloudPickleSerializer().dumps(udf.func))
        set_bytes = len(pickle.dumps(big))
        assert closure_bytes < 20_000, f"gate closure pickles at {closure_bytes}B"
        assert closure_bytes < set_bytes / 20
    finally:
        bc.unpersist()


def test_contamination_gate_ceiling_ppm():
    """Code-review r7: one hit in an arbitrarily long doc must score >= 1
    ppm (floor division reports 0 past a million shingles and would leak
    contaminated long docs through a 0-ppm gate)."""
    from pyfads.dedup import _ceil_ppm

    assert _ceil_ppm(0, 10) == 0
    assert _ceil_ppm(1, 1_000_002) == 1     # floor would be 0
    assert _ceil_ppm(1, 1_000_000) == 1
    assert _ceil_ppm(3, 2_000_000) == 2     # ceil(1.5)
    assert _ceil_ppm(5, 5) == 1_000_000


def test_cdc_duplicate_pairs_planted_shared_passage(spark):
    """Two docs sharing a long passage at different offsets form a pair
    with shared_chars > 0; the unrelated doc appears in no pair."""
    from pyfads.dedup import cdc_duplicate_pairs

    shared = " ".join(f"shared{i:04d}" for i in range(60))
    pre_a = " ".join(f"alpha{i:03d}" for i in range(5))
    pre_b = " ".join(f"bravo{i:03d}" for i in range(17))
    df = spark.createDataFrame(
        [
            (1, pre_a + " " + shared),
            (2, pre_b + " " + shared),
            (3, " ".join(f"zulu{i:03d}" for i in range(80))),
        ],
        "doc_id long, text string",
    )
    pairs = cdc_duplicate_pairs(df).collect()
    assert {(r.a_id, r.b_id) for r in pairs} == {(1, 2)}
    [p] = pairs
    assert p.n_shared_chunks >= 1 and p.shared_chars > 0


def test_contamination_gate_ppm_matches_batch_basis(spark, tmp_path):
    """Code-review r7 #2: the gate's contam_ppm uses the batch report's
    basis (merged span chars / doc chars), so a threshold tuned on batch
    reports ports to the gate within the documented 1-ppm ceil/floor gap."""
    from pyfads.dedup import contamination_gate_stream, contamination_report

    passage = "the quick brown fox jumps over the lazy dog again and again!"
    fill = " ".join(f"train{i:03d}" for i in range(12))
    doc = fill + passage + fill.upper()
    eval_df = spark.createDataFrame(
        [(100, "eval preamble " + passage)], "doc_id long, text string"
    )
    batch = spark.createDataFrame([(1, doc)], "doc_id long, text string")
    [b] = contamination_report(batch, eval_df, L=40).collect()

    src = str(tmp_path / "ppm_src")
    batch.coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(batch.schema).parquet(src)
    gated = contamination_gate_stream(
        stream, eval_df, L=40, max_contam_ppm=10_000_000
    )
    q = (
        gated.writeStream.format("memory")
        .queryName("ppm_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ppm_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    [g] = spark.table("ppm_out").collect()
    # same basis: gate ceils, batch floors -> within 1 ppm
    assert 0 <= g.contam_ppm - b.contam_ppm <= 1, (g.contam_ppm, b.contam_ppm)


def test_eval_leak_ppm_full_leak_is_one_million_even_when_periodic(spark):
    """Code-review r7 #1: a benchmark doc embedded VERBATIM in a training
    doc must report leaked_ppm == 1,000,000 even when the eval doc is
    internally repetitive (distinct-hash numerator AND denominator)."""
    from pyfads.dedup import _shingle_occurrences
    from pyspark.sql import functions as F

    # replicate the query's core with explicit eval/corpus frames
    eval_doc = "eval doc that is quite long: " + "uvwxyz" * 15  # periodic tail
    train_doc = "lots of training prose before " + eval_doc + " and after"
    ev = spark.createDataFrame([(7, eval_doc)], "doc_id long, text string")
    co = spark.createDataFrame([(26, train_doc)], "doc_id long, text string")
    evsh = (
        _shingle_occurrences(ev, 40, "text", "doc_id")
        .select("h", F.col("doc_id").alias("eval_id"))
        .distinct()
    )
    n_ev = evsh.groupBy("eval_id").count()
    cosh = _shingle_occurrences(co, 40, "text", "doc_id").select("doc_id", "h").distinct()
    leaked = cosh.join(evsh, "h").select("h").distinct().count()
    total = n_ev.collect()[0]["count"]
    assert leaked == total  # every distinct eval shingle appears in training
    assert leaked * 1_000_000 // total == 1_000_000


def test_cdc_chunks_tile_documents_hypothesis(spark):
    """Property: CDC chunks always TILE each document — chunk lengths sum
    to n_chars, every chunk is positive-length — across random texts
    (boundary placement is content-dependent, tiling must not be)."""
    from hypothesis import given, settings, strategies as st

    from pyfads.dedup import _cdc_chunks

    texts = st.text(alphabet="abc xyz", min_size=1, max_size=120)

    @settings(max_examples=8, deadline=None)
    @given(st.lists(texts, min_size=1, max_size=4))
    def run(doc_texts):
        df = spark.createDataFrame(
            [(i + 1, t) for i, t in enumerate(doc_texts)],
            "doc_id long, text string",
        )
        rows = _cdc_chunks(df, 16, 64, "text", "doc_id").collect()
        by_doc: dict = {}
        for r in rows:
            by_doc.setdefault(r.doc_id, []).append(r)
        for i, t in enumerate(doc_texts):
            chunks = by_doc[i + 1]
            assert sum(c.clen for c in chunks) == len(t)
            assert all(c.clen >= 1 for c in chunks)

    run()


# --------------------------------------------------------------------------
# Codebook sample scaling + UDF assignment parity (round-9: verdict #1/#3)
# --------------------------------------------------------------------------


def _synth_embs(spark, n: int, dim: int = 8, salt: int = 0):
    """Deterministic in-plan synthetic embeddings: hash-derived coordinates
    in [-2, 2), no driver-side generation (the 200k-scale tests need this)."""
    return spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(dim)),
            lambda i: (
                F.pmod(F.hash(F.col("id") * dim + i + F.lit(salt)), F.lit(1000))
                / 250.0
                - 2.0
            ).cast("double"),
        ).alias("embedding"),
    )


def test_adaptive_codebook_sample_scales(spark):
    """A >4096-cell request must actually PRODUCE that many cells: the
    training sample now scales with the request (default_codebook_sample)
    instead of silently clamping at the historical 4096 rows."""
    import numpy as np

    assert S.default_codebook_sample(32) == 4096
    assert S.default_codebook_sample(4100) == 65600
    assert S.default_codebook_sample(10**9) == S.MAX_CODEBOOK_SAMPLE

    embs = _synth_embs(spark, 8192)
    cents = S.train_ivf_centroids(embs, dim=8, n_centroids=4100, iters=2)
    assert len(cents) == 4100
    assert np.allclose(np.linalg.norm(cents, axis=1), 1.0)


def test_codebook_clamp_warns_loudly(spark):
    """When the data (or an explicit sample_rows) can't support the request,
    the clamp is a UserWarning, never a silent min()."""
    embs = _synth_embs(spark, 512)
    with pytest.warns(UserWarning, match="clamping the codebook"):
        cents = S.train_ivf_centroids(embs, dim=8, n_centroids=1024, iters=2)
    assert len(cents) == 512
    with pytest.warns(UserWarning, match="clamping the codebook"):
        cents = S.train_ivf_centroids(
            embs, dim=8, n_centroids=256, sample_rows=100, iters=2
        )
    assert len(cents) == 100


def test_fold_dots_bitwise_matches_column_fold(spark):
    """fold_dots (the numpy replay inside the assignment UDF) reproduces the
    Column left-fold doubles EXACTLY — the bit-for-bit claim the >64-cell
    path's oracle parity rests on."""
    import numpy as np

    embs = _synth_embs(spark, 64, dim=13)
    cents = S.train_ivf_centroids(embs, dim=13, n_centroids=5, iters=3)
    rows = embs.collect()
    got = S.fold_dots(
        np.array([r["embedding"] for r in rows], dtype=np.float64), cents
    )
    one = embs.select(
        "vec_id",
        F.col("embedding").alias("__v"),
        *[F.lit([float(x) for x in cents[j]]).alias(f"__c{j}") for j in range(5)],
    ).select(
        "vec_id", *[S._dot_fold("__v", f"__c{j}").alias(f"d{j}") for j in range(5)]
    )
    spark_dots = {r["vec_id"]: [r[f"d{j}"] for j in range(5)] for r in one.collect()}
    for i, r in enumerate(rows):
        assert spark_dots[r["vec_id"]] == list(got[i])  # exact ==, no approx


def _literal_form(monkeypatch, literal: bool) -> None:
    """Force :func:`S._rank_cells` onto the per-cell-literal form (threshold
    above any codebook) or the flat-literal form (threshold 0)."""
    monkeypatch.setattr(S, "INPLAN_MAX_CENTROIDS", 10**9 if literal else 0)


def _assigned(df, cents):
    return {
        r["vec_id"]: r["cell"]
        for r in S._rank_cells(df, cents, "vec_id", "embedding").collect()
    }


def _probe_set(df, cents, n, margin=None):
    return {
        (r["vec_id"], c)
        for r in S._rank_cells(df, cents, "vec_id", "embedding", n, margin).collect()
        for c in r["__cells"]
    }


def _udf_probe_set(df, cents, n, margin=None):
    return {
        (r["vec_id"], r["cell"])
        for r in df.select(
            "vec_id",
            F.explode(S._cell_assign_udf(cents, n, margin)(F.col("embedding"))).alias(
                "cell"
            ),
        ).collect()
    }


def test_udf_assignment_parity_above_inplan_limit(spark, monkeypatch):
    """The Arrow-UDF quantizer (the IVF path) must agree VERDICT-FOR-VERDICT
    with the in-plan ranking in BOTH literal forms on a >64-cell codebook,
    and with a brute-force numpy fold replay — round-8 verdict #3."""
    import numpy as np

    n_cells = 80
    assert n_cells > S.INPLAN_MAX_CENTROIDS
    embs = _synth_embs(spark, 600, dim=8)
    cents = S.train_ivf_centroids(embs, dim=8, n_centroids=n_cells, iters=5)
    assert len(cents) == n_cells

    udf = {
        r["vec_id"]: r["cell"]
        for r in embs.select(
            "vec_id",
            F.element_at(
                S._cell_assign_udf(cents, 1)(F.col("embedding")), 1
            ).alias("cell"),
        ).collect()
    }
    rows = embs.collect()
    m = np.array([r["embedding"] for r in rows], dtype=np.float64)
    brute = S.top_cells(S.fold_dots(m, cents), 1)[:, 0]
    assert {r["vec_id"]: int(c) for r, c in zip(rows, brute)} == udf
    probe_udf = _udf_probe_set(embs, cents, 2)
    for literal in (True, False):
        _literal_form(monkeypatch, literal)
        assert _assigned(embs, cents) == udf
        # multi-probe (n_top=2) parity: UDF top-2 == in-plan probe top-2
        assert _probe_set(embs, cents, 2) == probe_udf


def test_flat_assignment_parity_above_inplan_limit(spark, monkeypatch):
    """The >64-cell FLAT-literal form (r13: replaces the Arrow-UDF path,
    whose ArrowEvalPython stage was measured bimodal at local[32] — the r12
    dedup_semantic_docs 48 s regression) must agree with the
    per-cell-literal form on the same codebook — cells, best-cell dp bits,
    top-2 and adaptive-margin probe sets — and with the UDF margin test."""
    n_cells = 80
    assert n_cells > S.INPLAN_MAX_CENTROIDS
    embs = _synth_embs(spark, 600, dim=8)
    cents = S.train_ivf_centroids(embs, dim=8, n_centroids=n_cells, iters=5)
    assert len(cents) == n_cells

    def ranked(n, margin=None):
        df = S._rank_cells(embs, cents, "vec_id", "embedding", n, margin)
        return sorted(
            (r["vec_id"], r["cell"], r["__dp"], tuple(r["__cells"] or ()))
            for r in df.select(
                "vec_id",
                "cell",
                "__dp",
                (F.col("__cells") if n > 1 else F.lit(None)).alias("__cells"),
            ).collect()
        )

    cases = [(1, None), (2, None), (2, 0.05)]
    flat = [ranked(n, margin) for n, margin in cases]  # 80 cells: flat form
    _literal_form(monkeypatch, True)
    assert [ranked(n, margin) for n, margin in cases] == flat
    # adaptive-margin probe parity: in-plan margin test == UDF margin test
    assert _probe_set(embs, cents, 2, 0.05) == _udf_probe_set(embs, cents, 2, 0.05)


def test_flat_structs_sql_rejects_empty_codebook():
    with pytest.raises(ValueError, match="empty codebook"):
        S._flat_structs_sql(0, 8)


def test_flat_assignment_tie_breaks_to_lowest_cell(spark, monkeypatch):
    """Exact ties (duplicated centroids) must break to the LOWEST cell in
    both literal forms of the in-plan ranking: array_max over (dp, -cell)
    structs picks the max dp with the max negcell = lowest cell, matching
    the oracle's ORDER BY dp DESC, cell."""
    import numpy as np

    c = np.array(
        [[0.6, 0.8, 0.0], [0.0, 1.0, 0.0], [0.6, 0.8, 0.0], [0.0, 1.0, 0.0]]
    )
    df = spark.createDataFrame(
        [(1, [0.6, 0.8, 0.0]), (2, [0.0, 2.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    for literal in (True, False):
        _literal_form(monkeypatch, literal)
        assert _assigned(df, c) == {1: 0, 2: 1}
        # probe: the top-3 cell SET must match the UDF's stable-argsort
        # top-3 (dp DESC, cell ASC -> vec 1: dps [1.0, 0.8, 1.0, 0.8] ->
        # {0, 2, 1}), the best cell first
        probe = {
            r["vec_id"]: r["__cells"]
            for r in S._rank_cells(df, c, "vec_id", "embedding", 3).collect()
        }
        assert {k: set(v) for k, v in probe.items()} == {1: {0, 1, 2}, 2: {0, 1, 3}}
        assert probe[1][0] == 0 and probe[2][0] == 1


def test_udf_assignment_tie_breaks_to_lowest_cell(spark):
    """Exact ties (duplicated centroids) must break to the LOWEST cell on
    the UDF path, matching the oracle's ORDER BY dp DESC, cell — round-8
    advice #1 (np.argsort without a stable kind broke this)."""
    import numpy as np

    c = np.array(
        [[0.6, 0.8, 0.0], [0.0, 1.0, 0.0], [0.6, 0.8, 0.0], [0.0, 1.0, 0.0]]
    )
    df = spark.createDataFrame(
        [(1, [0.6, 0.8, 0.0]), (2, [0.0, 2.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    out = {
        r["vec_id"]: list(r["cells"])
        for r in df.select(
            "vec_id", S._cell_assign_udf(c, 3)(F.col("embedding")).alias("cells")
        ).collect()
    }
    assert out[1][0] == 0 and out[2][0] == 1  # first max = lowest cell
    assert out[1] == [0, 2, 1] and out[2] == [1, 3, 0]  # stable among ties


def test_two_level_semantic_dedup_200k_bounded_cells(spark):
    """The two-level codebook's scale claim, measured: at 200k synthetic
    rows with 64x64 = 4096 effective cells, (a) the requested fine
    codebook is actually PRODUCED (no silent clamp — every training
    collect is bounded per level), (b) cell widths stay bounded (the
    within-cell pair stage is O(sum c_i^2), so a hot cell is the scale
    killer), and (c) planted scaled copies land in their source's cell and
    exactly one member of each pair drops (the x1.5 in doubles perturbs
    centroid_cos by ulps, so WHICH member wins the priority is rounding-
    determined — only the one-survivor invariant is semantic)."""
    import numpy as np

    n, dim = 200_000, 16
    embs = _synth_embs(spark, n, dim=dim)
    base = S.drop_zero_norm(embs, dim)
    cb = S.train_two_level_centroids(base, dim, n_coarse=64, n_fine=64, seed=7)
    coarse, fine, fine_coarse = cb
    assert len(coarse) == 64
    assert len(fine) == 64 * 64  # every coarse cell supported 64 fine cells
    assert len(fine_coarse) == len(fine)

    planted = embs.filter(F.col("vec_id") < 100).select(
        (F.col("vec_id") + 10_000_000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(1.5)).alias("embedding"),
    )
    out = S.semantic_dedup(
        embs.unionByName(planted), dim, threshold=0.9999, centroids=cb
    )
    widths = out.groupBy("cell").count().collect()
    counts = np.array([r["count"] for r in widths])
    assert len(counts) >= 3000  # cells actually used
    mean = counts.mean()
    assert counts.max() <= 40 * mean, (counts.max(), mean)

    pl = {
        r["vec_id"]: r
        for r in out.filter(
            (F.col("vec_id") < 100) | (F.col("vec_id") >= 10_000_000)
        ).collect()
    }
    dropped_total = out.filter(~F.col("is_kept")).count()
    for i in range(100):
        a, b = pl[i], pl[i + 10_000_000]
        assert a["cell"] == b["cell"]  # scale-invariant hierarchical argmax
        assert a["is_kept"] != b["is_kept"]  # exactly one survivor per pair
    assert dropped_total == 100  # no random tau-pairs at 0.9999


def test_two_level_rejects_multiprobe(spark):
    embs = _synth_embs(spark, 300, dim=8)
    cb = S.train_two_level_centroids(embs, 8, n_coarse=4, n_fine=4, seed=7)
    with pytest.raises(ValueError, match="two-level"):
        S.semantic_dedup(embs, 8, centroids=cb, n_assign=2)


def test_semantic_gate_stream_matches_batch_gate(spark, tmp_path_factory):
    """The streaming semantic gate (stream-static LEFT ANTI join against
    the persisted semantic store) must emit EXACTLY the batch gate's
    is_new survivors, cell-for-cell, across micro-batches — the semantic
    twin of the contamination-gate stream parity suite."""
    from pyfads.io import read_table

    base = str(tmp_path_factory.mktemp("semgate"))
    store, chunks = base + "/store", base + "/chunks"

    embs = read_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    cents = S.train_ivf_centroids(S.drop_zero_norm(embs, 64), 64, 32, 7)
    S.write_semantic_store(spark, store, cents, embs, 64)
    cents2, corpus = S.read_semantic_store(spark, store)
    import numpy as np

    assert np.array_equal(cents2, cents)  # store round-trip exact

    dups = embs.filter(F.col("vec_id") < 32).select(
        (F.col("vec_id") + 10_000_000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(1.5)).alias("embedding"),
    )
    new = embs.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 116)).select(
        (F.col("vec_id") + 20_000_000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(-1.5)).alias("embedding"),
    )
    batch = dups.unionByName(new)
    # two micro-batches: chunk files + maxFilesPerTrigger=1
    batch.filter(F.col("vec_id") < 15_000_000).coalesce(1).write.parquet(
        chunks + "/c0.parquet"
    )
    batch.filter(F.col("vec_id") >= 15_000_000).coalesce(1).write.parquet(
        chunks + "/c1.parquet"
    )

    expected = {
        r["vec_id"]: r["cell"]
        for r in S.semantic_dedup_incremental_served(
            batch, cents, corpus, 64, threshold=0.9
        )
        .filter(F.col("is_new"))
        .collect()
    }
    assert set(expected) == {i + 20_000_000 for i in range(100, 116)}

    src = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(chunks)
    )
    gated = S.semantic_gate_stream(src, cents, corpus, 64, threshold=0.9)
    assert gated.isStreaming
    q = (
        gated.writeStream.format("memory")
        .queryName("semgate_out")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()  # stateless gate: terminates
    finally:
        q.stop()
    streamed = {
        r["vec_id"]: r["cell"] for r in spark.table("semgate_out").collect()
    }
    assert streamed == expected


def test_doc_embed_hash_keeps_null_text_rows(spark):
    """A NULL-text doc keeps its row as the zero vector instead of
    silently vanishing from the embedding output (ADVICE r8)."""
    df = spark.createDataFrame(
        [(1, "hello world"), (2, None), (3, "other text")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: list(r["embedding"]) for r in X.doc_embed_hash(df).collect()}
    assert set(out) == {1, 2, 3}
    assert out[2] == [0.0] * 64
    assert any(v != 0.0 for v in out[1])


def test_kcenter_select_validates_k(spark):
    """k > nonzero-norm candidates raises a descriptive error instead of a
    bare IndexError (ADVICE r8); zero vectors don't count as candidates."""
    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="nonzero-norm"):
        S.kcenter_select(df, k=3, dim=2)
    sel = S.kcenter_select(df, k=2, dim=2)
    assert [s[1] for s in sel] == [1, 2]


def test_segment_dedup_scrub_semantics(spark):
    """Keep-first segment dedup on a hand-built corpus: the shared
    boilerplate segment survives only in the earliest (doc_id, blk)
    position; unique segments are untouched; docs reassemble in order."""
    w = " ".join  # 4-word segments below
    boiler = "all rights reserved here"
    df = spark.createDataFrame(
        [
            (1, w([boiler, "alpha beta gamma delta"])),
            (2, w(["epsilon zeta eta theta", boiler])),
            (3, w([boiler, boiler])),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in D.segment_dedup_scrub(df, words_per_segment=4).collect()
    }
    assert out[1]["n_dropped"] == 0
    assert out[1]["scrubbed_text"] == w([boiler, "alpha beta gamma delta"])
    assert out[2]["n_dropped"] == 1
    assert out[2]["scrubbed_text"] == "epsilon zeta eta theta"
    assert out[3]["n_dropped"] == 2  # both copies lose to doc 1's blk 0
    assert out[3]["scrubbed_text"] == ""
    assert all(r["n_segments"] == 2 for r in out.values())


def test_segment_dedup_scrub_null_text_excluded(spark):
    """ADVICE r9: a null-text doc contributes NO output row regardless of
    session config (the explicit isNotNull guard, not size(null)=null)."""
    df = spark.createDataFrame(
        [(1, "a b c d"), (2, None)], "doc_id long, text string"
    )
    out = D.segment_dedup_scrub(df, words_per_segment=4).collect()
    assert {r["doc_id"] for r in out} == {1}


def test_contamination_gate_stream_requires_one_eval_source(spark):
    """ADVICE r9: passing BOTH eval_df and eval_broadcast (or neither) is
    refused loudly — a broadcast built from a different eval set than the
    simultaneously-passed frame was previously undetectable."""
    ev = spark.createDataFrame([(1, "x " * 50)], "doc_id long, text string")
    stream = spark.readStream.format("rate").load()
    bc = D.broadcast_eval_hashes(spark, ev, L=40)
    try:
        with pytest.raises(ValueError, match="exactly one"):
            D.contamination_gate_stream(stream, ev, L=40, eval_broadcast=bc)
        with pytest.raises(ValueError, match="exactly one"):
            D.contamination_gate_stream(stream, L=40)
    finally:
        bc.unpersist()


def test_segment_dedup_partial_tail_segment(spark):
    """A trailing segment shorter than the width is its own unit — docs
    tile into ceil(n_words / W) segments."""
    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d f")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in D.segment_dedup_scrub(df, words_per_segment=4).collect()
    }
    assert out[1]["n_segments"] == 2 and out[2]["n_segments"] == 2
    assert out[2]["n_dropped"] == 1  # shared 'a b c d' head
    assert out[2]["scrubbed_text"] == "f"


def test_matryoshka_recall_vs_full_dim(spark):
    """Truncated-prefix retrieval must stay deterministic and overlap the
    full-dim baseline meaningfully even on structureless Gaussian fixtures
    (an MRL-trained model would concentrate signal in the prefix; here the
    prefix is just a 4x-cheaper unbiased subsample of the dims)."""
    from pyfads.io import read_table

    embs = read_table(spark, "/root/testdata/sf0.01", "embeddings")
    q = embs.filter(F.col("vec_id") < 8)
    full = {
        (r["q_id"], r["neighbor_id"])
        for r in S.cosine_topk(embs, q, dim=64, k=10).collect()
    }
    trunc16 = embs.select("vec_id", F.slice("embedding", 1, 16).alias("embedding"))
    got = {
        (r["q_id"], r["neighbor_id"])
        for r in S.cosine_topk(
            trunc16, trunc16.filter(F.col("vec_id") < 8), dim=16, k=10
        ).collect()
    }
    assert len(got) == len(full) == 80
    # Gaussian floor: E[overlap] for random top-10 of ~500 is ~0.2/query;
    # the prefix shares 16/64 of the signal so it must beat random
    assert len(got & full) >= 8


def test_semantic_tau_pairs_and_groups(spark):
    """tau-edges carry exact cosines and the component view collapses
    planted copies onto their source's min id."""
    from pyfads.io import read_table

    embs = read_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    cents = S.train_ivf_centroids(S.drop_zero_norm(embs, 64), 64, 32, 7)
    planted = embs.filter(F.col("vec_id") < 8).select(
        (F.col("vec_id") + 10_000_000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(1.5)).alias("embedding"),
    )
    u = embs.unionByName(planted)
    pairs = S.semantic_tau_pairs(u, 64, threshold=0.9, centroids=cents).collect()
    got = {(r["a_id"], r["b_id"]) for r in pairs}
    assert {(i, i + 10_000_000) for i in range(8)} <= got
    assert all(r["cosine"] >= 0.9 for r in pairs)

    groups = {
        r["vec_id"]: r["group_id"]
        for r in D.connected_components(
            S.semantic_tau_pairs(u, 64, threshold=0.9, centroids=cents),
            nodes=S.drop_zero_norm(u, 64).select("vec_id"),
            id_col="vec_id",
            a_col="a_id",
            b_col="b_id",
        ).collect()
    }
    for i in range(8):
        assert groups[i + 10_000_000] == groups[i] == i  # copy joins source


def test_adaptive_two_level_law():
    """The two-level sizing follows the same expected-cell law, balanced
    sqrt-wise and clamped at the per-level trainability bound."""
    nc, nf = S.adaptive_two_level(440_000_000, target_cell=9000)
    assert (nc, nf) == (221, 222)  # the ~50k-cluster LAION posture
    nc, nf = S.adaptive_two_level(2048)
    assert nc == 32 and nf >= 1  # floor at small scale
    with pytest.warns(UserWarning, match="per-level cap"):
        nc, nf = S.adaptive_two_level(10**12)
    assert nc == 4096 and nf == 4096  # per-level cap, loudly


def test_two_level_store_roundtrip_and_gates(spark, tmp_path_factory):
    """Every gate (incremental, served, streaming-static corpus side)
    accepts a TWO-LEVEL codebook: the store round-trips the (coarse,
    fine, fine_coarse) tuple exactly, and gate verdicts keep the planted
    geometry (scaled copies duplicate, negated copies new)."""
    import numpy as np

    from pyfads.io import read_table

    store = str(tmp_path_factory.mktemp("twolevel_store")) + "/s"
    embs = read_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    base = S.drop_zero_norm(embs, 64)
    cb = S.train_two_level_centroids(base, 64, n_coarse=4, n_fine=8, seed=7)
    S.write_semantic_store(spark, store, cb, embs, 64)
    cb2, corpus = S.read_semantic_store(spark, store)
    assert isinstance(cb2, tuple)
    assert np.array_equal(cb2[0], cb[0])
    assert np.array_equal(cb2[1], cb[1])
    assert np.array_equal(cb2[2], cb[2])

    dups = embs.filter(F.col("vec_id") < 8).select(
        (F.col("vec_id") + 10_000_000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(1.5)).alias("embedding"),
    )
    new = embs.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 108)).select(
        (F.col("vec_id") + 20_000_000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(-1.5)).alias("embedding"),
    )
    out = {
        r["vec_id"]: r["is_new"]
        for r in S.semantic_dedup_incremental_served(
            dups.unionByName(new), cb2, corpus, 64, threshold=0.9
        ).collect()
    }
    assert all(not out[i + 10_000_000] for i in range(8))
    assert all(out[i + 20_000_000] for i in range(100, 108))

    # the STREAMING gate with the same two-level codebook (its stream-
    # static anti-join plan wraps the hierarchical UDF differently from
    # the batch plan, so exercise it end-to-end too)
    chunks = str(tmp_path_factory.mktemp("twolevel_stream"))
    dups.unionByName(new).coalesce(1).write.parquet(chunks + "/c0.parquet")
    src = spark.readStream.schema(
        "vec_id bigint, embedding array<double>"
    ).option("recursiveFileLookup", "true").parquet(chunks)
    q = (
        S.semantic_gate_stream(src, cb2, corpus, 64, threshold=0.9)
        .writeStream.format("memory")
        .queryName("twolevel_gate_out")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    streamed = {r["vec_id"] for r in spark.table("twolevel_gate_out").collect()}
    assert streamed == {i + 20_000_000 for i in range(100, 108)}


def test_corpus_segment_filter_verdict(spark):
    """Doc-level CCNet verdict: a near-total duplicate is dropped whole
    (> 50% segments duplicated), a doc with one stray boilerplate segment
    survives."""
    boiler = "all rights reserved here"
    df = spark.createDataFrame(
        [
            (1, boiler + " alpha beta gamma delta"),
            (2, boiler + " " + boiler),  # both segments lose to doc 1
            (3, "epsilon zeta eta theta " + boiler),  # 1 of 2 -> kept
        ],
        "doc_id long, text string",
    )
    scrub = D.segment_dedup_scrub(df, words_per_segment=4)
    out = {
        r["doc_id"]: r
        for r in scrub.select(
            "doc_id",
            "n_segments",
            "n_dropped",
            F.expr("n_dropped * 1000000L div n_segments").alias("dup_ppm"),
        ).collect()
    }
    assert out[1]["dup_ppm"] == 0
    assert out[2]["dup_ppm"] == 1_000_000  # dropped whole at any budget
    assert out[3]["dup_ppm"] == 500_000  # exactly at the 50% budget -> kept

    # the REGISTERED query's verdict column (the <= direction itself)
    from pyfads.llm_queries import _SEG_FILTER_PPM, corpus_segment_filter_q

    rows = corpus_segment_filter_q(spark, SF_DIR).collect()
    assert rows and all(
        r["is_kept"] == (r["dup_ppm"] <= _SEG_FILTER_PPM) for r in rows
    )
    assert any(r["dup_ppm"] == 0 and r["is_kept"] for r in rows)


def test_matryoshka_refined_improves_on_prefix(spark):
    """The exact-refine stage must (a) return full-precision cosines
    (bit-equal to the brute-force baseline for overlapping pairs) and
    (b) recall at least as much of the true top-10 as the prefix-only
    ranking it refines."""
    from pyfads.llm_queries import (
        ann_cosine_topk_q,
        ann_matryoshka_refined_q,
        ann_matryoshka_topk_q,
    )

    sf = "/root/testdata/sf0.01"
    full = {(r["q_id"], r["neighbor_id"]): r["cosine"] for r in ann_cosine_topk_q(spark, sf).collect()}
    prefix = {(r["q_id"], r["neighbor_id"]) for r in ann_matryoshka_topk_q(spark, sf).collect()}
    refined = {(r["q_id"], r["neighbor_id"]): r["cosine"] for r in ann_matryoshka_refined_q(spark, sf).collect()}
    assert len(refined) == len(full) == 80
    hit_prefix = len(prefix & set(full))
    hit_refined = len(set(refined) & set(full))
    assert hit_refined >= hit_prefix  # refine never hurts recall
    for k, v in refined.items():
        if k in full:
            assert v == full[k]  # exact full-dim cosine, bit-equal


def test_semantic_hot_cell_salt_cap(spark):
    """r9 verdict #1: a degenerate mass-duplicate cell (k-means cannot
    split identical embeddings) must not make the within-cell self-joins
    quadratic.  200 identical vectors with max_cell=50 split into 4
    id-ordered sub-cells: tau-edges confine to sub-cells (4 * C(50,2) vs
    C(200,2) uncapped) and semantic_dedup keeps one survivor PER SUB-CELL
    — the bounded, deterministic recall-loss contract the MinHash cap
    established."""
    import numpy as np

    cents = np.array([[1.0, 0.0], [0.0, 1.0]])
    rows = [(i, [1.0, 0.0]) for i in range(200)] + [(1000, [0.0, 1.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    capped = S.semantic_tau_pairs(df, 2, threshold=0.9, centroids=cents, max_cell=50)
    assert capped.count() == 4 * (50 * 49) // 2
    uncapped = S.semantic_tau_pairs(df, 2, threshold=0.9, centroids=cents, max_cell=None)
    assert uncapped.count() == (200 * 199) // 2

    kept = sorted(
        r["vec_id"]
        for r in S.semantic_dedup(df, 2, threshold=0.9, centroids=cents, max_cell=50)
        .filter("is_kept")
        .collect()
    )
    assert kept == [0, 50, 100, 150, 1000]  # lowest id of each sub-cell
    un_kept = sorted(
        r["vec_id"]
        for r in S.semantic_dedup(df, 2, threshold=0.9, centroids=cents, max_cell=None)
        .filter("is_kept")
        .collect()
    )
    assert un_kept == [0, 1000]


def test_semantic_salt_cap_short_circuit(spark):
    """r10 verdict #1: the hot-cell split must be FREE when no cell is hot.
    With every cell under max_cell, semantic_dedup's physical plan contains
    no Window (no full-corpus row_number shuffle+sort) and the result
    equals the force-salted run bit-for-bit (sub 0 everywhere == plain
    cell); a hot corpus still engages the cap (plan grows a Window)."""
    import numpy as np

    cents = np.array([[1.0, 0.0], [0.0, 1.0]])
    healthy = spark.createDataFrame(
        [(i, [1.0, 0.0]) for i in range(5)] + [(10, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    assert not S._cells_over_cap(S._assign_cells(healthy, cents, "vec_id", "embedding"), 50)
    out = S.semantic_dedup(healthy, 2, threshold=0.9, centroids=cents, max_cell=50)
    assert "Window" not in out._jdf.queryExecution().executedPlan().toString()
    forced = S.semantic_dedup(healthy, 2, threshold=0.9, centroids=cents, max_cell=None)
    key = lambda df: sorted(
        (r["vec_id"], r["n_better_neighbors"], r["is_kept"]) for r in df.collect()
    )
    assert key(out) == key(forced)

    hot = spark.createDataFrame(
        [(i, [1.0, 0.0]) for i in range(8)], "vec_id long, embedding array<double>"
    )
    assert S._cells_over_cap(S._assign_cells(hot, cents, "vec_id", "embedding"), 3)
    capped = S.semantic_dedup(hot, 2, threshold=0.9, centroids=cents, max_cell=3)
    assert "Window" in capped._jdf.queryExecution().executedPlan().toString()
    # ceil(8/3)=3 sub-cells -> 3 survivors
    assert capped.filter("is_kept").count() == 3


def test_semantic_gate_hot_cell_replication_exact(spark):
    """Unlike the lossy self-join cap, the incremental gate's hot-cell
    handling is EXACT (corpus sub-bucket replication): verdicts and dup
    counts with a tiny max_cell equal the uncapped gate bit-for-bit,
    including batch rows whose cell has no corpus members."""
    import numpy as np

    cents = np.array([[1.0, 0.0], [0.0, 1.0]])
    corpus = spark.createDataFrame(
        [(i, [1.0, 0.0]) for i in range(10)], "vec_id long, embedding array<double>"
    )
    batch = spark.createDataFrame(
        [(100, [2.0, 0.0]), (101, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )

    def run(mc):
        return {
            r["vec_id"]: (r["n_corpus_dups"], r["is_new"])
            for r in S.semantic_dedup_incremental(
                batch, corpus, 2, threshold=0.9, centroids=cents, max_cell=mc
            ).collect()
        }

    capped, uncapped = run(3), run(None)
    assert capped == uncapped
    assert capped[100] == (10, False)  # every corpus copy counted once
    assert capped[101] == (0, True)  # corpus-empty cell still gated


def test_semantic_salt_cap_oracle_replay(spark):
    """The DuckDB twin replays the id-ordered sub-cell split bit-for-bit
    on a pile that TRIGGERS the cap — driver-green does not depend on
    fixture cells staying under it (the minhash cap-replay precedent)."""
    import duckdb
    import numpy as np

    from pyfads import golden as G

    cents = np.array([[1.0, 0.0], [0.0, 1.0]])
    rows = [(i, [1.0, 0.0]) for i in range(20)] + [
        (100, [0.0, 1.0]),
        (101, [0.0, 2.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = sorted(
        (r["vec_id"], r["cell"], r["n_better_neighbors"], r["is_kept"])
        for r in S.semantic_dedup(
            df, 2, threshold=0.9, centroids=cents, max_cell=6
        ).collect()
    )
    vals = ", ".join(f"({i}, {[float(x) for x in v]})" for i, v in rows)
    src = f"(SELECT * FROM (VALUES {vals}) t(vec_id, embedding))"
    sql = G._semantic_dedup_sql(cents, 2, 0.9, src, max_cell=6)
    want = sorted(
        (int(r[0]), int(r[1]), int(r[3]), bool(r[4]))
        for r in duckdb.sql(sql).fetchall()
    )
    assert got == want
    # cap triggered in the pile cell: 4 sub-cells -> 4 survivors there
    assert sum(1 for v in got if v[3] and v[1] == 0) == 4


def test_semantic_store_partition_prune(spark, tmp_path_factory):
    """r9 verdict #6: the store's corpus is written partitionBy("cell"),
    and the served gate (prune_cells) pushes the batch's probed cells
    into the scan as PartitionFilters — an ingest tick reads ONLY its
    cells' files.  Asserted from the executed plan's FileScan line (the
    test_pushdown precedent) plus verdict correctness."""
    import numpy as np

    store = str(tmp_path_factory.mktemp("prune_store")) + "/s"
    cents = np.array([[1.0, 0.0], [0.0, 1.0]])
    corpus = spark.createDataFrame(
        [(i, [1.0, 0.0]) for i in range(6)] + [(10 + i, [0.0, 1.0]) for i in range(6)],
        "vec_id long, embedding array<double>",
    )
    S.write_semantic_store(spark, store, cents, corpus, 2)
    cb, cp = S.read_semantic_store(spark, store)
    # batch hits cell 0 only
    batch = spark.createDataFrame([(100, [3.0, 0.0])], "vec_id long, embedding array<double>")
    out = S.semantic_dedup_incremental_served(batch, cb, cp, 2, threshold=0.9)
    plan = out._jdf.queryExecution().executedPlan().toString()
    scans = [
        ln
        for ln in plan.splitlines()
        if "FileScan parquet" in ln and "/corpus" in ln
    ]
    assert scans, plan
    pf = scans[0].split("PartitionFilters")[1]
    assert "cell" in pf and "0" in pf, scans[0]
    [r] = out.collect()
    assert r["n_corpus_dups"] == 6 and r["is_new"] is False
    # and the store layout really is hive-partitioned by cell
    import os

    assert os.path.isdir(store + "/corpus/cell=0")
    assert os.path.isdir(store + "/corpus/cell=1")


def test_adaptive_probe_udf_matches_inplan(spark, monkeypatch):
    """The adaptive-probe margin test (dp1 - dp2 < margin * |v|) agrees
    probe-for-probe between the in-plan ranking (both literal forms) and
    the Arrow-UDF quantizer — same fold dots, same fold norms, same
    tiebreak."""
    embs = _synth_embs(spark, 400, dim=8)
    cents = S.train_ivf_centroids(embs, dim=8, n_centroids=16, iters=5)
    for margin in (0.02, 0.1):
        udf = _udf_probe_set(embs, cents, 2, margin)
        # the margin actually bites: strictly between n and 2n probes
        assert 400 < len(udf) < 800
        for literal in (True, False):
            _literal_form(monkeypatch, literal)
            assert _probe_set(embs, cents, 2, margin) == udf


def test_semantic_dedup_multiprobe_ranks_once(spark, monkeypatch):
    """Multi-probe SemDeDup ranks every vector ONCE: one _rank_cells call
    yields both the primary cell and the probe cells (no second corpus
    fold for the probe frame), and the margin probe's plan sorts the
    codebook array once per row — the sorted array, the best struct and
    the norm budget are bound in their own projection columns instead of
    being re-evaluated inside the filter lambda."""
    embs = _synth_embs(spark, 200, dim=8)
    cents = S.train_ivf_centroids(embs, dim=8, n_centroids=16, iters=5)
    real = S._rank_cells
    calls = []

    def spy(*args, **kwargs):
        calls.append(args[4:])
        return real(*args, **kwargs)

    monkeypatch.setattr(S, "_rank_cells", spy)
    out = S.semantic_dedup(
        embs, 8, threshold=0.9, centroids=cents, n_assign=2, probe_margin=0.05
    )
    assert out.count() == 200
    assert calls == [(2, 0.05)]
    monkeypatch.setattr(S, "_rank_cells", real)
    for literal in (True, False):
        _literal_form(monkeypatch, literal)
        probe = S._rank_cells(embs, cents, "vec_id", "embedding", 2, 0.05)
        plan = probe._jdf.queryExecution().optimizedPlan().toString()
        assert plan.count("array_sort(") == 1, plan
        assert plan.count("SQRT(") == 1, plan  # the norm budget, once
        single = S._rank_cells(embs, cents, "vec_id", "embedding")
        plan = single._jdf.queryExecution().optimizedPlan().toString()
        assert plan.count("array_sort(") == 0 and plan.count("array_max(") == 1


def test_ivfpq_cells_tie_break_to_lowest_cell(spark):
    """IVF-PQ's corpus cell and query probe cells break exact ties
    (duplicated centroids) to the LOWEST cell, like every other quantizer
    and the oracle's ``dp DESC, cell``: with each centroid duplicated 20
    times, a query probing ONE cell must land in the very cell its
    corpus neighbours were assigned to, or it finds nothing."""
    import numpy as np

    cents = np.tile(np.array([[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]]), (20, 1))
    cb = np.array([[[1.0, 0.0], [0.0, 1.0]], [[1.0, 0.0], [0.0, 1.0]]])
    corpus = spark.createDataFrame(
        [(i, [1.0, 0.05 * i, 0.0, 0.0]) for i in range(1, 7)]
        + [(10 + i, [0.05 * i, 1.0, 0.0, 0.0]) for i in range(1, 7)],
        "vec_id long, embedding array<double>",
    )
    queries = spark.createDataFrame(
        [(100, [1.0, 0.02, 0.0, 0.0]), (101, [0.02, 1.0, 0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    for n_probe in (1, 3):
        out = S.ann_ivfpq_topk(
            corpus, queries, 4, k=10, n_probe=n_probe, m_sub=2, ksub=2,
            centroids=cents, pq_codebooks=cb,
        ).collect()
        got = {}
        for r in out:
            got.setdefault(r["q_id"], set()).add(r["neighbor_id"])
        assert got == {100: set(range(1, 7)), 101: set(range(11, 17))}, n_probe


def test_url_canonicalize_collapses_surface_forms(spark):
    """The five synthesized surface forms canonicalize as designed:
    mixed-case host + :443 + trailing slash (case 1) collapses onto the
    www-prefixed plain form (case 0); tracking params strip so case 4
    collapses onto case 2's ?id= form; the http case keeps its scheme.
    Domains lose www. and ports."""
    from pyfads import web as W

    docs = spark.createDataFrame(
        [(i, "srcX") for i in range(5)], "doc_id long, source string"
    )
    rows = {
        r["doc_id"]: r
        for r in W.url_canonicalize(W.with_synth_urls(docs)).collect()
    }
    # doc_ids 0..4 all have article id 0 (0 div 5 == 0)
    assert rows[0]["canonical_url"] == "https://srcx.example.com/articles/0"
    assert rows[1]["canonical_url"] == rows[0]["canonical_url"]
    assert rows[2]["canonical_url"] == "https://srcx.example.com/articles/0?id=0"
    assert rows[4]["canonical_url"] == rows[2]["canonical_url"]
    assert rows[3]["canonical_url"] == "http://srcx.example.com/articles/0"
    assert all(r["domain"] == "srcx.example.com" for r in rows.values())
    assert "#" not in rows[3]["canonical_url"]
    assert "fbclid" not in rows[4]["canonical_url"]


def test_url_dedup_and_domain_policy(spark):
    """Keeper is the min doc_id per canonical group; blocklisted domains
    vanish; the per-domain cap keeps exactly the first `cap` ids."""
    from pyfads import web as W

    docs = spark.createDataFrame(
        [(i, f"s{i % 2}") for i in range(40)], "doc_id long, source string"
    )
    c = W.url_canonicalize(W.with_synth_urls(docs))
    dd = {r["doc_id"]: r for r in W.url_dedup(c).collect()}
    # docs 0 (case 0) and 1 (case 1) share source only when i%2 matches —
    # ids 0 and 1 differ in source, so find a real group instead: ids 0
    # and 10 are both case 0, source s0, article ids 0 and 2 -> distinct.
    # Use the canonical grouping directly:
    groups = {}
    for r in W.url_dedup(c).collect():
        groups.setdefault(r["canonical_url"], []).append(r)
    for g in groups.values():
        keep = [r["doc_id"] for r in g if r["is_keeper"]]
        assert keep == [min(r["doc_id"] for r in g)]
        assert all(r["n_copies"] == len(g) for r in g)

    kept = W.domain_policy_filter(c, blocklist=["s1.example.com"], cap=5)
    rows = kept.collect()
    assert {r["domain"] for r in rows} == {"s0.example.com"}
    assert sorted(r["doc_id"] for r in rows) == [0, 2, 4, 6, 8]
    assert sorted(r["domain_rank"] for r in rows) == [1, 2, 3, 4, 5]


def test_url_domain_strips_nondefault_port(spark):
    """code-review r10: the policy DOMAIN is port-free (bad.com:8443 hits
    the same blocklist/quota bucket as bad.com) while the canonical URL
    keeps a non-default port (it names a different resource)."""
    from pyfads import web as W

    df = spark.createDataFrame(
        [
            (1, "https://Bad.com:8443/x/"),
            (2, "https://bad.com/x"),
            (3, "http://www.ok.org:80/y?utm_source=a"),
        ],
        "doc_id long, url string",
    )
    rows = {r["doc_id"]: r for r in W.url_canonicalize(df).collect()}
    assert rows[1]["domain"] == "bad.com" == rows[2]["domain"]
    assert rows[1]["canonical_url"] == "https://bad.com:8443/x"
    assert rows[2]["canonical_url"] == "https://bad.com/x"
    assert rows[3]["domain"] == "ok.org"
    assert rows[3]["canonical_url"] == "http://ok.org/y"
    kept = W.domain_policy_filter(
        W.url_canonicalize(df), blocklist=["bad.com"], cap=10
    ).collect()
    assert {r["doc_id"] for r in kept} == {3}


def test_fold_norms_widens_float32_before_square(spark):
    """code-review r10: fold_norms must widen float32 input to float64
    BEFORE squaring — squaring in float32 rounds before the add and
    breaks margin-test parity with _norm_fold / the SQL twin."""
    import numpy as np

    v32 = np.array([[0.1, 0.2, 0.30000001]], dtype=np.float32)
    got = S.fold_norms(v32)[0]
    acc = 0.0
    for x in v32[0]:
        acc = acc + float(x) * float(x)  # python floats ARE float64
    assert got == np.sqrt(acc)


def test_semantic_refresh_refuses_legacy_store(spark, tmp_path):
    """code-review r10: a pre-r10 store (meta without max_cell) must be
    refused loudly — a partitionBy append into an unpartitioned corpus
    corrupts the directory layout."""
    import numpy as np

    store = str(tmp_path / "legacy_store")
    cents = np.array([[1.0, 0.0], [0.0, 1.0]])
    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    S.write_semantic_store(spark, store, cents, corpus, 2)
    # simulate the legacy meta (levels only, no max_cell)
    spark.createDataFrame([(1,)], "levels int").coalesce(1).write.mode(
        "overwrite"
    ).parquet(store + "/meta")
    batch = spark.createDataFrame(
        [(9, [0.0, 1.0])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="cell-partitioned layout"):
        S.semantic_refresh_store(spark, store, batch, 2)
