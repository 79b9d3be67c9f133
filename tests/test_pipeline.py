"""Quality/validity tests for the training-data pipeline operators."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from infidex_spark.pipeline.dedup import (
    exact_duplicates,
    jaccard_verify,
    minhash_lsh_pairs,
    simhash64,
)
from infidex_spark.pipeline.similarity import brute_force_topk, lsh_bucketed_topk


@pytest.fixture(scope="module")
def dup_docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again"
    near = "the quick brown fox jumps over the lazy cat again and again"
    rows = [
        (0, base),
        (1, base),  # exact dup of 0
        (2, near),  # near dup
        (3, "completely different content about spark and shuffles here"),
        (4, "another unrelated document mentioning databases and queries"),
        (5, base + " extra"),  # near dup
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_duplicates(dup_docs):
    groups = {r.keeper: r for r in exact_duplicates(dup_docs).collect()}
    assert groups[0].n_docs == 2 and groups[0].doc_ids == [0, 1]
    assert sum(r.n_docs for r in groups.values()) == 6


def test_minhash_finds_near_dups(dup_docs):
    pairs = {(r.doc_a, r.doc_b) for r in minhash_lsh_pairs(dup_docs, n_hashes=16, bands=8).collect()}
    assert (0, 1) in pairs  # exact dup always collides
    assert (0, 2) in pairs or (0, 5) in pairs  # near dups share bands
    # unrelated docs should not pair with everything
    assert (3, 4) not in pairs


def test_jaccard_verify(dup_docs, spark):
    pairs = spark.createDataFrame([(0, 1), (0, 2), (0, 3)], "doc_a long, doc_b long")
    j = {(r.doc_a, r.doc_b): r.jaccard for r in jaccard_verify(dup_docs, pairs).collect()}
    assert j[(0, 1)] == 1.0
    assert 0.5 < j[(0, 2)] < 1.0
    assert j[(0, 3)] < 0.1


def test_simhash_properties(dup_docs):
    sh = {r.doc_id: r.simhash for r in simhash64(dup_docs).collect()}
    assert sh[0] == sh[1]  # identical text -> identical signature
    ham_near = bin((sh[0] ^ sh[2]) & ((1 << 64) - 1)).count("1")
    ham_far = bin((sh[0] ^ sh[3]) & ((1 << 64) - 1)).count("1")
    assert ham_near < ham_far  # near dup closer in Hamming space


@pytest.fixture(scope="module")
def emb_df(spark):
    # clustered embeddings (the realistic ANN workload): 10 centers,
    # points = center + small noise, so neighbors share LSH buckets
    rng = np.random.default_rng(3)
    centers = rng.standard_normal((10, 16)) * 3.0
    rows = [
        (i, (centers[i % 10] + rng.standard_normal(16) * 0.2).astype(float).tolist())
        for i in range(200)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_brute_force_topk_matches_numpy(emb_df):
    rows = emb_df.collect()
    mat = np.array([r.embedding for r in rows], dtype=np.float64)
    q = mat[0]
    cos = (mat @ q) / (np.linalg.norm(mat, axis=1) * np.linalg.norm(q))
    order = np.lexsort((np.array([r.vec_id for r in rows]), -cos))[:10]
    want = [rows[i].vec_id for i in order]
    got = [r.vec_id for r in brute_force_topk(emb_df, q.tolist(), 10).collect()]
    assert got == want


def test_lsh_topk_recall(emb_df):
    rows = emb_df.collect()
    q = list(rows[0].embedding)
    exact = {r.vec_id for r in brute_force_topk(emb_df, q, 10).collect()}
    approx = {r.vec_id for r in lsh_bucketed_topk(emb_df, q, 10, bits=3).collect()}
    # the query's own bucket must contain the query vector itself and,
    # on clustered data, recover most of the exact top-k
    assert 0 in approx
    assert len(exact & approx) >= 7


def test_fingerprint_deterministic(spark):
    from infidex_spark.pipeline.textstats import fingerprint

    docs = spark.createDataFrame(
        [(0, "hello world document"), (1, "hello world document"), (2, "other")],
        "doc_id long, text string",
    )
    fp = {r.doc_id: r.fingerprint for r in fingerprint(docs).collect()}
    assert fp[0] == fp[1]
    assert fp[0] != fp[2]


def test_multimodal_plumbing(spark):
    from infidex_spark.pipeline.multimodal import extract_features, frame_sample_plan

    media = spark.createDataFrame(
        [
            (0, "image", b"imagebytes", "image/png", 8, 8, None),
            (1, "video", b"videobytes", "video/mp4", None, None, 3500),
        ],
        "media_id long, kind string, payload binary, mime string, width int, height int, duration_ms long",
    )
    feats = extract_features(media, dim=8).collect()
    assert {r.media_id for r in feats} == {0, 1}
    assert all(len(r.feature) == 8 for r in feats)
    assert feats[0].n_bytes == 10
    plan = frame_sample_plan(media, every_ms=1000).collect()
    assert [r.frame_ts_ms for r in plan] == [0, 1000, 2000, 3000]


def test_lsh_multiprobe_improves_recall(emb_df):
    from infidex_spark.pipeline.similarity import lsh_bucketed_topk as lsh

    rows = emb_df.collect()
    q = list(rows[0].embedding)
    exact = {r.vec_id for r in brute_force_topk(emb_df, q, 10).collect()}
    # at high bit counts single-bucket recall cliffs; Hamming-1 probing
    # must recover at least as much and reach >=8/10 on clustered data
    single = {r.vec_id for r in lsh(emb_df, q, 10, bits=6).collect()}
    multi = {r.vec_id for r in lsh(emb_df, q, 10, bits=6, multiprobe=1).collect()}
    assert len(exact & multi) >= len(exact & single)
    assert len(exact & multi) >= 8


def test_ivf_topk_recall_and_determinism(emb_df):
    from infidex_spark.pipeline.similarity import (
        ivf_assign,
        ivf_topk,
        ivf_train_centroids,
    )

    cents = ivf_train_centroids(emb_df, n_centroids=4, iters=4, seed=11)
    cents2 = ivf_train_centroids(emb_df, n_centroids=4, iters=4, seed=11)
    np.testing.assert_array_equal(cents, cents2)  # deterministic training

    rows = emb_df.collect()
    q = list(rows[0].embedding)
    exact = [r.vec_id for r in brute_force_topk(emb_df, q, 10).collect()]
    # nprobe == n_centroids scans everything -> identical to brute force
    full = [r.vec_id for r in ivf_topk(emb_df, cents, q, 10, nprobe=4).collect()]
    assert full == exact
    # nprobe=1 still recovers most of the top-k on clustered data
    one = {r.vec_id for r in ivf_topk(emb_df, cents, q, 10, nprobe=1).collect()}
    assert len(set(exact) & one) >= 7
    # every vector lands in exactly one cell
    assigned = ivf_assign(emb_df, cents)
    assert assigned.count() == len(rows)
    assert assigned.filter((F.col("cell") < 0) | (F.col("cell") >= 4)).count() == 0


def test_ivf_arrow_assignment_matches_expr(emb_df):
    """The pandas_udf (Arrow batch matmul) assignment path equals the
    Catalyst-literal path cell-for-cell, and its plan carries a python
    UDF eval instead of the O(n_centroids*dim) literal tree."""
    from infidex_spark.pipeline.similarity import (
        ivf_assign,
        ivf_topk,
        ivf_train_centroids,
    )

    cents = ivf_train_centroids(emb_df, n_centroids=4, iters=4, seed=11)
    a = {
        r.vec_id: r.cell
        for r in ivf_assign(emb_df, cents, method="expr").collect()
    }
    b = {
        r.vec_id: r.cell
        for r in ivf_assign(emb_df, cents, method="arrow").collect()
    }
    assert a == b
    plan = ivf_assign(emb_df, cents, method="arrow")._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan or "Python" in plan
    # top-k through the arrow path is identical too
    q = list(emb_df.collect()[0].embedding)
    ta = [r.vec_id for r in ivf_topk(emb_df, cents, q, 10, nprobe=4, method="expr").collect()]
    tb = [r.vec_id for r in ivf_topk(emb_df, cents, q, 10, nprobe=4, method="arrow").collect()]
    assert ta == tb
    # auto switches to arrow when the literal plan would explode
    from infidex_spark.pipeline import similarity as S

    big = np.random.default_rng(0).normal(size=(300, 64))  # 19200 > cap
    plan_auto = ivf_assign(emb_df.limit(1), big, method="auto")._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan_auto or "Python" in plan_auto


def test_zero_vectors_score_zero_on_both_ivf_paths(spark):
    """A zero embedding and a zero centroid: the Catalyst-literal cosine
    used to divide by a zero norm (DIVIDE_BY_ZERO under ANSI SQL). Both
    norms are clamped as the Arrow path clamps them, so the expr and
    arrow assignments agree cell for cell and brute-force top-k returns
    every row, the zero vector scoring 0."""
    from infidex_spark.pipeline.similarity import ivf_assign

    rows = [(0, [0.0, 0.0]), (1, [1.0, 0.0]), (2, [0.0, 2.0]), (3, [-1.0, -1.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = np.array([[0.0, 0.0], [1.0, 0.1], [0.0, 1.0]])
    a = {r.vec_id: r.cell for r in ivf_assign(df, cents, method="expr").collect()}
    b = {r.vec_id: r.cell for r in ivf_assign(df, cents, method="arrow").collect()}
    assert a == b
    assert a[0] == 0  # every cosine of the zero vector is 0: first cell wins
    got = {r.vec_id: r.cosine for r in brute_force_topk(df, [1.0, 0.0], 10).collect()}
    assert sorted(got) == [0, 1, 2, 3]
    assert got[0] == 0.0 and got[1] == pytest.approx(1.0)


def test_near_dups_zero_vectors_score_zero(spark):
    """Two zero embeddings share an LSH bucket. Their cosine used to
    divide by a zero norm (DIVIDE_BY_ZERO under ANSI SQL); both norms
    are now clamped as _cosine_expr clamps them, so the pair scores 0 and
    is kept only by a threshold of 0."""
    from infidex_spark.pipeline.similarity import embedding_near_dups

    rows = [(0, [0.0, 0.0]), (1, [0.0, 0.0]), (2, [1.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {
        (r.id_a, r.id_b): r.cosine
        for r in embedding_near_dups(df, threshold=0.0, bits=2).collect()
    }
    assert got[(0, 1)] == 0.0
    assert all(c == 0.0 for c in got.values())
    assert embedding_near_dups(df, threshold=0.95, bits=2).collect() == []
