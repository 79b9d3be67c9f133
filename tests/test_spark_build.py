"""End-to-end parity: Spark-built index + query executor must reproduce the
kernel oracle exactly (same df/tf/dl/avgdl, rank-identical top-k, scores
equal to float32 round-off)."""

import os

import numpy as np
import pytest

from infidex_spark.build.indexer import build_index
from infidex_spark.kernel.engine import KernelIndex
from infidex_spark.query.executor import IndexReader, QueryExecutor

QUERIES = [
    "batman",
    "qick fux",
    "quick fox",
    "gotham city",
    "the",
    "fox",
    "redemption shank",
    "wonder woman protects",
    "speeding bullet",
    "zzzz unknown",
]


@pytest.fixture(scope="module")
def built_index(spark, reference_docs, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("idx") / "refidx")
    docs = spark.createDataFrame(
        [(i, key, text) for i, (key, text) in enumerate(reference_docs)],
        "doc_id long, doc_key long, text string",
    )
    manifest = build_index(spark, docs, out, n_buckets=4, salts=2)
    return out, manifest


def test_manifest_stats_match_kernel(built_index, kernel_index):
    _, manifest = built_index
    assert manifest["total_docs"] == 10
    assert manifest["avgdl"] == pytest.approx(kernel_index.avgdl, rel=1e-6)
    assert manifest["n_stop_terms"] == 0


def test_postings_match_kernel(built_index, kernel_index):
    out, _ = built_index
    reader = IndexReader(out)
    # every live kernel term must round-trip identically
    live = {t: s for t, s in kernel_index.terms.items() if s.df > 0}
    fetched = reader.fetch_terms(list(live.keys()))
    assert set(fetched.keys()) == set(live.keys())
    for term, st in live.items():
        tp = fetched[term]
        assert tp.df == st.df, term
        assert tp.doc_ids.tolist() == sorted(st.doc_ids), term
        got_w = dict(zip(tp.doc_ids.tolist(), tp.tfs.astype(int).tolist()))
        exp_w = dict(zip(st.doc_ids, st.weights))
        assert got_w == exp_w, term


def test_doc_lengths_match_kernel(built_index, kernel_index):
    out, _ = built_index
    reader = IndexReader(out)
    ids = np.arange(10, dtype=np.int64)
    dl, keys = reader.doc_lengths(ids)
    assert np.allclose(dl, kernel_index.doc_lengths, rtol=0, atol=0)
    assert keys.tolist() == kernel_index.doc_keys


@pytest.mark.parametrize("query", QUERIES)
def test_topk_rank_identical(built_index, kernel_index, query):
    out, _ = built_index
    ex = QueryExecutor(IndexReader(out))
    got = ex.search(query, 10)
    want = kernel_index.search(query, 10)
    assert [d for d, _ in got] == [d for d, _ in want], (got, want)
    np.testing.assert_allclose(
        [s for _, s in got], [s for _, s in want], rtol=1e-5
    )


def test_resume_skips_done_buckets(spark, reference_docs, tmp_path):
    out = str(tmp_path / "idx2")
    docs = spark.createDataFrame(
        [(i, key, text) for i, (key, text) in enumerate(reference_docs)],
        "doc_id long, doc_key long, text string",
    )
    m1 = build_index(spark, docs, out, n_buckets=4, salts=2, bucket_groups=4)
    assert len(m1["bucket_groups"]) == 4
    # resume over a completed build: nothing left to do
    m2 = build_index(
        spark, docs, out, n_buckets=4, salts=2, bucket_groups=4, resume=True
    )
    assert m2["bucket_groups"] == []
    ex = QueryExecutor(IndexReader(out))
    assert ex.search("batman", 3)[0][0] == 6


def test_resume_after_lost_checkpoint_no_duplicates(
    spark, reference_docs, tmp_path
):
    """Crash window regression (ADVICE r3 #1): postings written but the
    (async) checkpoint lost — a resumed build must not append duplicate
    (term, bucket) rows. Simulated by deleting the whole checkpoints dir
    after a successful build."""
    import shutil as _sh

    out = str(tmp_path / "idx3")
    docs = spark.createDataFrame(
        [(i, key, text) for i, (key, text) in enumerate(reference_docs)],
        "doc_id long, doc_key long, text string",
    )
    build_index(spark, docs, out, n_buckets=4, salts=2, bucket_groups=2)
    before = (
        spark.read.parquet(out + "/postings")
        .groupBy("term", "bucket")
        .count()
        .orderBy("term", "bucket")
        .collect()
    )
    assert all(r["count"] == 1 for r in before)
    _sh.rmtree(out + "/checkpoints")
    build_index(
        spark, docs, out, n_buckets=4, salts=2, bucket_groups=2, resume=True
    )
    after = (
        spark.read.parquet(out + "/postings")
        .groupBy("term", "bucket")
        .count()
        .orderBy("term", "bucket")
        .collect()
    )
    assert all(r["count"] == 1 for r in after), "duplicated postings rows"
    assert len(after) == len(before)
    ex = QueryExecutor(IndexReader(out))
    assert ex.search("batman", 3)[0][0] == 6


def test_fields_build_rejects_large_gram_sizes(spark, tmp_path):
    """ADVICE r3 #3: the vectorized fields fold only supports gram sizes
    <= 3 (uint64 key packing); larger configs must fail loudly."""
    docs = spark.createDataFrame(
        [(0, 0, "a title", "a body")],
        "doc_id long, doc_key long, title string, body string",
    )
    with pytest.raises(Exception) as exc:
        build_index(
            spark, docs, str(tmp_path / "idx4"), n_buckets=2,
            fields=[("title", 0), ("body", 2)], sizes=(3, 4), aux=False,
        )
    assert "sizes <= 3" in str(exc.value)


@pytest.mark.parametrize("query", QUERIES)
def test_wand_equals_exhaustive(built_index, query):
    out, _ = built_index
    ex = QueryExecutor(IndexReader(out))
    wand = ex.search(query, 10, use_wand=True)
    full = ex.search(query, 10, use_wand=False)
    assert [d for d, _ in wand] == [d for d, _ in full], (wand, full)
    np.testing.assert_allclose(
        [s for _, s in wand], [s for _, s in full], rtol=1e-5
    )


def _postings_rows(out: str) -> list[dict]:
    import pyarrow.dataset as ds

    return ds.dataset(
        os.path.join(out, "postings"), format="parquet", partitioning="hive"
    ).to_table().to_pylist()


def test_partial_merge_rows_equal_kernel_encoding(spark, reference_docs, tmp_path):
    """Every postings row is byte-equal to encode_postings_batch of the
    kernel's (doc_id << 8 | weight) list for its term. ' qj' is in every
    doc, so with 8 input partitions it has a partial in each, and
    stop_term_limit=9 stops it (df 10) and nothing else; live terms
    spread over several partitions (' th', df 8) go through the
    reduce-side merge. Doc lengths must drop the stopped term's tf."""
    import zlib

    from infidex_spark.build.codec import encode_postings_batch

    corpus = [(key, text + " qj") for key, text in reference_docs]
    kern = KernelIndex(stop_term_limit=9)
    kern.index_documents(corpus)
    assert sorted(t for t, st in kern.terms.items() if st.df < 0) == [" qj"]
    live = {t: st for t, st in kern.terms.items() if st.df > 0}

    docs = spark.createDataFrame(
        [(i, key, text) for i, (key, text) in enumerate(corpus)],
        "doc_id long, doc_key long, text string",
    ).repartition(8)
    out = str(tmp_path / "idx_partial")
    manifest = build_index(
        spark, docs, out, n_buckets=2, aux=False, stop_term_limit=9
    )
    assert manifest["n_stop_terms"] == 1

    rows = _postings_rows(out)
    got = {r["term"]: r for r in rows}
    assert len(got) == len(rows), "one row per term"
    assert " qj" not in got
    assert set(got) == set(live)
    terms = sorted(live)
    enc = encode_postings_batch(
        [
            (np.asarray(live[t].doc_ids, dtype=np.int64) << 8)
            | np.asarray(live[t].weights, dtype=np.int64)
            for t in terms
        ]
    )
    for j, t in enumerate(terms):
        r = got[t]
        assert r["df"] == live[t].df, t
        assert r["bucket"] == zlib.crc32(t.encode("utf-8")) % 2, t
        assert (
            r["n_docs"], r["max_tf"], r["payload"], r["weights"],
            r["block_last_doc"], r["block_max_w"], r["block_offsets"],
        ) == (
            int(enc["n_docs"][j]), int(enc["max_tf"][j]),
            bytes(enc["payload"][j]), bytes(enc["weights"][j]),
            [int(x) for x in enc["block_last_doc"][j]],
            [int(x) for x in enc["block_max_w"][j]],
            [int(x) for x in enc["block_offsets"][j]],
        ), t

    dl, _ = IndexReader(out).doc_lengths(np.arange(len(corpus), dtype=np.int64))
    assert dl.tolist() == kern.doc_lengths.tolist()


def test_embedded_nul_terms_build_and_match_kernel(spark, tmp_path):
    """Terms that differ only after an embedded NUL stay distinct terms
    (normalize keeps NUL, as the reference does), and a NUL-led word
    next to its own NUL-led gram builds."""
    corpus = [(i, "a\x00b" if i % 2 == 0 else "a\x00c") for i in range(40)]
    corpus.append((40, "\x00bat"))
    kern = KernelIndex()
    kern.index_documents(corpus)
    docs = spark.createDataFrame(
        [(i, key, text) for i, (key, text) in enumerate(corpus)],
        "doc_id long, doc_key long, text string",
    )
    out = str(tmp_path / "idx_nul")
    build_index(spark, docs, out, n_buckets=2, aux=False)

    got = {r["term"]: r["df"] for r in _postings_rows(out)}
    want = {t: st.df for t, st in kern.terms.items() if st.df > 0}
    assert got == want
    assert got["a\x00b"] == got["a\x00c"] == 20

    ex = QueryExecutor(IndexReader(out))
    for q in ("a\x00c", "a\x00b", "\x00bat"):
        res = ex.search(q, 10)
        exp = kern.search(q, 10)
        assert [d for d, _ in res] == [d for d, _ in exp], q
        np.testing.assert_allclose(
            [s for _, s in res], [s for _, s in exp], rtol=1e-5
        )


def test_build_index_restores_caller_local_properties(
    spark, reference_docs, tmp_path
):
    """build_index labels its jobs, pools and job group on its own job
    threads; the caller's description, pool and group stay as they were
    after a good build and after failing ones (in a job, and before any
    job), and unset ones stay unset."""
    sc = spark.sparkContext
    docs = spark.createDataFrame(
        [(i, key, text) for i, (key, text) in enumerate(reference_docs)],
        "doc_id long, doc_key long, text string",
    )
    bad_ids = spark.createDataFrame(
        [(i - 1, key, text) for i, (key, text) in enumerate(reference_docs)],
        "doc_id long, doc_key long, text string",
    )
    props = ("spark.job.description", "spark.scheduler.pool", "spark.jobGroup.id")
    caller = ["caller-desc", "caller-pool", "caller-group"]
    try:
        for k, v in zip(props, caller):
            sc.setLocalProperty(k, v)
        build_index(spark, docs, str(tmp_path / "idx_props"), n_buckets=2, aux=False)
        assert [sc.getLocalProperty(k) for k in props] == caller
        with pytest.raises(ValueError, match="doc_id must be >= 0"):
            build_index(spark, bad_ids, str(tmp_path / "idx_props_bad"), n_buckets=2)
        assert [sc.getLocalProperty(k) for k in props] == caller
        with pytest.raises(ValueError):
            build_index(
                spark, docs, str(tmp_path / "idx_props_err"), n_buckets=2,
                fields=[("no_such_column", 0)],
            )
        assert [sc.getLocalProperty(k) for k in props] == caller
        for k in props:
            sc.setLocalProperty(k, None)
        with pytest.raises(ValueError):
            build_index(
                spark, docs, str(tmp_path / "idx_props_err2"), n_buckets=2,
                fields=[("no_such_column", 0)],
            )
        assert [sc.getLocalProperty(k) for k in props] == [None, None, None]
    finally:
        for k in props:
            sc.setLocalProperty(k, None)


def test_failed_build_stops_every_job_and_releases_its_cache(spark, tmp_path):
    """A negative doc id fails the build: the id check gates the jobs
    that index arrays by doc id (champions never starts), the other jobs
    are cancelled and joined before the error is raised (no Spark job
    left running, nothing written afterwards), and every frame the build
    cached is released."""
    import time

    from infidex_spark.webtext import generate_webtext, with_doc_ids

    sc = spark.sparkContext
    docs = with_doc_ids(generate_webtext(spark, 400, seed=5)).selectExpr(
        "doc_id - 1 as doc_id", "doc_id as doc_key", "text"
    )
    out = str(tmp_path / "idx_neg")
    n_cached = sc._jsc.getPersistentRDDs().size()
    with pytest.raises(ValueError, match="doc_id must be >= 0"):
        build_index(spark, docs, out, n_buckets=4)
    assert list(sc.statusTracker().getActiveJobsIds()) == []
    listing = sorted(os.listdir(out))
    assert "champions" not in listing
    time.sleep(5)
    assert sorted(os.listdir(out)) == listing
    assert sc._jsc.getPersistentRDDs().size() == n_cached


class _FakeTerm:
    """Minimal TermPostings stand-in for _intersect_terms_tf unit tests:
    sorted unique doc_ids with per-doc tf, lookup() honoring the live
    contract (hit aligned to probes, tf aligned to probes[hit])."""

    def __init__(self, doc_ids, tfs):
        self.doc_ids = np.asarray(doc_ids, dtype=np.int64)
        self.tfs = np.asarray(tfs, dtype=np.float32)
        self.n_docs = self.doc_ids.size

    def lookup(self, docs):
        hit = np.isin(docs, self.doc_ids)
        pos = np.searchsorted(self.doc_ids, docs[hit])
        return hit, self.tfs[pos]


def test_intersect_terms_tf_matches_brute_force():
    """Carried-tf intersection (round 5): the returned tf arrays must be
    each input term's tf aligned to the final AND result, in the INPUT
    list order, for every intersection shape (subset chains, partial
    overlap, varying rarity order)."""
    from infidex_spark.query.executor import _intersect_terms_tf

    rng = np.random.default_rng(7)
    for trial in range(50):
        n_terms = int(rng.integers(2, 5))
        universe = np.arange(200)
        terms = []
        for _ in range(n_terms):
            size = int(rng.integers(1, 160))
            ids = np.sort(rng.choice(universe, size=size, replace=False))
            tfs = rng.integers(1, 250, size=size).astype(np.float32)
            terms.append(_FakeTerm(ids, tfs))
        out, tf_list = _intersect_terms_tf(terms)
        expected = terms[0].doc_ids
        for t in terms[1:]:
            expected = np.intersect1d(expected, t.doc_ids)
        assert out.tolist() == expected.tolist(), trial
        if expected.size == 0:
            assert tf_list is None
            continue
        assert tf_list is not None and len(tf_list) == n_terms
        for ti, t in enumerate(terms):
            pos = np.searchsorted(t.doc_ids, out)
            assert tf_list[ti].tolist() == t.tfs[pos].tolist(), (trial, ti)


def test_carried_tf_direct_score_equals_wand(spark, tmp_path):
    """The tier-0 full-AND direct-scoring branch (round 5) must return
    exactly what the WAND path returns. The 10-doc parity corpus never
    reaches the branch's topk*2 candidate floor, so this builds a corpus
    where three shared words co-occur in 60 docs (>= 20 candidates at
    k=10) and asserts (a) the branch is actually taken — carried tf is
    non-None and matches the postings — and (b) rank + scores match the
    exhaustive scorer."""
    n = 60
    rows = [
        (i, i, f"alpha beta gamma unique{i} filler{i % 7}") for i in range(n)
    ] + [(n + j, n + j, f"alpha solo{j}") for j in range(8)]
    docs = spark.createDataFrame(rows, "doc_id long, doc_key long, text string")
    out = str(tmp_path / "idx_ctf")
    build_index(spark, docs, out, n_buckets=2, salts=2, aux=False)
    ex = QueryExecutor(IndexReader(out))

    q = "alpha beta gamma"
    active, idfs = [], []
    fetched = ex.r.fetch_terms(["alpha", "beta", "gamma"])
    import math as _m

    for t in ["alpha", "beta", "gamma"]:
        tp = fetched[t]
        active.append(tp)
        idfs.append(_m.log(1.0 + (ex.r.total_docs - tp.df + 0.5) / (tp.df + 0.5)))
    idfs = np.asarray(idfs, dtype=np.float32)
    cand, carried = ex._select_candidates(active, idfs, 10, q)
    assert carried is not None, "tier-0 carried-tf branch not taken"
    assert cand.size == n
    for ti, tp in enumerate(active):
        pos = np.searchsorted(tp.doc_ids, cand)
        assert carried[ti].tolist() == tp.tfs[pos].tolist()

    wand = ex.search(q, 10, use_wand=True)
    full = ex.search(q, 10, use_wand=False)
    assert [d for d, _ in wand] == [d for d, _ in full], (wand, full)
    np.testing.assert_allclose(
        [s for _, s in wand], [s for _, s in full], rtol=1e-5
    )


def test_hot_prefixes_keep_counts_only(spark, reference_docs, tmp_path):
    """With max_prefix_docs below the doc count, prefixes over the cap
    (hot) keep only their count: no doc list and no prefix_postings rows.
    Every other prefix row, and every other positional row, equals the
    build in which no prefix can be hot."""
    import pandas as pd

    docs = spark.createDataFrame(
        [(i, k, t) for i, (k, t) in enumerate(reference_docs)],
        "doc_id long, doc_key long, text string",
    )
    out_all, out_cap = str(tmp_path / "all"), str(tmp_path / "cap")
    build_index(spark, docs, out_all, n_buckets=4, short_precompute=False)
    build_index(spark, docs, out_cap, n_buckets=4, short_precompute=False, max_prefix_docs=3)

    def prefixes(out):
        df = pd.read_parquet(os.path.join(out, "prefixes"))
        return {r.prefix: (r.n_docs, None if r.doc_ids is None else list(r.doc_ids)) for r in df.itertuples()}

    def postings(out):
        df = pd.read_parquet(os.path.join(out, "prefix_postings"))
        return sorted(map(tuple, df.to_numpy().tolist()))

    full, capped = prefixes(out_all), prefixes(out_cap)
    hot = {p for p, (n, _) in full.items() if n > 3}
    assert hot and set(full) - hot
    assert capped == {p: (n, None if p in hot else ids) for p, (n, ids) in full.items()}
    assert postings(out_cap) == [r for r in postings(out_all) if r[0] not in hot]

    # the hot rows are key-sorted too, so the reader loads the capped
    # table's dictionary and serves both kinds of row
    reader = IndexReader(out_cap)
    try:
        reader.prewarm_postings_meta()
        for p, (n, ids) in full.items():
            got_n, got_ids = reader.fetch_prefix(p)
            assert got_n == n, p
            assert (got_ids is None) if p in hot else (got_ids.tolist() == ids), p
    finally:
        reader.close()


def test_symmetric_delete_lists_do_not_depend_on_input_layout(spark, tmp_path):
    """variants and word_variants hold the same rows whether the same
    docs arrive in 1 or in 8 shuffled partitions, and every terms list
    is sorted (collect_list alone keeps shuffle arrival order)."""
    import random

    import pyarrow.parquet as pq

    from infidex_spark.webtext import generate_webtext, with_doc_ids

    rows = (
        with_doc_ids(generate_webtext(spark, 400, seed=5))
        .selectExpr("doc_id", "doc_id as doc_key", "text")
        .collect()
    )
    schema = "doc_id long, doc_key long, text string"
    random.Random(3).shuffle(rows)
    tables = {}
    for parts in (1, 8):
        out = str(tmp_path / f"p{parts}")
        build_index(spark, spark.createDataFrame(rows, schema).repartition(parts), out, n_buckets=4)
        tables[parts] = {
            t: sorted(
                zip(*(pq.read_table(os.path.join(out, t)).column(c).to_pylist() for c in ("variant", "terms")))
            )
            for t in ("variants", "word_variants")
        }
    for t in ("variants", "word_variants"):
        lists = [terms for _, terms in tables[1][t]]
        assert sum(len(x) > 1 for x in lists) > 20, t  # lists with an order to get wrong
        assert all(x == sorted(x) for x in lists), t
        assert tables[1][t] == tables[8][t], t
