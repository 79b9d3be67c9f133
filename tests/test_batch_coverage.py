"""Batch (cross-candidate) coverage == scalar cascade, bit for bit.

The scalar kernel (matchers.py/fusion.py) is the reference; the batch
module (kernel/coverage/batch.py) must produce identical CoverageFeatures
(every field) and identical fusion_calculate outputs for randomized
corpora covering every matcher: whole, joined (both directions), exact
and fuzzy affix, fuzzy tiers, stem evidence, trailing density,
single-term similarity, single-char last-token boost.
"""

from __future__ import annotations

import dataclasses
import random

import pytest

from infidex_spark.kernel.coverage.batch import BatchCoverage
from infidex_spark.kernel.coverage.config import CoverageConfig
from infidex_spark.kernel.coverage.engine import CoverageEngine
from infidex_spark.kernel.coverage.fusion_scorer import fusion_calculate
from infidex_spark.kernel.coverage.metrics import lcs_tolerant

WORDS = [
    "quick", "quik", "brown", "fox", "foxes", "jumps", "jump", "over",
    "lazy", "dog", "dogs", "the", "a", "of", "redemption", "shawshank",
    "shank", "shanks", "red", "emption", "batman", "batmans", "gotham",
    "city", "knight", "dark", "darkknight", "kn", "ni", "x", "y",
    "quickfox", "redemptionshank", "ab", "ba", "abc", "acb",
]

QUERIES = [
    "quick fox",
    "quik fxo",
    "redemption shank",
    "redemption sh",
    "shawshank",
    "shaaawshank",
    "dark knight",
    "darkknight",
    "batman",
    "batmn",
    "the quick brown fox jumps",
    "quickfox",
    "red emption",
    "fox x",
    "lazy dog x",
    "abc",
    "ab",
    "a b",
    "gotham city k",
    "sh",
]


def _mk_docs(seed: int, n: int) -> list[str]:
    rng = random.Random(seed)
    docs = []
    for _ in range(n):
        k = rng.randint(1, 14)
        words = [rng.choice(WORDS) for _ in range(k)]
        # occasional punctuation-delimited and duplicated tokens
        sep = rng.choice([" ", " ", " ", ", ", "-", "  "])
        docs.append(sep.join(words))
    docs.append("")  # empty doc
    docs.append("the the the the")  # all-duplicate doc
    return docs


def _features_tuple(f):
    d = dataclasses.asdict(f)
    fus = d.pop("fusion")
    return d, fus


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_batch_equals_scalar_features(seed):
    docs = _mk_docs(seed, 60)
    setup = CoverageConfig()
    term_df = lambda t: (hash(t) % 50) + 1  # deterministic fake df  # noqa: E731
    word_idf = {w: 1.0 + (hash(w) % 7) / 3.0 for w in WORDS}
    eng = CoverageEngine(
        setup=setup, sizes=(3,), term_df=term_df, total_docs=1000,
        word_idf=word_idf,
    )
    batch_eng = CoverageEngine(
        setup=setup, sizes=(3,), term_df=term_df, total_docs=1000,
        word_idf=word_idf,
    )
    bc = BatchCoverage(setup)
    for query in QUERIES:
        ctx_s = eng.prepare_query(query)
        ctx_b = batch_eng.prepare_query(query)
        tol = 0
        if len(query) >= setup.coverage_q_limit_for_error_tolerance:
            tol = int(len(query) * setup.coverage_lcs_error_tolerance_relative_q)
        items = []
        want = []
        for i, text in enumerate(docs):
            lcs = min(lcs_tolerant(query, text, tol), 255)
            items.append((i, text, lcs))
            want.append(eng.calculate_features(ctx_s, text, lcs))
        got_map = bc.compute(batch_eng, ctx_b, items)
        for (i, text, lcs), w in zip(items, want):
            g = got_map[i]
            gd, gf = _features_tuple(g)
            wd, wf = _features_tuple(w)
            assert gd == wd, (query, text, gd, wd)
            assert gf == wf, (query, text, gf, wf)
            if w.fusion is None:
                # empty query token set: both paths return bare features
                # (rerank never scores these — can_ngrams guards upstream)
                assert g.fusion is None
                continue
            # final fusion scores must agree bit-exactly too
            for base in (0.0, 0.5, 1.0):
                assert fusion_calculate(query, text, g, base, setup.min_word_size) == \
                    fusion_calculate(query, text, w, base, setup.min_word_size)


def test_batch_incremental_interner_growth():
    """Second batch with new words must extend the tables, not corrupt
    results for previously seen words."""
    setup = CoverageConfig()
    eng = CoverageEngine(setup=setup, sizes=(3,), term_df=lambda t: 5,
                         total_docs=100)
    beng = CoverageEngine(setup=setup, sizes=(3,), term_df=lambda t: 5,
                          total_docs=100)
    bc = BatchCoverage(setup)
    q = "quick fox"
    docs1 = ["quick brown fox", "lazy dog"]
    docs2 = ["quicker foxes zebra", "quick fox", "zzz qqq"]
    ctx_b = beng.prepare_query(q)
    bc.compute(beng, ctx_b, [(i, t, 0) for i, t in enumerate(docs1)])
    got = bc.compute(
        beng, ctx_b, [(100 + i, t, 0) for i, t in enumerate(docs2)]
    )
    ctx_s = eng.prepare_query(q)
    for i, t in enumerate(docs2):
        w = eng.calculate_features(ctx_s, t, 0)
        gd, gf = _features_tuple(got[100 + i])
        wd, wf = _features_tuple(w)
        assert gd == wd and gf == wf, t


@pytest.mark.parametrize("seed", [11, 12])
def test_fusion_batch_equals_scalar(seed):
    """fusion_calculate_batch == fusion_calculate bit for bit over
    randomized synthetic feature vectors covering every branch:
    single/multi-term, dominance, strong anchor, stem evidence, partial
    coverage blends, trailing density, zero denominators."""
    from infidex_spark.kernel.coverage.fusion import FusionSignals
    from infidex_spark.kernel.coverage.fusion_scorer import (
        fusion_calculate_batch,
    )
    from infidex_spark.kernel.coverage.scorer import CoverageFeatures

    rng = random.Random(seed)
    feats_list = []
    texts = []
    bases = []
    query = "abcde fghij"
    for _ in range(400):
        tc = rng.randint(0, 5)
        f = CoverageFeatures(terms_count=tc)
        f.terms_with_any_match = rng.randint(0, tc) if tc else 0
        f.terms_prefix_matched = rng.randint(0, tc) if tc else 0
        f.terms_strict_matched = rng.randint(0, tc) if tc else 0
        f.first_match_index = rng.choice([-1, 0, 1, 5])
        f.preceding_strict_count = rng.randint(0, max(0, tc - 1))
        f.last_token_has_prefix = rng.random() < 0.5
        f.doc_token_count = rng.choice([0, 1, 3, 10])
        f.word_hits = rng.randint(0, 12)
        f.longest_prefix_run = rng.randint(0, 4)
        f.suffix_prefix_run = rng.randint(0, 4)
        f.sum_ci = rng.random() * tc if tc else 0.0
        f.idf_coverage = rng.random()
        f.total_idf = rng.choice([0.0, rng.random() * 8.0])
        f.missing_idf = rng.random() * 3.0
        f.last_term_is_type_ahead = rng.random() < 0.3
        if tc and rng.random() < 0.7:
            f.term_idf = [rng.random() * 4.0 for _ in range(tc)]
            f.term_ci = [rng.random() for _ in range(tc)]
        elif tc and rng.random() < 0.5:
            f.term_idf = [rng.random() * 4.0 for _ in range(tc)]
            f.term_ci = None
        fs = FusionSignals(
            unfiltered_query_token_count=rng.choice([0, 1, 2, tc, tc + 1]),
            lexical_prefix_last=rng.random() < 0.5,
            is_perfect_doc_lexical=rng.random() < 0.3,
            has_stem_evidence=rng.random() < 0.3,
            has_anchor_stem=rng.random() < 0.3,
            trailing_match_density=rng.choice([0, 1, 100, 255]),
            single_term_lexical_sim=rng.choice([0, 50, 255]),
            single_char_last_token_boost=rng.choice([0, 8, 20]),
        )
        f.fusion = fs
        feats_list.append(f)
        texts.append("x" * rng.choice([0, 1, 7, 40]))
        bases.append(rng.choice([0.0, 0.2, 0.5, 1.0]))

    got = fusion_calculate_batch(
        len(query), [len(t) for t in texts], feats_list, bases
    )
    for f, t, b, g in zip(feats_list, texts, bases, got):
        w = fusion_calculate(query, t, f, b, 3)
        assert g == w, (f, t, b, g, w)


@pytest.mark.parametrize("seed", [11, 12])
def test_cascade_all_equals_scalar_cascade(seed):
    """Direct shim-level equality: the candidate-vectorized _cascade_all
    must reproduce the per-candidate _cascade field for field (before
    any final-score rounding could mask a drift), including candidates
    routed through the doc-bigram (jd) scalar path."""
    from infidex_spark.kernel.coverage import batch as B

    docs = _mk_docs(seed, 80)
    # force doc-bigram-join material into the corpus
    docs += ["red emption shank", "quick fox darkknight", "dark knight"]
    setup = CoverageConfig()
    term_df = lambda t: (hash(t) % 50) + 1  # noqa: E731
    word_idf = {w: 1.0 + (hash(w) % 7) / 3.0 for w in WORDS}
    eng = CoverageEngine(
        setup=setup, sizes=(3,), term_df=term_df, total_docs=1000,
        word_idf=word_idf,
    )
    bc = BatchCoverage(setup)
    for query in ["redemption shank", "quick fox", "darkknight", "quik fxo",
                  "the quick brown fox jumps", "red emption"]:
        ctx = eng.prepare_query(query)
        if not ctx["tokens"]:
            continue
        views = B.build_views(bc.interner, docs, setup.min_word_size)
        T = B.QueryTables(ctx, setup, bc.interner)
        idfs = ctx["idfs"]
        P = B._Probes(T, views)
        got = B._cascade_all(views, T, setup, idfs, {}, P)
        for k, v in enumerate(views):
            want = B._cascade(
                v, T, setup, idfs, {}, P.ex[k], P.fp[k], P.fu, k,
                bool(P.jd[k]),
            )
            for f in B._StateShim.__slots__:
                g, w = getattr(got[k], f), getattr(want, f)
                assert g == w, (query, docs[k], f, g, w)


def test_batch_feats_cache_wipe_mid_query(spark, tmp_path):
    """The per-query feature cache is wiped at 100k entries. The batch
    path reads ctx_feats[i] for EVERY candidate after computing only the
    uncached ones — a wipe triggered by the new items must re-seed the
    cached candidates this query still needs (ADVICE r5: latent KeyError
    when a query's cache crossed 100k between searches)."""
    from infidex_spark.build.indexer import build_index
    from infidex_spark.fixtures import REFERENCE_DOCS
    from infidex_spark.query.executor import IndexReader
    from infidex_spark.query.rerank import RerankExecutor

    d = str(tmp_path / "wipe")
    df = spark.createDataFrame(
        [(i, key, text) for i, (key, text) in enumerate(REFERENCE_DOCS)],
        "doc_id long, doc_key long, text string",
    )
    build_index(spark, df, d, n_buckets=4)
    rb = RerankExecutor(IndexReader(d))
    q = "gotham city"
    want = rb.search(q, 10)
    assert want, "query must produce candidates"
    # the engine caches one ctx per (normalized) query string
    ctxs = rb.engine._ctx_cache
    assert len(ctxs) == 1
    feats = next(iter(ctxs.values()))["feats_by_id"]
    assert len(feats) >= 2, "need cached candidates to survive the wipe"
    # evict ONE real candidate (forces a non-empty batch `items`) and
    # inflate the cache past the wipe threshold with ids no candidate
    # can collide with (internal ids are non-negative)
    evicted = next(iter(feats))
    del feats[evicted]
    for j in range(100_000):
        feats[-(j + 1)] = (None, 0, "")
    got = rb.search(q, 10)  # pre-fix: KeyError on a cached candidate
    assert got == want
    # the wipe ran: dummies are gone, this query's candidates remain
    leftover = next(iter(ctxs.values()))["feats_by_id"]
    assert all(i >= 0 for i in leftover)
