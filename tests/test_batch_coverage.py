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


def _assert_batch_matches_scalar(got, eng, query, items):
    ctx_s = eng.prepare_query(query)
    for i, t in items:
        w = eng.calculate_features(ctx_s, t, 0)
        gd, gf = _features_tuple(got[i])
        wd, wf = _features_tuple(w)
        assert gd == wd and gf == wf, (query, t)


def test_batch_incremental_interner_growth(monkeypatch):
    """Tables are filled per batch for the batch's words only. Partial
    fills must stay exact when batches of two queries interleave on one
    BatchCoverage (query B meets ids query A's batch interned; A's
    second batch mixes words it filled, words only B's batch brought in
    and brand-new words), and after the interner-cap reset."""
    from infidex_spark.kernel.coverage import batch as B

    setup = CoverageConfig()
    eng = CoverageEngine(setup=setup, sizes=(3,), term_df=lambda t: 5,
                         total_docs=100)
    beng = CoverageEngine(setup=setup, sizes=(3,), term_df=lambda t: 5,
                          total_docs=100)
    bc = BatchCoverage(setup)
    qa, qb = "quick fox", "lazy dgo x"
    ctx_a = beng.prepare_query(qa)
    ctx_b = beng.prepare_query(qb)
    docs1 = {0: "quick brown fox", 1: "lazy dog", 2: "dgos quik x"}
    docs2 = {1: "lazy dog", 3: "dog lazy xylophone quicker", 4: "zzz qqq"}
    docs3 = {3: "dog lazy xylophone quicker", 5: "quicker foxes zebra",
             6: "quick fox", 0: "quick brown fox"}

    def run(ctx, query, docs):
        items = sorted(docs.items())
        got = bc.compute(beng, ctx, [(i, t, 0) for i, t in items])
        _assert_batch_matches_scalar(got, eng, query, items)

    run(ctx_a, qa, docs1)
    run(ctx_b, qb, docs2)  # ids 1/"lazy"/"dog" interned by A's batch
    run(ctx_a, qa, docs3)  # old, B-only and new words
    run(ctx_b, qb, {**docs1, **docs3})
    assert not ctx_a["btables"].filled.all()  # only the batches' words
    monkeypatch.setattr(B, "INTERNER_CAP", 5)
    old = bc.interner
    run(ctx_a, qa, {**docs2, 7: "fox quick"})
    assert bc.interner is not old  # the reset ran and A refilled


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


_ALPHA = "abcdeáčěřž😀"


def _vocab(rng: random.Random, tokens: list[str]) -> list[str]:
    """Words that hit every table: random words of 1-63 chars (diacritics
    and an astral char), a few of 64-200, repeated letters, and for each
    query token its prefixes, suffixes and substrings, and (tokens of at
    most 100 chars) adjacent swaps at the first/last/a random position,
    1-3 random edits, and typo'd prefixes with a tail (fuzzy-prefix
    material)."""
    def rand_word(n):
        return "".join(rng.choice(_ALPHA) for _ in range(n))

    def edit(w):
        k = rng.randrange(len(w) + 1)
        op = rng.randrange(3)
        c = rng.choice(_ALPHA)
        if op == 0 or not w:
            return w[:k] + c + w[k:]
        k = min(k, len(w) - 1)
        return w[:k] + (c if op == 1 else "") + w[k + 1 :]

    def swap(w, k):
        return w[:k] + w[k + 1] + w[k] + w[k + 2 :] if len(w) >= 2 else w

    words = [rand_word(rng.randint(1, 63)) for _ in range(600)]
    words += [rand_word(rng.randint(64, 200)) for _ in range(8)]
    words += [c * k for c in "ab" for k in range(1, 71)]
    for q in tokens:
        n = len(q)
        for k in range(1, n + 1):
            words += [q[:k], q[n - k :]]
        for _ in range(min(30, n)):
            a = rng.randrange(n)
            words.append(q[a : rng.randint(a + 1, n)])
        if n > 100:
            # the scalar reference is quadratic in the word length
            continue
        words += [swap(q, 0), swap(q, max(0, n - 2)), swap(q, rng.randrange(max(1, n - 1)))]
        words += [q + q[-1], q[0] + q]
        for _ in range(40):
            w = q
            for _ in range(rng.randint(1, 3)):
                w = edit(w)
            words.append(w)
            j = rng.randint(max(1, n - 1), n + 1)
            words.append(edit(q[:j]) + rand_word(rng.randint(1, 4)))
    return [w for w in words if w]


_TABLE_QUERIES = [
    "ab",  # special first-char rule (len 2)
    "abč",
    "ačbdeáb",  # single raw token >= 6: seg fragments on
    "abcde😀abř d",
    "ab😀cd bčdaeab abc a",  # ends in a 1-char token
    "a" * 500,
]


def _scalar_row(T, setup, w):
    """The per-word reference: every table entry from the scalar pair
    functions (the loop the bulk fill replaced)."""
    from infidex_spark.kernel.coverage.fusion import _stem_pair, _sts_token
    from infidex_spark.kernel.coverage.matchers import (
        _exact_affix_pair,
        _fuzzy_prefix_pair,
        _token_max_edits,
    )
    from infidex_spark.kernel.coverage.metrics import damerau_restricted

    wl = len(w)
    row = {}
    for i, q in enumerate(T.q_texts):
        ql = len(q)
        row["ex", i] = _exact_affix_pair(q, w)
        fp = (False, 0.0)
        if (ql >= 4 or (i == T.m - 1 and ql >= 2)) and ql < wl:
            fp = _fuzzy_prefix_pair(q, w)
        row["fp", i] = fp
        row["jp", i] = 0 < wl < ql and q.startswith(w)
        row["js", i] = 0 < wl < ql and q.endswith(w)
        tm, special = _token_max_edits(ql, setup)
        for tier in range(1, T.fu_global_max + 1):
            d = 255
            lo = max(setup.min_word_size, ql - tier)
            hi = min(setup.levenshtein_max_word_size, ql + tier, 63)
            if (
                ql >= setup.min_word_size
                and tier <= tm
                and not (special and tier != 1)
                and lo <= wl <= hi
                and not (special and w[0] != q[0])
            ):
                d = damerau_restricted(q, w, tier)
            row["fu", tier, i] = d
    qr = T.qr_texts
    last = qr[-1] if qr else ""
    first = qr[0] if qr else ""
    fs = [
        bool(last) and w.startswith(last),
        not any(w.startswith(q) or q.startswith(w) for q in qr),
        len(first) >= 3 and w.startswith(first[:3]),
    ]
    rows = [q for q in qr if len(q) >= T.min_stem]
    fs += [w == q or w.startswith(q) for q in rows]
    fs += [_stem_pair(q, w, T.min_stem) for q in rows]
    row["fstack"] = fs
    row["eq_last"] = bool(last) and w == last
    row["trail"] = T.do_trail and (
        w.startswith(last) or (wl > len(last) and last in w)
    )
    row["contains"] = [T.sc_applicable and q in w for q in qr]
    row["ss"] = _sts_token(first, w, len(first)) if T.do_ss and wl >= 2 else 0.0
    seg = (False, False)
    if T.seg is not None and wl >= 3:
        pf, sf = T.seg
        seg = (w.startswith(pf) or pf.startswith(w), w.endswith(sf) or sf.endswith(w))
    row["seg"] = seg
    return row


def _table_row(T, c):
    row = {}
    for i in range(T.m):
        row["ex", i] = (bool(T.ex_m[i, c]), float(T.ex_s[i, c]), bool(T.ex_p[i, c]))
        row["fp", i] = (bool(T.fp_m[i, c]), float(T.fp_s[i, c]))
        row["jp", i] = bool(T.jp_m[i, c])
        row["js", i] = bool(T.js_m[i, c])
        for tier in range(1, T.fu_global_max + 1):
            row["fu", tier, i] = int(T.fu_d[tier - 1][i, c])
    row["fstack"] = T.fstack[:, c].tolist()
    row["eq_last"] = bool(T.eq_last[c])
    row["trail"] = bool(T.trail[c])
    row["contains"] = T.contains_q[:, c].tolist()
    row["ss"] = float(T.ss_score[c])
    row["seg"] = (bool(T.seg_p[c]), bool(T.seg_s[c]))
    return row


@pytest.mark.parametrize("seed", [5, 6])
def test_query_tables_equal_scalar_pair_functions(seed):
    """Every table entry the bulk fill writes (Arrow predicates, the
    vectorized Myers pass, the >63-char scalar fallback) equals the
    scalar pair functions, for every filled word id. The vocabulary is
    filled in two partial batches so the grow/filled bookkeeping runs."""
    import numpy as np

    from infidex_spark.kernel.coverage import batch as B
    from infidex_spark.kernel.coverage.state import _raw_tokens

    rng = random.Random(seed)
    setup = CoverageConfig()
    eng = CoverageEngine(setup=setup, sizes=(3,), term_df=lambda t: 5,
                         total_docs=100)
    long_tok = [
        "".join(rng.choice(_ALPHA) for _ in range(n)) for n in (63, 64, 70)
    ]
    queries = _TABLE_QUERIES + long_tok + [" ".join(long_tok[:2]) + " ab"]
    for query in queries:
        toks = [t.text for t in _raw_tokens(query, 0)]
        vocab = list(dict.fromkeys(_vocab(rng, toks)))
        interner = B.WordInterner()
        ids = interner.intern_many(vocab)
        T = B.QueryTables(eng.prepare_query(query), setup, interner)
        half = len(ids) // 2
        T.ensure(ids[:half])
        more = interner.intern_many(["zz" + w for w in vocab[:50]])
        T.ensure(np.concatenate([ids[half // 2 :], more]))
        assert T.filled.sum() == len(ids) + len(more)
        for c, w in enumerate(interner.words):
            assert _table_row(T, c) == _scalar_row(T, setup, w), (query, w)
