"""Full pipeline (stage 1 BM25 -> coverage/fusion rerank): behavioral
parity targets lifted from the reference's own test assertions
(ReferenceMatchingTests.cs, MovieSearchParityTests.cs)."""

import pytest

from infidex_spark.fixtures import REFERENCE_DOCS, movie_docs
from infidex_spark.kernel.engine import FullSearch, KernelIndex


@pytest.fixture(scope="module")
def ref_search():
    idx = KernelIndex()
    idx.index_documents(REFERENCE_DOCS)
    return FullSearch(idx)


@pytest.fixture(scope="module")
def movie_search():
    idx = KernelIndex()
    idx.index_documents(movie_docs())
    return FullSearch(idx)


def test_batman_top1(ref_search):
    res = ref_search.search("batman", 10)
    assert res[0][0] == 6


def test_qick_fux_exactly_5_then_1(ref_search):
    res = ref_search.search("qick fux", 10)
    assert [d for d, _, _ in res] == [5, 1]


def test_battamam_fallback_returns_6(ref_search):
    # coverage finds no lexical hits (lev(battamam,batman)=3) -> TF-IDF
    # backbone safety net (SearchPipeline.cs:184-198)
    res = ref_search.search("battamam", 10)
    assert len(res) == 1 and res[0][0] == 6


def test_gotham_city(ref_search):
    assert ref_search.search("gotham city", 10)[0][0] == 6


def test_shawshank_exact(movie_search):
    assert movie_search.search("Shawshank", 10)[0][0] == 1


def test_shaaawshank_typo_prefers_shawshank(movie_search):
    # the flagship rerank assertion: BM25 alone prefers the shorter
    # 'Shanks'; the fuzzy coverage stage must put The Shawshank
    # Redemption first (MovieSearchParityTests.Shaaawshank_Typo_*)
    res = movie_search.search("Shaaawshank", 10)
    assert res[0][0] == 1


def test_redemption_shank_prefers_shawshank(movie_search):
    res = movie_search.search("redemption shank", 10)
    assert res[0][0] == 1


def test_redemption_sh_type_ahead(movie_search):
    res = movie_search.search("redemption sh", 10)
    assert res[0][0] == 1


def test_dark_knight(movie_search):
    assert movie_search.search("dark knight", 10)[0][0] == 10


def test_goodfellas_typo(movie_search):
    res = movie_search.search("goodfelas", 10)
    assert res[0][0] == 12  # Goodfellas


def test_exact_title_ranks_over_partials(movie_search):
    res = movie_search.search("pulp fiction", 10)
    assert res[0][0] == 13


def test_short_query_passthrough(movie_search):
    # short path unchanged by the rerank wrapper
    res = movie_search.search("sh", 10)
    assert res and all(isinstance(d, int) for d, _, _ in res)


def test_empty_and_unknown(movie_search):
    assert movie_search.search("", 10) == []
    assert movie_search.search("zzzzqqqq", 10) == []


def test_scores_descending_fusion(movie_search):
    res = movie_search.search("redemption", 10)
    scores = [s for _, s, _ in res]
    assert scores == sorted(scores, reverse=True)


@pytest.fixture(scope="module")
def spark_rerankers(spark, tmp_path_factory):
    from infidex_spark.build.indexer import build_index
    from infidex_spark.query.executor import IndexReader
    from infidex_spark.query.rerank import RerankExecutor

    out = {}
    for name, docs in (("reference", REFERENCE_DOCS), ("movies", movie_docs())):
        d = str(tmp_path_factory.mktemp("rr") / name)
        df = spark.createDataFrame(
            [(i, key, text) for i, (key, text) in enumerate(docs)],
            "doc_id long, doc_key long, text string",
        )
        build_index(spark, df, d, n_buckets=4)
        out[name] = RerankExecutor(IndexReader(d))
    return out


RERANK_QUERIES = [
    ("reference", "batman"),
    ("reference", "qick fux"),
    ("reference", "battamam"),
    ("reference", "gotham city"),
    ("reference", "quick fox"),
    ("movies", "Shawshank"),
    ("movies", "Shaaawshank"),
    ("movies", "redemption shank"),
    ("movies", "redemption sh"),
    ("movies", "dark knight"),
    ("movies", "goodfelas"),
    ("movies", "pulp fiction"),
    ("movies", "sh"),
    ("movies", "a b"),
]


@pytest.mark.parametrize("corpus,query", RERANK_QUERIES)
def test_spark_rerank_matches_kernel_fullsearch(
    spark_rerankers, ref_search, movie_search, corpus, query
):
    ex = spark_rerankers[corpus]
    kern = ref_search if corpus == "reference" else movie_search
    got = ex.search(query, 10)
    want = kern.search(query, 10)
    assert [d for d, _, _ in got] == [d for d, _, _ in want], (query, got, want)
    for (_, gs, gt), (_, ws, wt) in zip(got, want):
        assert gs == pytest.approx(ws, rel=1e-5)
        assert gt == wt
    # a repeat replays the per-query feature cache: same list, bit for bit
    assert ex.search(query, 10) == got, query
