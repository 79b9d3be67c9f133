"""What a reader open builds, and what it leaves behind.

- The rerank's word IDF, computed as one float32 array expression, is
  bit-identical to kernel.bm25.compute_idf (the oracle).
- A reader dropped without close() is freed by reference counting, not
  by a cyclic GC pass: its point readers hold no reference back to it.
- The short-query meta columns mapped from the doc store mark a null
  tiny_text with a validity mask: a null never equals a query. Their
  '<U3' values compare with their lengths, so a trailing NUL is not
  ignored: the fast paths answer as the kernel's Python == does.
"""

from __future__ import annotations

import gc
import weakref

import numpy as np
import pytest

from infidex_spark.kernel.bm25 import compute_idf, compute_idf_array
from infidex_spark.kernel.engine import KernelIndex
from infidex_spark.query.executor import IndexReader, MultiReader, QueryExecutor
from infidex_spark.streaming.incremental import _segment_dirs


def _bits(xs) -> np.ndarray:
    return np.asarray(xs, dtype=np.float32).view(np.uint32)


def test_word_idf_array_matches_compute_idf(built, two_delta_index):
    """Bit equality with compute_idf over every word df of the fixtures'
    segments (at their own N and at the stitched N) and over df 1..N."""
    segments = [built, *_segment_dirs(two_delta_index)]
    n_all = MultiReader(two_delta_index).total_docs
    for seg in segments:
        r = IndexReader(seg)
        dfs = np.array(list(r.word_df_map(10**9).values()), dtype=np.int64)
        assert dfs.size
        for n in (r.total_docs, n_all):
            dfs_n = dfs[dfs <= n]
            want = [compute_idf(n, int(df)) for df in dfs_n]
            assert np.array_equal(_bits(compute_idf_array(n, dfs_n)), _bits(want)), (seg, n)
    for n in (1, 10, 1_000, 20_000, 21_000):
        dfs = np.arange(0, n + 2)
        want = [compute_idf(n, int(df)) for df in dfs]
        assert np.array_equal(_bits(compute_idf_array(n, dfs)), _bits(want)), n


def test_rerank_word_idf_equals_scalar_oracle(built):
    from infidex_spark.query.rerank import RerankExecutor

    rr = RerankExecutor(IndexReader(built))
    n = rr.r.total_docs
    want = {w: float(compute_idf(n, df)) for w, df in rr._words.items() if 0 < df <= n}
    assert rr.engine.word_idf == want
    rr.r.close()


def test_reader_is_freed_without_close(built, two_delta_index):
    """With the cyclic GC off, a used reader (handles open, row groups
    cached, read pool spawned) and a MultiReader's segment die at del."""
    gc.collect()
    gc.disable()
    try:
        r = IndexReader(built)
        r.prewarm_postings_meta()
        QueryExecutor(r).search("quick fox", 5)
        assert len(r._rg_cache)
        ref = weakref.ref(r)
        del r
        assert ref() is None

        mr = MultiReader(two_delta_index)
        mr.prewarm_postings_meta()
        QueryExecutor(mr).search("quick fox", 5)
        seg = weakref.ref(mr.readers[1])
        del mr
        assert seg() is None
    finally:
        gc.enable()


TINY_DOCS = [(1, "a"), (2, "ab"), (3, "abc def"), (4, "the quick fox"), (5, "ab c")]


@pytest.fixture(scope="module")
def tiny_index(spark, tmp_path_factory):
    from infidex_spark.build.indexer import build_index

    out = str(tmp_path_factory.mktemp("tiny_meta") / "idx")
    df = spark.createDataFrame(
        [(i, k, t) for i, (k, t) in enumerate(TINY_DOCS)],
        "doc_id long, doc_key long, text string",
    )
    build_index(spark, df, out, n_buckets=2)
    return out


def test_null_tiny_text_never_equals_a_query(tiny_index, built):
    """tiny_valid is the validity of the kernel's tiny_text
    (KernelIndex.doc_meta); a doc whose tiny_text is null matches no
    1-3 char query, "\\x00" included (the zeroed bytes of a null slot
    read as '' in '<U3', which numpy would call equal to "\\x00"), on
    the meta columns and on the 1-char scoring path."""
    from tests.conftest import REFERENCE_DOCS

    for index, docs in ((tiny_index, TINY_DOCS), (built, REFERENCE_DOCS)):
        r = IndexReader(index)
        meta = r.sq_meta()
        kidx = KernelIndex()
        kidx.index_documents(docs)
        # internal doc ids are the docs' positions in both indexes
        tiny = {i: t for i, (_, t) in enumerate(kidx.doc_meta)}
        assert meta["tiny_valid"].tolist() == [tiny[i] is not None for i in meta["ids"].tolist()]
        for q in ("\x00", "a", "ab", "abc", "t", "the"):
            hit = (meta["tiny"] == q) & meta["tiny_valid"] & (meta["tiny_len"] == len(q))
            assert meta["ids"][hit].tolist() == [i for i, t in sorted(tiny.items()) if t == q], q
        rows = r.short_query_rows("a")
        assert rows["tiny_valid"].tolist() == [tiny[i] is not None for i in rows["doc_id"].tolist()]
    assert not IndexReader(built).sq_meta()["tiny_valid"].any()
    # the title == query bit fires for key 1 ("a") only
    top = QueryExecutor(IndexReader(tiny_index))._short_query("a", 10)
    assert [d for d, s in top if int(s) & (8 << 8)] == [1]


NUL_DOCS = [(1, "a\x00"), (2, "a"), (3, "ab\x00 c"), (4, "ab c"), (5, "a\x00b")]


def test_trailing_nul_titles_answer_as_the_kernel(spark, tmp_path):
    """A title "a\\x00" does not equal the query "a", nor "a" the query
    "a\\x00" (numpy's '<U3' == says both do): the 1-char path
    (_short_query) and the _short_precedence path give the kernel's
    answers, scores included."""
    from infidex_spark.build.indexer import build_index

    out = str(tmp_path / "idx")
    df = spark.createDataFrame(
        [(i, k, t) for i, (k, t) in enumerate(NUL_DOCS)], "doc_id long, doc_key long, text string"
    )
    build_index(spark, df, out, n_buckets=2)
    kidx = KernelIndex()
    kidx.index_documents(NUL_DOCS)
    ex = QueryExecutor(IndexReader(out))
    for q in ("a", "a\x00", "ab", "ab\x00"):
        got, want = ex.search(q, 10), kidx.search(q, 10)
        assert [d for d, _ in got] == [d for d, _ in want], (q, got, want)
        assert [s for _, s in got] == pytest.approx([s for _, s in want], rel=1e-6), (q, got, want)
    top = ex._short_query("a", 10)
    assert [d for d, s in top if int(s) & (8 << 8)] == [2]
