"""Postings point-read path: the keyed point reader's term dictionary.

fetch_terms routes each term to its bucket and pins its exact (file, row
group) with the bucket's sorted in-RAM term column (the columnar
analogue of the reference's FST term dictionary pointing into the
postings region); past the reader's budget a bucket keeps its row
groups' footer [min, max] intervals instead. These tests pin its
contract: parity with a plain filtered dataset scan, negative caching,
the same answers from wm_word_docs/fetch_prefix/fetch_terms in both
modes, and that freshly built bucket files really are term-sorted
(partitionBy would silently destroy the sort if the sort keys did not
lead with the partition column — see build/indexer.py)."""

import glob
import os

import numpy as np
import pyarrow.dataset as ds
import pyarrow.parquet as pq
import pytest

from tests.conftest import REFERENCE_DOCS


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    from infidex_spark.build.indexer import build_index

    d = str(tmp_path_factory.mktemp("fetch") / "idx")
    docs = [(i, key, text) for i, (key, text) in enumerate(REFERENCE_DOCS)]
    df = spark.createDataFrame(docs, "doc_id long, doc_key long, text string")
    build_index(spark, df, d, n_buckets=4)
    return d


def _scan_reference(r, terms):
    """The same rows from one filtered dataset scan."""
    from infidex_spark.query.executor import term_bucket

    buckets = sorted({term_bucket(t, r.n_buckets) for t in terms})
    cols = ["term", "df", "n_docs", "payload", "weights",
            "block_last_doc", "block_max_w", "block_offsets"]
    flt = ds.field("bucket").isin(buckets) & ds.field("term").isin(terms)
    postings = ds.dataset(os.path.join(r.index_dir, "postings"), partitioning="hive")
    tbl = postings.to_table(columns=cols, filter=flt)
    out = {}
    for i in range(tbl.num_rows):
        out[tbl["term"][i].as_py()] = (
            tbl["df"][i].as_py(),
            tbl["n_docs"][i].as_py(),
            tbl["payload"][i].as_py(),
            tbl["weights"][i].as_py(),
            tuple(tbl["block_last_doc"][i].as_py()),
            tuple(tbl["block_max_w"][i].as_py()),
            tuple(tbl["block_offsets"][i].as_py()),
        )
    return out


def _materialize(tps):
    return {
        t: (
            tp.df,
            tp.n_docs,
            tp._payload,
            tp._weights,
            tuple(np.asarray(tp.block_last_doc).tolist()),
            tuple(np.asarray(tp.block_max_w).tolist()),
            tuple(np.asarray(tp._block_offsets).tolist()),
        )
        for t, tp in tps.items()
    }


def test_bucket_files_are_term_sorted(built):
    files = sorted(set(glob.glob(built + "/postings/bucket=*/*.parquet")))
    assert files
    for f in files:
        terms = pq.read_table(f, columns=["term"])["term"].to_pylist()
        assert terms == sorted(terms), f


def test_fetch_parity_with_dataset_scan(built):
    from infidex_spark.query.executor import IndexReader

    r = IndexReader(built)
    terms = ["qui", "uic", "ick", "fox", "bat", "the", "gol", "ld "]
    want = _scan_reference(r, terms)
    assert want, "probe terms must exist in the corpus"
    got = _materialize(r.fetch_terms(terms))
    assert got == want
    # dtype contract for the vectorized block-array extraction
    tp = r.fetch_terms(["the"])["the"]
    for a in (tp.block_last_doc, tp.block_max_w, tp._block_offsets):
        assert np.asarray(a).dtype == np.int64
    # cached repeat returns identical objects
    again = r.fetch_terms(terms)
    assert all(again[t] is r._term_cache[t] for t in again)


def test_fetch_negative_cache_and_partial_hits(built):
    from infidex_spark.query.executor import _TERM_MISS, IndexReader

    r = IndexReader(built)
    out = r.fetch_terms(["zzz", "qqq", "fox"])
    assert set(out) == {"fox"}
    assert r._term_cache["zzz"] is _TERM_MISS
    assert r._term_cache["qqq"] is _TERM_MISS
    # the negative cache answers without new reads
    assert set(r.fetch_terms(["zzz", "fox"])) == {"fox"}


def test_stats_mode_parity(built, monkeypatch):
    """A zero budget keeps footer [min, max] intervals for every bucket
    (the huge-vocabulary mode): fetch_terms, wm_word_docs and
    fetch_prefix answer exactly as with the sorted term columns."""
    from infidex_spark.query.executor import IndexReader, _KeyedPointReader

    terms = ["qui", "fox", "bat", "the", "gol", "zzz"]
    words = ["quick", "fox", "batman", "the", "city", "zzzz"]
    prefixes = ["q", "qu", "fo", "bat", "zz"]

    def answers():
        r = IndexReader(built)
        r.prewarm_postings_meta()
        wm = r.wm_word_docs(words)
        pfx = {p: r.fetch_prefix(p) for p in prefixes}
        return (
            r,
            _materialize(r.fetch_terms(terms)),
            {w: ids.tolist() for w, ids in wm.items()},
            {p: (n, None if ids is None else ids.tolist()) for p, (n, ids) in pfx.items()},
        )

    exact_r, *exact = answers()
    assert exact_r._postings_point._rows_left < _KeyedPointReader.MAX_ROWS
    monkeypatch.setattr(_KeyedPointReader, "MAX_ROWS", 0)
    stats_r, *stats = answers()
    assert stats_r._postings_point._rows_left == 0  # no key column loaded
    assert stats == exact
    got_terms, got_wm, got_pfx = stats
    assert set(got_terms) == set(terms) - {"zzz"}
    assert set(got_wm) == set(words) - {"zzzz"}
    assert got_pfx["zz"] == (0, None)
    assert all(got_pfx[p][0] > 0 for p in ("q", "qu", "fo", "bat"))
