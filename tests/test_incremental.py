"""Incremental indexing: delta segments, multi-segment query, tombstones,
compaction, and streaming ingest via foreachBatch."""

import os

import pytest

from infidex_spark.build.indexer import build_index
from infidex_spark.kernel.engine import KernelIndex
from infidex_spark.query.executor import IndexReader, MultiReader, QueryExecutor
from infidex_spark.streaming.incremental import (
    append_delta,
    delete_docs,
    merge_segments,
    next_doc_id,
    stream_ingest,
)
from tests.conftest import BATCH1, BATCH2, BATCH3, TWO_DELTA_DELETED

QUERIES = ["batman", "quick fox", "qick fux", "city", "the"]


@pytest.fixture(scope="module")
def incremental_index(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("inc") / "idx")
    df1 = spark.createDataFrame(
        [(i, k, t) for i, (k, t) in enumerate(BATCH1)],
        "doc_id long, doc_key long, text string",
    )
    build_index(spark, df1, out, n_buckets=4)
    assert next_doc_id(out) == 5
    df2 = spark.createDataFrame(BATCH2, "doc_key long, text string")
    append_delta(spark, df2, out, batch_id=1, n_buckets=4)
    assert next_doc_id(out) == 10
    return out


def _kernel_all(docs=BATCH1 + BATCH2):
    idx = KernelIndex()
    idx.index_documents(docs)
    return idx


@pytest.mark.parametrize("query", QUERIES)
def test_multi_segment_matches_single_kernel(incremental_index, query):
    """Main+delta must rank like one kernel index over all docs, modulo
    global-df semantics (identical here: doc sets are disjoint)."""
    ex = QueryExecutor(MultiReader(incremental_index))
    got = ex.search(query, 10)
    want = _kernel_all().search(query, 10)
    assert [d for d, _ in got] == [d for d, _ in want], (query, got, want)


SHORT_QUERIES = ["fo", "ba", "th", "a b", "qz", "t o", "sp", "xq", "f", "a"]


@pytest.mark.parametrize("query", SHORT_QUERIES)
def test_multi_segment_short_query_matches_kernel(
    incremental_index, two_delta_index, query
):
    """1-3 char queries over main+delta, and over main+two deltas with a
    tombstone in each segment, rank and score like one kernel index
    over all docs with the deleted keys dropped from its answer (short
    scores anchor to the full corpus, so survivors keep theirs; runs
    before the tombstone test below). The stitched sq_meta precedence
    path gives the same answer as the doc_title_rows path."""
    cases = (
        (incremental_index, BATCH1 + BATCH2, ()),
        (two_delta_index, BATCH1 + BATCH2 + BATCH3, TWO_DELTA_DELETED),
    )
    for index, docs, deleted in cases:
        reader = MultiReader(index)
        assert reader.sq_meta() is not None
        got = QueryExecutor(reader).search(query, 10)
        deep = _kernel_all(docs).search(query, 10 + len(deleted))
        want = [(d, s) for d, s in deep if d not in deleted][:10]
        assert [d for d, _ in got] == [d for d, _ in want], (index, query, got, want)
        for (_, gs), (_, ws) in zip(got, want):
            assert gs == pytest.approx(ws, rel=1e-6), (index, query, got, want)
        slow = MultiReader(index)
        slow._sq_meta = {}  # sq_meta() -> None: the doc_title_rows path
        assert slow.sq_meta() is None
        assert QueryExecutor(slow).search(query, 10) == got, (index, query)


def _one_char_oracle(reader, kidx, q: str, k: int) -> list[tuple[int, float]]:
    """The scalar 1-char path: kernel short_query_score per
    prefix_postings row, then segmenter.consolidate, over rows whose
    n_tokens/tiny_text come from kidx, a KernelIndex over the same docs
    (KernelIndex.doc_meta), not from the reader."""
    from infidex_spark.build.segmenter import consolidate
    from infidex_spark.kernel.engine import short_query_score

    meta = dict(zip(kidx.doc_keys, kidx.doc_meta))
    rows = reader.short_query_rows(q)
    if not rows:
        return []
    hits = []
    for i in range(rows["doc_id"].size):
        key = int(rows["doc_key"][i])
        if key in reader.tombstones:
            continue
        score = short_query_score(
            q,
            int(rows["first_pos"][i]),
            int(rows["n_ws"][i]),
            int(rows["n_exact"][i]),
            bool(rows["first_exact"][i]),
            *meta[key],
        )
        hits.append((key, float(score)))
    return consolidate(hits, k)


# 1-3 char titles set the title == query bit (tiny_text); one is
# tombstoned below
TINY_DOCS = [(1, "a"), (2, "a b"), (3, "ab"), (4, "b"), (5, "abc d"), (6, "A"), (7, "x"), (8, "b a")]


def test_one_char_scoring_matches_scalar_oracle(spark, tmp_path, built, two_delta_index):
    """1-char queries score their prefix_postings rows as arrays: every
    1-char prefix of the corpus (and a few absent chars), at k = 1, 10
    and 100, on one segment, on main + two deltas with a tombstone in
    each, and on one segment of 1-3 char titles with a tombstone,
    equals the scalar oracle."""
    from tests.conftest import REFERENCE_DOCS

    tiny = str(tmp_path / "tiny")
    df = spark.createDataFrame(
        [(i, k, t) for i, (k, t) in enumerate(TINY_DOCS)],
        "doc_id long, doc_key long, text string",
    )
    build_index(spark, df, tiny, n_buckets=2)
    chars = sorted({c for _, t in REFERENCE_DOCS + BATCH3 for c in t.lower() if c.isalnum()})
    assert len(chars) > 20
    cases = (
        (built, IndexReader, REFERENCE_DOCS, ()),
        (two_delta_index, MultiReader, BATCH1 + BATCH2 + BATCH3, ()),
        (tiny, IndexReader, TINY_DOCS, (8,)),
    )
    for index, reader_cls, docs, tomb in cases:
        fast = reader_cls(index)
        assert fast.sq_meta() is not None
        if tomb:
            fast.tombstones = frozenset(tomb)
        kidx = _kernel_all(docs)
        for q in chars + ["0", "q", "x", "é"]:
            for k in (1, 10, 100):
                want = _one_char_oracle(fast, kidx, q, k)
                got = QueryExecutor(fast)._short_query(q, k)
                assert got == want, (index, q, k)
                assert QueryExecutor(fast).search(q, k) == want, (index, q, k)
    # the title == query bit (8 << 8) fired, and the tombstoned key is gone
    top = QueryExecutor(IndexReader(tiny))._short_query("b", 10)
    assert any(int(s) & (8 << 8) for _, s in top) and 8 in {d for d, _ in top}
    assert 8 not in {d for d, _ in QueryExecutor(fast)._short_query("b", 10)}


def test_multireader_sq_meta_is_stitched(two_delta_index):
    """MultiReader.sq_meta() is the segments' columns in segment order:
    ids strictly increasing over every doc of the three segments; a
    reader whose segments' id spaces are out of order refuses to
    stitch."""
    import numpy as np

    mr = MultiReader(two_delta_index)
    meta = mr.sq_meta()
    assert meta is not None and mr.sq_meta() is meta  # cached
    ids = meta["ids"]
    assert ids.tolist() == list(range(len(BATCH1 + BATCH2 + BATCH3)))
    assert bool(np.all(ids[1:] > ids[:-1]))
    parts = [r.sq_meta() for r in mr.readers]
    assert len(parts) == 3
    for col in meta:
        assert meta[col].tolist() == np.concatenate([p[col] for p in parts]).tolist(), col
    mr = MultiReader(two_delta_index)
    mr.readers = mr.readers[::-1]
    with pytest.raises(ValueError, match="disjoint and ascending"):
        mr.sq_meta()


def test_multireader_title_rows_keep_words_text(incremental_index):
    """A segment holding none of the requested docs must not turn the
    merged words_text map into None: ids 0 and 1 live in the main
    segment only, and the delta segment contributes empty dicts."""
    texts, wtexts = MultiReader(incremental_index).doc_title_rows([0, 1])
    assert isinstance(wtexts, dict) and sorted(wtexts) == [0, 1]
    assert sorted(texts) == [0, 1]
    assert wtexts[0].startswith(" the quick ")


@pytest.mark.parametrize("stale", ["main", "delta"])
def test_old_format_version_is_refused(incremental_index, tmp_path, stale):
    """Readers refuse an index whose manifest carries another
    format_version, naming the fix, instead of misreading old layouts."""
    import json
    import shutil

    out = str(tmp_path / "old")
    shutil.copytree(incremental_index, out)
    seg = out if stale == "main" else os.path.join(out, "deltas", "delta_000001")
    path = os.path.join(seg, "MANIFEST.json")
    with open(path) as f:
        manifest = json.load(f)
    # 2: before the manifest declared its layout; 3: before one sq_topk
    # table held every stored short-query answer; 4: before the key
    # dictionaries and the doc store's short-query columns; 5: before the
    # doc store held every per-doc column (and doc_meta was deleted)
    for version in (1, 2, 3, 4, 5):
        manifest["format_version"] = version
        with open(path, "w") as f:
            json.dump(manifest, f)
        with pytest.raises(ValueError, match="rebuild"):
            IndexReader(seg)
        with pytest.raises(ValueError, match="rebuild"):
            MultiReader(out)


def test_multireader_merge_preserves_lazy_decode(incremental_index):
    """fetch_terms over main+delta returns a composite whose per-segment
    parts stay ENCODED: a small lookup block-decodes only what it
    touches instead of forcing a full decode at merge time, and the
    composite's results equal the eagerly merged arrays."""
    import numpy as np

    mr = MultiReader(incremental_index)
    # 'the' appears in both batches -> composite over two segments
    tp = mr.fetch_terms(["the"])["the"]
    from infidex_spark.query.executor import CompositeTermPostings

    assert isinstance(tp, CompositeTermPostings)
    assert all(not p.is_decoded for p in tp.parts), "parts decoded eagerly"
    probe = np.array([0, 7], dtype=np.int64)  # one id per segment
    hit, tf = tp.lookup(probe)
    # the composite never concatenates at merge/lookup time (parts may
    # still choose a full decode adaptively when probes touch most of
    # their tiny block set — that is per-part policy, not merge cost)
    assert tp._doc_ids is None, "lookup materialized the merged arrays"
    # equivalence with the full decode
    ids, tfs = tp.doc_ids, tp.tfs
    assert np.all(np.diff(ids) > 0)  # disjoint ascending segment ranges
    exp_hit = np.isin(probe, ids)
    assert hit.tolist() == exp_hit.tolist()
    pos = np.searchsorted(ids, probe[exp_hit])
    assert tf.tolist() == tfs[pos].tolist()
    assert tp.df == sum(p.df for p in tp.parts)
    assert tp.block_last_doc.size == sum(p.block_last_doc.size for p in tp.parts)


def test_tombstones_hide_docs(incremental_index):
    ex = QueryExecutor(MultiReader(incremental_index))
    assert ex.search("batman", 10)[0][0] == 6
    delete_docs(incremental_index, [6])
    ex2 = QueryExecutor(MultiReader(incremental_index))
    res = ex2.search("batman", 10)
    assert all(d != 6 for d, _ in res)
    delete_docs(incremental_index, [])  # idempotent append keeps 6 deleted
    assert 6 in QueryExecutor(MultiReader(incremental_index)).r.tombstones


def test_merge_segments_compacts(incremental_index, spark, tmp_path):
    out = str(tmp_path / "merged")
    source = spark.createDataFrame(BATCH1 + BATCH2, "doc_key long, text string")
    merge_segments(spark, incremental_index, out, docs_source=source, n_buckets=4)
    ex = QueryExecutor(IndexReader(out))
    # doc 6 was tombstoned above -> gone after compaction
    res = ex.search("batman", 10)
    assert all(d != 6 for d, _ in res)
    # everything else still matches the kernel built without doc 6
    k = KernelIndex()
    k.index_documents([(d, t) for d, t in BATCH1 + BATCH2 if d != 6])
    for q in QUERIES:
        got = [d for d, _ in ex.search(q, 10)]
        want = [d for d, _ in k.search(q, 10)]
        assert got == want, q


def test_stream_ingest(spark, tmp_path):
    out = str(tmp_path / "sidx")
    ckpt = str(tmp_path / "ckpt")
    src_dir = str(tmp_path / "src")
    df1 = spark.createDataFrame(
        [(i, k, t) for i, (k, t) in enumerate(BATCH1)],
        "doc_id long, doc_key long, text string",
    )
    build_index(spark, df1, out, n_buckets=4)
    spark.createDataFrame(BATCH2, "doc_key long, text string").write.parquet(src_dir)
    stream = spark.readStream.schema("doc_key long, text string").parquet(src_dir)
    q = stream_ingest(spark, stream, out, ckpt, n_buckets=4)
    q.awaitTermination(120)
    ex = QueryExecutor(MultiReader(out))
    want = _kernel_all().search("batman", 10)
    got = ex.search("batman", 10)
    assert [d for d, _ in got] == [d for d, _ in want]


def test_batch_search_matches_executor(spark, incremental_index):
    """Distributed batch mode must agree with the driver executor on docs
    the executor returns (batch scores the full disjunction, a superset)."""
    from infidex_spark.query.batch import batch_search

    reader = IndexReader(incremental_index)  # main segment only
    ex = QueryExecutor(reader)
    queries = [(0, "quick fox", 5), (1, "journey miles", 5), (2, "glitters", 5)]
    out = batch_search(spark, reader, queries).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append((r.doc_key, r.score))
    for qid, text, k in queries:
        single = ex.search(text, k)
        batch = by_q.get(qid, [])
        # executor candidates are a subset: every executor hit must appear
        # in batch mode with the same score and relative order
        batch_rank = {d: i for i, (d, _) in enumerate(batch)}
        batch_score = dict(batch)
        prev = -1
        for d, s in single:
            assert d in batch_rank, (qid, d, batch)
            assert batch_score[d] == pytest.approx(s, rel=1e-5)
            assert batch_rank[d] > prev
            prev = batch_rank[d]


def test_rerank_over_multireader(spark, tmp_path):
    """The full coverage/fusion rerank runs over main+delta segments and
    matches a single kernel index over all docs (rank + scores)."""
    from infidex_spark.kernel.engine import FullSearch
    from infidex_spark.query.rerank import RerankExecutor
    from infidex_spark.streaming.incremental import delete_docs

    out = str(tmp_path / "rr_idx")
    df1 = spark.createDataFrame(
        [(i, k, t) for i, (k, t) in enumerate(BATCH1)],
        "doc_id long, doc_key long, text string",
    )
    build_index(spark, df1, out, n_buckets=4)
    df2 = spark.createDataFrame(BATCH2, "doc_key long, text string")
    append_delta(spark, df2, out, batch_id=1, n_buckets=4)

    rr = RerankExecutor(MultiReader(out))
    fs = FullSearch(_kernel_all())
    for q in ["batman", "quick fox", "qick fux", "speedng bullet", "wonder woman"]:
        kern = fs.search(q, 5)
        got = rr.search(q, 5)
        assert [k for k, _, _ in got] == [k for k, _, _ in kern], q
        for (gk, gs, gt), (kk, ks, kt) in zip(got, kern):
            assert gs == pytest.approx(ks, rel=1e-6) and gt == kt, (q, gk)

    # soft deletes: tombstoned docs never surface through the rerank
    delete_docs(out, [6])
    rr2 = RerankExecutor(MultiReader(out))
    keys = [k for k, _, _ in rr2.search("batman", 5)]
    assert 6 not in keys


def _doc_ids_by_key(seg: str) -> dict[int, int]:
    import pandas as pd

    stats = pd.read_parquet(os.path.join(seg, "doc_stats"))
    return dict(zip(stats["doc_key"].tolist(), stats["doc_id"].tolist()))


def test_dense_ids_follow_doc_key_rank(spark, tmp_path):
    """append_delta and merge_segments assign doc_id = base + rank(doc_key)
    on an input of several partitions whose doc_keys arrive shuffled and
    non-contiguous."""
    import random

    out = str(tmp_path / "idx")
    df1 = spark.createDataFrame(
        [(i, k, t) for i, (k, t) in enumerate(BATCH1)],
        "doc_id long, doc_key long, text string",
    )
    build_index(spark, df1, out, n_buckets=4)
    keys = random.Random(5).sample(range(100, 100_000), 23)
    texts = [f"doc {k} holds word{k % 7} and text" for k in keys]
    delta = spark.createDataFrame(
        list(zip(keys, texts)), "doc_key long, text string"
    ).repartition(3)
    assert delta.rdd.getNumPartitions() == 3
    append_delta(spark, delta, out, batch_id=1, n_buckets=4)
    got = _doc_ids_by_key(os.path.join(out, "deltas", "delta_000001"))
    assert got == {k: 5 + r for r, k in enumerate(sorted(keys))}
    merged = str(tmp_path / "merged")
    source = spark.createDataFrame(
        BATCH1 + list(zip(keys, texts)), "doc_key long, text string"
    ).repartition(3)
    merge_segments(spark, out, merged, docs_source=source, n_buckets=4)
    all_keys = sorted([k for k, _ in BATCH1] + keys)
    assert _doc_ids_by_key(merged) == {k: r for r, k in enumerate(all_keys)}


def test_delta_layout_is_declared_and_read(spark, tmp_path, monkeypatch):
    """A delta's manifest declares the bucket counts its input sized, the
    files have exactly those buckets, and the reader buckets probes by
    them: a word in every wm_words and sq_words1 bucket of the delta is
    found through MultiReader (wm_words through its point reader's
    bucket routing, with a zero file budget so every bucket keeps
    footer intervals)."""
    import json
    import zlib

    from infidex_spark.build import indexer
    from infidex_spark.query import executor

    out = str(tmp_path / "idx")
    df1 = spark.createDataFrame(
        [(i, k, t) for i, (k, t) in enumerate(BATCH1)],
        "doc_id long, doc_key long, text string",
    )
    build_index(spark, df1, out, n_buckets=4)
    # 6 docs count as a third of a full-size input: 32/4/16 -> 16/2/8
    monkeypatch.setattr(indexer, "LAYOUT_FULL_DOCS", 18)
    letters = "bcdefghjkmnpqrvwxz"
    docs = [
        (200 + i, " ".join(f"{c}{c}w{i}" for c in letters) + " " + " ".join(letters[i::6]))
        for i in range(6)
    ]
    append_delta(
        spark, spark.createDataFrame(docs, "doc_key long, text string"),
        out, batch_id=3, n_buckets=4,
    )
    seg = os.path.join(out, "deltas", "delta_000003")
    with open(os.path.join(seg, "MANIFEST.json")) as f:
        layout = json.load(f)["layout"]
    assert layout == {"wm_words": 16, "sq_words1": 2, "pattern_scores": 8}
    for table in ("wm_words", "sq_words1"):
        on_disk = {d for d in os.listdir(os.path.join(seg, table)) if d.startswith("bucket=")}
        assert on_disk == {f"bucket={b}" for b in range(layout[table])}, table

    def bucket(w, n):
        return zlib.crc32(w.encode("utf-8")) % n

    wm = sorted({w for _, t in docs for w in t.split() if len(w) >= 2})
    one = sorted(set(letters))
    assert {bucket(w, 16) for w in wm} == set(range(16))
    assert {bucket(w, 2) for w in one} == {0, 1}
    # ids: the main segment holds 0..4, the delta 5..10 in doc_key order
    want_wm = {w: [5 + i for i, (_, t) in enumerate(docs) if w in t.split()] for w in wm}
    want_one = {c: [5 + i for i, (_, t) in enumerate(docs) if c in t.split()] for c in one}
    monkeypatch.setattr(executor._KeyedPointReader, "MAX_FILES", 0)
    mr = MultiReader(out)
    got_wm = mr.wm_word_docs(wm)
    assert {w: got_wm[w].tolist() for w in wm} == want_wm
    got_one = mr.sq1_word_docs(one)
    assert {c: got_one[c].tolist() for c in one} == want_one
