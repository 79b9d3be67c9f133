"""Round-7 optimization internals: every fast path must be bit-identical
to the path it replaces (dense lookup vs searchsorted, dense doc_lengths,
variant/fuzzy caches, driver-side pattern ranking vs the window plan,
strict-sortedness gating of the dense accumulator, reader close())."""

import numpy as np
import pytest

from infidex_spark.query.executor import (
    TermPostings,
    aggregate_weighted_postings,
)


def _mk_tp(ids: np.ndarray) -> TermPostings:
    return TermPostings(
        term="t",
        df=ids.size,
        doc_ids=ids.astype(np.int64),
        tfs=(np.arange(ids.size) % 7 + 1).astype(np.float32),
    )


def _searchsorted_ref(tp: TermPostings, docs: np.ndarray):
    ids, tfs = tp.doc_ids, tp.tfs
    pos = np.searchsorted(ids, docs)
    pos_c = np.clip(pos, 0, ids.size - 1)
    hit = ids[pos_c] == docs
    return hit, tfs[pos_c[hit]]


def test_dense_lookup_matches_searchsorted():
    rng = np.random.default_rng(7)
    # dense list over a modest range -> crosses the posmap gate
    ids = np.sort(rng.choice(40_000, 20_000, replace=False)).astype(np.int64)
    tp = _mk_tp(ids)
    docs = np.sort(rng.choice(45_000, 5_000, replace=False)).astype(np.int64)
    hit, tf = tp.lookup(docs)
    hit_ref, tf_ref = _searchsorted_ref(tp, docs)
    assert np.array_equal(hit, hit_ref)
    assert np.array_equal(tf, tf_ref)
    # probes entirely outside the id range
    lo = np.arange(0, 100, dtype=np.int64)  # below base is impossible here
    hi = np.arange(50_000, 53_000, dtype=np.int64)
    for probe in (lo, hi, np.concatenate([lo, ids[:3000], hi])):
        probe = np.sort(probe)
        h, t = tp.lookup(probe)
        h2, t2 = _searchsorted_ref(tp, probe)
        assert np.array_equal(h, h2) and np.array_equal(t, t2)


def test_sparse_term_keeps_searchsorted_path():
    # density below the 1/8 gate: result must still be correct
    ids = np.sort(
        np.random.default_rng(1).choice(10_000_000, 30_000, replace=False)
    ).astype(np.int64)
    tp = _mk_tp(ids)
    docs = np.sort(
        np.random.default_rng(2).choice(10_000_000, 10_000, replace=False)
    ).astype(np.int64)
    hit, tf = tp.lookup(docs)
    h2, t2 = _searchsorted_ref(tp, docs)
    assert np.array_equal(hit, h2) and np.array_equal(tf, t2)


def test_dense_accumulator_duplicates_fall_to_sparse():
    # duplicate-bearing ids must SUM (bincount semantics), not drop —
    # the strict-ascent gate reroutes them off the fancy-index path
    ids = np.array([1, 1, 2, 5], dtype=np.int64)
    w = np.array([2.0, 3.0, 1.0, 4.0])
    uids, scores = aggregate_weighted_postings(
        [ids], [(w, 10.0)], total_docs=8
    )
    assert uids.tolist() == [1, 2, 5]
    assert scores.tolist() == [50.0, 10.0, 40.0]


def test_variant_and_fuzzy_caches(tmp_path, spark, reference_docs):
    from infidex_spark.build.indexer import build_index
    from infidex_spark.query.executor import IndexReader, QueryExecutor

    out = str(tmp_path / "idx")
    docs = spark.createDataFrame(
        [(i, key, text) for i, (key, text) in enumerate(reference_docs)],
        "doc_id long, doc_key long, text string",
    )
    build_index(spark, docs, out, n_buckets=4, salts=2)
    r = IndexReader(out)
    ex = QueryExecutor(r)
    first = ex.search("qick fux", 5)
    v1 = r.fetch_variant_terms("qick")
    v1.append("poison")  # caller mutation must not leak into the cache
    v2 = r.fetch_variant_terms("qick")
    assert "poison" not in v2
    assert ex.search("qick fux", 5) == first
    # close() releases prewarm state; queries still work (lazy reload)
    r.prewarm_postings_meta()
    r.close()
    assert ex.search("qick fux", 5) == first
    assert ex.search("batman", 3) == ex.search("batman", 3)


def test_pattern_rank_local_matches_window(tmp_path, spark, reference_docs):
    import os

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from infidex_spark.build.indexer import _pattern_rank_local, build_index
    from infidex_spark.kernel.tokenize import DELIMITERS, START_PAD

    out = str(tmp_path / "idx2")
    docs = spark.createDataFrame(
        [(i, key, text) for i, (key, text) in enumerate(reference_docs)],
        "doc_id long, doc_key long, text string",
    )
    build_index(spark, docs, out, n_buckets=4, salts=2, aux=False)
    pp = os.path.join(out, "postings")
    # tiny cap_terms exercises the rank cutoff
    local = {
        tuple(r)
        for r in _pattern_rank_local(pp, 3, spark).toPandas().values
    }
    posts = spark.read.parquet(pp)
    pats = None
    for plen in (2, 3):
        p = (
            posts.select("term")
            .filter(F.length("term") >= plen)
            .withColumn("pattern", F.substring("term", 1, plen))
        )
        w = Window.partitionBy("pattern").orderBy("term")
        p = p.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 3)
        if plen == 3:
            delim_class = "[" + "".join(
                "\\" + c if c in "\\^]-[" else c for c in DELIMITERS
            ) + "]"
            reachable = F.col("pattern").startswith(START_PAD) | F.col(
                "pattern"
            ).rlike(delim_class)
            p = p.filter(
                reachable
                & ((F.length("term") > plen) | F.col("pattern").startswith(START_PAD))
            )
        p = p.select("term", "pattern")
        pats = p if pats is None else pats.unionByName(p)
    window = {tuple(r) for r in pats.toPandas().values}
    assert local == window and len(local) > 0


def test_doc_lengths_dense_bounds(tmp_path, spark, reference_docs):
    from infidex_spark.build.indexer import build_index
    from infidex_spark.query.executor import IndexReader

    out = str(tmp_path / "idx3")
    docs = spark.createDataFrame(
        [(i, key, text) for i, (key, text) in enumerate(reference_docs)],
        "doc_id long, doc_key long, text string",
    )
    build_index(spark, docs, out, n_buckets=4, salts=2, aux=False)
    r = IndexReader(out)
    assert r._dl_dense  # build ids are dense by contract
    dl, keys = r.doc_lengths(np.array([0, 3, 9], dtype=np.int64))
    assert keys.tolist() == [1, 4, 10]
    with pytest.raises(KeyError):
        r.doc_lengths(np.array([0, 99], dtype=np.int64))


def test_merge_partial_stream_matches_per_term_encode():
    """Vectorized reduce-side merge == decode+sort+encode_postings per
    term, including boundary-spanning groups and single-partial payload
    reuse."""
    import pandas as pd

    from infidex_spark.build.codec import encode_postings
    from infidex_spark.build.indexer import _merge_partial_stream

    rng = np.random.default_rng(13)
    rows, ref = [], {}
    for i in range(120):
        term = f"tt{i:03d}"
        n_total = int(rng.integers(1, 700))
        ids = np.sort(rng.choice(500_000, n_total, replace=False)).astype(
            np.int64
        )
        tf = rng.integers(1, 256, n_total).astype(np.uint8)
        n_parts = 1 if i % 3 == 0 else int(rng.integers(2, 7))
        assign = rng.integers(0, n_parts, n_total)
        df_tot = 0
        for p in range(n_parts):
            sel = assign == p
            if not sel.any():
                continue
            e = encode_postings(ids[sel], tf[sel])
            d = int(rng.integers(1, 5))
            df_tot += d
            rows.append((term, d, int(sel.sum()), e["payload"], e["weights"]))
        ref[term] = (ids, tf, df_tot)
    df = pd.DataFrame(
        rows, columns=["term", "df", "n_docs", "payload", "weights"]
    )
    # small batches force the carry-across-batches path
    batches = [df.iloc[i : i + 23] for i in range(0, len(df), 23)]
    out = pd.concat(
        list(_merge_partial_stream(16)(iter(batches))), ignore_index=True
    )
    assert len(out) == len(ref)
    import zlib

    for _, row in out.iterrows():
        ids, tf, df_tot = ref[row["term"]]
        e = encode_postings(ids, tf)
        assert row["payload"] == e["payload"]
        assert row["weights"] == e["weights"]
        assert row["df"] == df_tot and row["n_docs"] == len(ids)
        assert row["max_tf"] == int(tf.max())
        assert list(row["block_last_doc"]) == e["block_last_doc"].tolist()
        assert list(row["block_max_w"]) == e["block_max_w"].tolist()
        assert list(row["block_offsets"]) == e["block_offsets"].tolist()
        assert row["bucket"] == zlib.crc32(row["term"].encode()) % 16


def test_encode_postings_flat_reuse_and_edges():
    """encode_postings_batch/flat == encode_postings per term on edge
    shapes (empty terms, exact block multiples, >128-doc lists), and
    reuse_payload returns bit-identical rows."""
    from infidex_spark.build.codec import (
        encode_postings,
        encode_postings_batch,
        encode_postings_flat,
    )

    rng = np.random.default_rng(5)

    def mk(n, hi=10**6):
        if n == 0:
            return np.zeros(0, dtype=np.int64)
        ids = np.sort(rng.choice(hi, n, replace=False)).astype(np.int64)
        tf = rng.integers(1, 256, n).astype(np.int64)
        return (ids << 8) | tf

    lists = [mk(0), mk(1), mk(127), mk(128), mk(129), mk(256), mk(0), mk(999)]
    got = encode_postings_batch(lists)
    for i, pl in enumerate(lists):
        e = encode_postings(pl >> 8, (pl & 0xFF).astype(np.uint8))
        assert got["payload"][i] == e["payload"]
        assert got["weights"][i] == e["weights"]
        assert list(got["block_last_doc"][i]) == e["block_last_doc"].tolist()
        assert list(got["block_max_w"][i]) == e["block_max_w"].tolist()
        assert list(got["block_offsets"][i]) == e["block_offsets"].tolist()
    allp = np.concatenate([x for x in lists])
    lens = np.array([len(x) for x in lists])
    base = encode_postings_flat(allp, lens)
    reuse = [p if i % 2 else None for i, p in enumerate(base["payload"])]
    again = encode_postings_flat(allp, lens, reuse_payload=reuse)
    for k in base:
        assert again[k] == base[k], k


def test_tokenizer_run_words_match_split_words():
    """Codepoint-run word extraction (start_pad >= 1) produces the same
    (doc, term, occ) multiset as the regex-split path (start_pad == 0 is
    not comparable directly, so compare against the kernel tokenizer)."""
    import pandas as pd

    from infidex_spark.build.tokenizer import tokenize_batch
    from infidex_spark.kernel.tokenize import index_tokens

    texts = [
        "quick brown fox",
        "",
        "  leading  spaces and-hyphens: x yz wxyz",
        "a b c d e",
        "word " * 50 + "tail",
        "příliš žluťoučký kůň",
    ]
    for sizes in ((3,), (2,), (2, 3)):
        got = tokenize_batch(
            pd.Series(texts), sizes=sizes, start_pad=2, prenormalized=True
        )
        got_set = {
            (int(r.doc_idx), r.term, int(r.occ)) for r in got.itertuples()
        }
        ref_set = set()
        for di, t in enumerate(texts):
            from collections import Counter

            cnt = Counter(
                term for term, _pos in index_tokens(t, sizes=sizes, start_pad=2)
            )
            ref_set |= {(di, term, occ) for term, occ in cnt.items()}
        assert got_set == ref_set, sizes


def test_champions_sidecar_plan_matches_join_plan(tmp_path, spark, reference_docs):
    """Map-side champions top-k == the join+window plan, bit for bit.
    The second input puts NUL-led words next to a NULL tiny_text: NUL
    must not act as the missing-tiny_text marker (a spurious +8
    precedence bit for prefix '\\x00')."""
    import pandas as pd

    from infidex_spark.build import indexer as I

    texts = [text for _k, text in reference_docs]
    nul_texts = texts + [
        "\x00ab returns to gotham city tonight",
        "\x00ab",
        "\x00ab the dark knight rises again",
    ]
    for name, corpus in (("plain", texts), ("nul", nul_texts)):
        docs = spark.createDataFrame(
            [(i, 7000 + i, text) for i, text in enumerate(corpus)],
            "doc_id long, doc_key long, text string",
        )
        out_a = str(tmp_path / f"idx_sidecar_{name}")
        out_b = str(tmp_path / f"idx_join_{name}")
        I.build_index(spark, docs, out_a, n_buckets=4, short_precompute=False)
        orig = I._champions_sidecar
        I._champions_sidecar = lambda *a, **k: None
        try:
            I.build_index(spark, docs, out_b, n_buckets=4, short_precompute=False)
        finally:
            I._champions_sidecar = orig
        a = (
            pd.read_parquet(out_a + "/champions")
            .sort_values(["prefix", "rn"])
            .reset_index(drop=True)
        )
        b = (
            pd.read_parquet(out_b + "/champions")
            .sort_values(["prefix", "rn"])
            .reset_index(drop=True)
        )
        assert dict(a.dtypes) == dict(b.dtypes), name
        assert a.equals(b), name


def test_run_word_extraction_keeps_literal_pad_chars():
    """A literal pad character inside a text is word content (the regex
    split only breaks on delimiters); only the synthetic per-doc prefix
    pads may break runs."""
    import pandas as pd

    from infidex_spark.build.tokenizer import tokenize_batch
    from infidex_spark.kernel.tokenize import START_PAD, index_tokens

    texts = [f"x{START_PAD}y mixed", f"{START_PAD} alone", "plain words"]
    got = tokenize_batch(pd.Series(texts), sizes=(3,), start_pad=2, prenormalized=True)
    got_set = {(int(r.doc_idx), r.term, int(r.occ)) for r in got.itertuples()}
    from collections import Counter

    ref_set = set()
    for di, t in enumerate(texts):
        cnt = Counter(term for term, _ in index_tokens(t, sizes=(3,), start_pad=2))
        ref_set |= {(di, term, occ) for term, occ in cnt.items()}
    assert got_set == ref_set


def test_extract_factories_match_legacy_split():
    """_word_pairs_extract / _prefix_pairs_extract == the former
    regex-split implementations on delimiter-heavy and pad-bearing
    texts (rows compared as sets / sorted frames)."""
    import pandas as pd

    from infidex_spark.build.indexer import (
        _prefix_pairs_extract,
        _word_pairs_extract,
    )
    from infidex_spark.build.tokenizer import _DELIM_SPLIT
    from infidex_spark.kernel.normalize import normalize_series

    texts = [
        "quick brown fox", "", "  spaces  and-hyphens: x yz wxyz",
        "a b c d e", "word " * 30 + "tail", "příliš žluťoučký kůň",
        "ÿ edge ￿ literal pad char in text", "x￿y mixed pad word",
        "dup dup dup words words", "a-b.c:d", "singleword",
    ]
    pdf = pd.DataFrame(
        {"doc_id": np.arange(len(texts), dtype=np.int64) + 50, "text": texts}
    )
    norm = normalize_series(pdf["text"].fillna("")).str.lower()
    words = norm.str.split(_DELIM_SPLIT, regex=True).explode()
    words = words[words.str.len() >= 1]
    ids = pdf["doc_id"].to_numpy()
    legacy_pairs = set(
        zip(
            ids[words.index.to_numpy(np.int64)].tolist(),
            words.tolist(),
        )
    )
    got = pd.concat(
        list(_word_pairs_extract(None)(iter([pdf]))), ignore_index=True
    )
    assert set(zip(got["doc_id"].tolist(), got["word"].tolist())) == legacy_pairs
    assert len(got) == len(legacy_pairs)  # deduped exactly once
    # prefix frames: per-(prefix, doc) aggregates must be internally
    # consistent with the word stream (spot-check counts for 1-char)
    frames = list(_prefix_pairs_extract(None)(iter([pdf])))
    one = pd.concat(
        [f.assign(prefix=f["prefix"].astype(str)) for f in frames],
        ignore_index=True,
    )
    p1 = one[one["prefix"].str.len() == 1]
    from collections import Counter

    ref = Counter()
    for d, w in zip(ids[words.index.to_numpy(np.int64)], words):
        ref[(d, w[0])] += 1
    got1 = {
        (r.doc_id, r.prefix): r.n_ws for r in p1.itertuples()
    }
    assert got1 == dict(ref)


def test_lookup_blocks_batched_matches_full_decode():
    """Lazy block-run lookup (batched single-pass decode) == probing the
    fully decoded list, across probe patterns that touch disjoint runs,
    boundaries, and out-of-range ids."""
    from infidex_spark.build.codec import encode_postings
    from infidex_spark.query.executor import TermPostings

    rng = np.random.default_rng(21)
    ids = np.sort(rng.choice(5_000_000, 40_000, replace=False)).astype(
        np.int64
    )
    tf = rng.integers(1, 256, ids.size).astype(np.uint8)
    e = encode_postings(ids, tf)

    def fresh() -> TermPostings:
        return TermPostings(
            term="t",
            df=ids.size,
            payload=e["payload"],
            weights=e["weights"],
            n_docs=ids.size,
            block_last_doc=np.asarray(e["block_last_doc"]),
            block_max_w=np.asarray(e["block_max_w"]),
            block_offsets=np.asarray(e["block_offsets"]),
        )

    # clustered probes (a few narrow doc ranges + misses) stay under the
    # 25%-of-blocks gate, so they exercise the lazy block-run path;
    # scattered probes legitimately switch to the full decode
    clusters = [
        np.sort(
            np.concatenate(
                [
                    ids[100:180],
                    ids[20_000:20_060] + 1,  # near-misses inside a run
                    ids[39_900:39_950],
                    np.array([0, 5_099_999]),
                ]
            )
        ).astype(np.int64),
        np.sort(np.concatenate([ids[:5], ids[-5:]])).astype(np.int64),
    ]
    for probe, expect_lazy in [
        (clusters[0], True),
        (clusters[1], True),
        (np.sort(rng.choice(5_100_000, 200, replace=False)).astype(np.int64), False),
        (ids[::97].copy(), False),  # touches nearly every block
        (ids[::997].copy(), True),  # 41 probes, 41 runs: stays lazy
    ]:
        tp = fresh()
        hit, tfs = tp.lookup(probe)
        assert tp.is_decoded != expect_lazy
        pos = np.searchsorted(ids, probe)
        pos_c = np.clip(pos, 0, ids.size - 1)
        ref_hit = ids[pos_c] == probe
        assert np.array_equal(hit, ref_hit)
        assert np.array_equal(tfs, tf[pos_c[ref_hit]].astype(np.float32))
