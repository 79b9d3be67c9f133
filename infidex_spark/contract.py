"""Driver-contract query registry: one entry per implemented operator
(SURVEY.md §2), each as a (spark, sf_dir) -> DataFrame callable plus,
where SQL-expressible, a DuckDB oracle producing identical rows.

Cross-engine determinism rules used throughout:
- only double-precision math, rounded (4-6 dp) at the end;
- counts cast to LONG on both sides;
- every LIMIT is preceded by a deterministic total order;
- hashes are md5 hex (identical strings in Spark and DuckDB).

The n-gram search engine itself (build + BM25 top-k) is exercised both as
a rows-only entry here (ngram_topk_engine) and — with exact expectations —
by the pytest golden suite; the *word-level* BM25 entries below are the
SQL-checkable projections of the same math (same formula, same constants).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

WORK_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "_work")

BM25_QUERY_WORDS = ["spark", "query", "join"]
POSTING_WORDS = ["spark", "join", "window", "hash"]
NGRAM_QUERY = "spark shuffle window"


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _words(docs: DataFrame):
    """Non-empty lowercase whitespace-split words, exploded with doc_id."""
    return docs.select(
        "doc_id",
        F.explode(
            F.filter(F.split(F.lower(F.col("text")), r"\s+"), lambda w: w != "")
        ).alias("term"),
    )


def _contract_index(spark, sf_dir: str) -> str:
    """Build (or reuse) the per-sf_dir contract index. Rebuilds when the
    cached dir predates the current on-disk feature set (sq_topk is
    the last table a short_precompute build writes) or was written in
    another index format_version."""
    from infidex_spark.build.codec import FORMAT_VERSION
    from infidex_spark.build.indexer import build_index

    tag = sf_dir.strip("/").replace("/", "_")
    idx_dir = os.path.join(WORK_DIR, f"index_{tag}")
    manifest = os.path.join(idx_dir, "MANIFEST.json")
    fresh = os.path.exists(manifest) and os.path.isdir(
        os.path.join(idx_dir, "sq_topk")
    )
    if fresh:
        with open(manifest) as f:
            fresh = json.load(f).get("format_version") == FORMAT_VERSION
    if not fresh:
        docs = _docs(spark, sf_dir).selectExpr("doc_id", "doc_id as doc_key", "text")
        build_index(
            spark, docs, idx_dir, n_buckets=8, salts=4, short_precompute=True
        )
    return idx_dir


# --------------------------------------------------------------------- search
# Word-level analogues of the index-build operators (B1-B3) and BM25 (D6),
# oracle-checked; the n-gram variants are golden-tested in pytest.


def q_word_df(spark, sf_dir):
    """B1: term registration + document-frequency counting."""
    return (
        _words(_docs(spark, sf_dir))
        .groupBy("term")
        .agg(F.countDistinct("doc_id").cast("long").alias("df"))
    )


def q_word_postings(spark, sf_dir):
    """B2: posting rows (term, doc_id, tf) for a fixed probe word set."""
    return (
        _words(_docs(spark, sf_dir))
        .filter(F.col("term").isin(POSTING_WORDS))
        .groupBy("term", "doc_id")
        .agg(F.count("*").cast("long").alias("tf"))
    )


def q_doc_stats_words(spark, sf_dir):
    """B3: per-document length (token count)."""
    return (
        _words(_docs(spark, sf_dir))
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("dl"))
    )


def q_word_idf(spark, sf_dir):
    """D2: BM25 idf = ln((N-df+0.5)/(df+0.5)+1) for the probe words."""
    docs = _docs(spark, sf_dir)
    n = docs.count()
    return (
        _words(docs)
        .filter(F.col("term").isin(POSTING_WORDS))
        .groupBy("term")
        .agg(F.countDistinct("doc_id").cast("long").alias("df"))
        .select(
            "term",
            "df",
            F.round(
                F.log((F.lit(float(n)) - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0), 6
            ).alias("idf"),
        )
    )


def q_bm25_word_topk(spark, sf_dir):
    """D6/D9: full BM25+ (k1=1.2, b=0.75, delta=1) word-level top-10 for a
    fixed query, double math, deterministic tie-break."""
    docs = _docs(spark, sf_dir)
    words = _words(docs)
    n = docs.count()
    dl = words.groupBy("doc_id").agg(F.count("*").alias("dl"))
    avgdl = dl.agg(F.avg("dl")).collect()[0][0]
    qterms = words.filter(F.col("term").isin(BM25_QUERY_WORDS))
    tf = qterms.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df = qterms.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    scored = (
        tf.join(F.broadcast(df), "term")
        .join(dl, "doc_id")
        .withColumn(
            "idf",
            F.log((F.lit(float(n)) - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0),
        )
        .withColumn(
            "s",
            F.col("idf")
            * (
                (F.col("tf") * 2.2)
                / (F.col("tf") + 1.2 * (0.25 + 0.75 * F.col("dl") / F.lit(float(avgdl))))
                + 1.0
            ),
        )
        .groupBy("doc_id")
        .agg(F.round(F.sum("s"), 4).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(10)
    )
    return scored


def q_ngram_topk_engine(spark, sf_dir):
    """The real engine: n-gram index build + BM25 top-k (rows-only check;
    exact golden parity lives in pytest). Index cached per sf_dir."""
    import json

    from infidex_spark.build.indexer import build_index
    from infidex_spark.query.executor import IndexReader, QueryExecutor

    idx_dir = _contract_index(spark, sf_dir)
    ex = QueryExecutor(IndexReader(idx_dir))
    hits = ex.search(NGRAM_QUERY, 10)
    return spark.createDataFrame(
        [(int(k), round(float(s), 4), r + 1) for r, (k, s) in enumerate(hits)],
        "doc_id long, score double, rank int",
    )


# ----------------------------------------------------------------- relational


def q_facet_lang_source(spark, sf_dir):
    """F6: facets over (lang, source), top-100 per field by (n desc, value asc)."""
    from infidex_spark.functions.postprocess import build_facets

    return build_facets(_docs(spark, sf_dir), ["lang", "source"]).select(
        "field", "value", F.col("n").cast("long").alias("n")
    )


def q_filter_infiscript(spark, sf_dir):
    """F1-F3: Infiscript filter DSL compiled to a Catalyst predicate."""
    from infidex_spark.functions.postprocess import apply_filter

    return apply_filter(
        _docs(spark, sf_dir),
        "lang = 'en' AND n_chars >= 300 AND NOT (source CONTAINS '9')",
    ).select("doc_id", "lang", "source", "n_chars")


def q_filter_infiscript_advanced(spark, sf_dir):
    """F1: IN / BETWEEN / LIKE / MATCHES / ternary / mixed and-or."""
    from infidex_spark.functions.postprocess import apply_filter

    expr = (
        "source IN ('src1', 'src2', 'src3') "
        "OR (n_chars BETWEEN 100 AND 180 AND lang MATCHES '^(en|es)$') "
        "OR (lang = 'zh' ? n_chars >= 200 : text LIKE '%window merge%')"
    )
    return apply_filter(_docs(spark, sf_dir), expr).select("doc_id", "lang", "source", "n_chars")


def q_sort_limit(spark, sf_dir):
    """F5/F7: field sort + limit with deterministic tie-break."""
    return (
        _docs(spark, sf_dir)
        .orderBy(F.desc("n_chars"), F.asc("doc_id"))
        .select("doc_id", "n_chars")
        .limit(20)
    )


def q_boost_sort(spark, sf_dir):
    """F4: score boosts (+10 lang='en', +5 source ENDS WITH '1') then re-sort."""
    from infidex_spark.functions.postprocess import apply_boosts

    base = _docs(spark, sf_dir).withColumn(
        "score", F.col("n_chars").cast("double") / 1000.0
    )
    boosted = apply_boosts(
        base, [("lang = 'en'", 10), ("source ENDS WITH '1'", 5)]
    )
    return (
        boosted.select("doc_id", F.round("score", 4).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(50)
    )


def q_doc_lookup(spark, sf_dir):
    """F8: point lookup by document key."""
    return _docs(spark, sf_dir).filter(F.col("doc_id") == 42).select(
        "doc_id", "lang", "source", "n_chars"
    )


# ------------------------------------------------------------------- pipeline


def q_dedup_exact(spark, sf_dir):
    """Exact dedup groups by md5(text)."""
    from infidex_spark.pipeline.dedup import exact_duplicates

    return exact_duplicates(_docs(spark, sf_dir)).select(
        "text_hash", F.col("n_docs").cast("long").alias("n_docs"), "keeper"
    )


def q_dedup_minhash_pairs(spark, sf_dir):
    """MinHash-LSH near-duplicate candidate pairs (rows-only; validated
    against brute-force Jaccard in pytest)."""
    from infidex_spark.pipeline.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(_docs(spark, sf_dir), n_hashes=8, bands=4)


def q_dedup_simhash(spark, sf_dir):
    """SimHash 64-bit signatures (rows-only; determinism tested in pytest)."""
    from infidex_spark.pipeline.dedup import simhash64

    return simhash64(_docs(spark, sf_dir))


def q_token_count(spark, sf_dir):
    from infidex_spark.pipeline.textstats import token_count

    return token_count(_docs(spark, sf_dir))


def q_quality_score(spark, sf_dir):
    from infidex_spark.pipeline.textstats import quality_score

    return quality_score(_docs(spark, sf_dir))


def q_lang_id(spark, sf_dir):
    from infidex_spark.pipeline.textstats import lang_id

    return lang_id(_docs(spark, sf_dir))


def q_fingerprint(spark, sf_dir):
    """Rolling-hash fingerprint (rows-only; determinism tested in pytest)."""
    from infidex_spark.pipeline.textstats import fingerprint

    return fingerprint(_docs(spark, sf_dir))


def q_ann_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-10 vs the vec_id=0 embedding. Rounds BEFORE
    ordering so the limit boundary is decided identically to the oracle."""
    from infidex_spark.pipeline.similarity import _cosine_expr

    emb = _emb(spark, sf_dir)
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    return (
        emb.select(
            "vec_id",
            F.round(_cosine_expr("embedding", [float(x) for x in qvec]), 4).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(10)
    )


def q_ann_lsh_topk(spark, sf_dir):
    """LSH-bucketed ANN top-10 (rows-only: lossy by design; recall measured
    in pytest)."""
    from infidex_spark.pipeline.similarity import lsh_bucketed_topk

    emb = _emb(spark, sf_dir)
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    return lsh_bucketed_topk(emb, [float(x) for x in qvec], k=10).select(
        "vec_id", F.round("cosine", 4).alias("cosine")
    )


def q_ann_ivf_topk(spark, sf_dir):
    """IVF ANN (coarse k-means cells + nprobe): with nprobe ==
    n_centroids the probe set covers every cell, so the result must equal
    exact cosine top-k — giving the IVF dataflow a full DuckDB oracle
    (the lossy small-nprobe path is recall-tested in pytest)."""
    import numpy as np

    from infidex_spark.pipeline.similarity import (
        _cosine_expr,
        ivf_assign,
        ivf_train_centroids,
    )

    emb = _emb(spark, sf_dir)
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]]
    cents = ivf_train_centroids(emb, n_centroids=8, iters=3, seed=11)
    assigned = ivf_assign(emb, cents)  # nprobe == n_centroids: all cells
    assigned = assigned.filter(
        F.col("cell").isin(list(range(int(cents.shape[0]))))
    )
    # round BEFORE ordering so the limit boundary matches the oracle
    return (
        assigned.select(
            "vec_id", F.round(_cosine_expr("embedding", qvec), 4).alias("cosine")
        )
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(10)
    )


def q_ann_ivf_arrow_topk(spark, sf_dir):
    """Same full-oracle IVF construction as ann_ivf_topk, but routed
    through the pandas_udf (Arrow batch matmul) assignment path — the
    scale variant for centroid sets too large for Catalyst literals."""
    from infidex_spark.pipeline.similarity import (
        _cosine_expr,
        ivf_assign,
        ivf_train_centroids,
    )

    emb = _emb(spark, sf_dir)
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]]
    cents = ivf_train_centroids(emb, n_centroids=8, iters=3, seed=11)
    assigned = ivf_assign(emb, cents, method="arrow")
    assigned = assigned.filter(
        F.col("cell").isin(list(range(int(cents.shape[0]))))
    )
    return (
        assigned.select(
            "vec_id", F.round(_cosine_expr("embedding", qvec), 4).alias("cosine")
        )
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(10)
    )


def q_multimodal_features(spark, sf_dir):
    """Multimodal plumbing: binary payload -> feature vector via
    mapInPandas (decode kernel is a deterministic stub; rows-only)."""
    from infidex_spark.pipeline.multimodal import extract_features

    media = _docs(spark, sf_dir).select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.encode(F.col("text"), "utf-8").alias("payload"),
        F.lit("text/fake").alias("mime"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        F.lit(None).cast("long").alias("duration_ms"),
    )
    return extract_features(media).select(
        "media_id", "n_bytes", F.round(F.element_at("feature", 1).cast("double"), 3).alias("f0")
    )


def q_events_window_agg(spark, sf_dir):
    """Tumbling 1-hour window aggregation over the events stream table
    (the batch shape of a Structured Streaming windowed agg)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def q_events_sessionize(spark, sf_dir):
    """Sessionization: 30-minute inactivity gap per user -> session count."""
    from pyspark.sql.window import Window

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy("ts")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    marked = ev.withColumn(
        "new_session", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    )
    return (
        marked.groupBy("user_id")
        .agg(
            F.sum("new_session").cast("long").alias("n_sessions"),
            F.count("*").cast("long").alias("n_events"),
        )
    )


def q_join_orders_revenue(spark, sf_dir):
    """Relational join + aggregate over the TPC-H-ish tables (broadcast
    orders side is small at these SFs; Catalyst picks the strategy)."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.count("*").cast("long").alias("n_items"),
        )
    )


def q_segment_docs(spark, sf_dir):
    """A7 auto-segmentation over documents (rows-only: boundaries are an
    indexing choice; invariants tested in pytest)."""
    from infidex_spark.build.segmenter import segment_docs

    docs = _docs(spark, sf_dir).select(F.col("doc_id").alias("doc_key"), "text")
    return segment_docs(docs).select(
        "doc_key", "seg_no", F.length("text").cast("long").alias("seg_chars")
    )


def q_ngram_rerank_engine(spark, sf_dir):
    """The full engine pipeline (BM25 stage + coverage/fusion rerank) over
    the cached index (rows-only; kernel<->executor parity in pytest)."""
    import os

    from infidex_spark.build.indexer import build_index
    from infidex_spark.query.executor import IndexReader
    from infidex_spark.query.rerank import RerankExecutor

    idx_dir = _contract_index(spark, sf_dir)
    rr = RerankExecutor(IndexReader(idx_dir))
    hits = rr.search(NGRAM_QUERY, 10)
    return spark.createDataFrame(
        [(int(d), round(float(s), 4), r + 1) for r, (d, s, _) in enumerate(hits)],
        "doc_id long, score double, rank int",
    )


FIELDS_PROBE_WORDS = ["spark", "join", "the", "src3", "src7", "en", "de"]


def q_fields_weighted_tf(spark, sf_dir):
    """Multi-field weighted tf — the SQL-checkable closed-form projection
    of the byte-saturating fold (kernel engine FirstCycleAdd port) with
    fields source=High(1.5), text=Med(1.25), lang=Low(1.0).

    The fold rounds half-to-even at each accumulate; High occurrences come
    first in concatenation order, so the state stays even through them
    (round(2k+1.5)=2k+2) and each Med/Low occurrence then adds exactly 1:
      tf = 2*c_high + c_med + c_low   (c_high > 0)
      tf = c_med + c_low              (c_high = 0)
    below byte saturation. The '§'-boundary and pad-offset behaviors are
    covered bit-exactly by tests/test_fields.py (kernel == spark build)."""
    docs = _docs(spark, sf_dir)

    def col_words(c: str, cls: str):
        return docs.select(
            "doc_id",
            F.explode(
                F.filter(
                    F.split(F.lower(F.col(c).cast("string")), r"\s+"),
                    lambda w: w != "",
                )
            ).alias("term"),
            F.lit(cls).alias("cls"),
        )

    u = (
        col_words("source", "h")
        .unionAll(col_words("text", "m"))
        .unionAll(col_words("lang", "l"))
        .filter(F.col("term").isin(FIELDS_PROBE_WORDS))
    )
    agg = u.groupBy("doc_id", "term").agg(
        F.sum(F.when(F.col("cls") == "h", 1).otherwise(0)).alias("c_h"),
        F.sum(F.when(F.col("cls") == "m", 1).otherwise(0)).alias("c_m"),
        F.sum(F.when(F.col("cls") == "l", 1).otherwise(0)).alias("c_l"),
    )
    tf = F.when(
        F.col("c_h") > 0, 2 * F.col("c_h") + F.col("c_m") + F.col("c_l")
    ).otherwise(F.col("c_m") + F.col("c_l"))
    return agg.select(
        "doc_id", "term", tf.cast("long").alias("tf_weighted")
    )


def q_html_extract(spark, sf_dir):
    """HTML -> text extraction (input_hint invariant: byte-identical
    extracted text per url/doc). Wraps documents.text into a page with the
    same Catalyst expression the oracle replays, runs the vectorized
    extractor, and emits md5 of the extracted text so the value-hash
    compares full content."""
    from infidex_spark.pipeline.html import html_to_text

    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.encode(
            F.concat(
                F.lit("<html><head><title>t</title></head><body><p>"),
                F.col("text"),
                F.lit("</p><script>var x = 1;</script></body></html>"),
            ),
            "utf-8",
        ).alias("html"),
    )
    out = html_to_text(docs, html_col="html", text_col="text")
    return out.select(
        "doc_id", F.md5(F.encode(F.col("text"), "utf-8")).alias("text_md5")
    )


def q_normalize_text(spark, sf_dir):
    """A1 byte-identity oracle: normalize (verbatim fold table + \\t\\n\\r
    -> space + space-run collapse) then lowercase, hashed — DuckDB replays
    the identical transform with translate() generated from the SAME
    _FOLD_PAIRS constant (single source of truth)."""
    import pandas as pd

    from infidex_spark.kernel.normalize import normalize_series

    def run(batches):
        for pdf in batches:
            out = pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "norm": normalize_series(pdf["text"].fillna("")).str.lower(),
                }
            )
            yield out

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    normed = docs.mapInPandas(run, "doc_id long, norm string")
    return normed.select(
        "doc_id", F.md5(F.encode(F.col("norm"), "utf-8")).alias("norm_md5")
    )


def _normalize_sql(expr: str) -> str:
    """DuckDB expression replaying kernel.normalize + lower over expr,
    generated from the kernel's fold table."""
    from infidex_spark.kernel.normalize import _FOLD_PAIRS

    src = "".join(k for k, _ in _FOLD_PAIRS) + "\t\n\r"
    dst = "".join(v for _, v in _FOLD_PAIRS) + "   "
    src_sql = src.replace("'", "''")
    return (
        f"lower(regexp_replace(translate({expr}, '{src_sql}', '{dst}'),"
        " '  +', ' ', 'g'))"
    )


def q_wm_word_docs(spark, sf_dir):
    """Index-content oracle for the WordMatcher word postings (B9): the
    wm_words table's (word, n_docs) for probe words must equal the
    distinct-document word counts DuckDB computes over the identically
    normalized, delimiter-split text."""
    import os

    from infidex_spark.build.indexer import build_index
    from infidex_spark.query.executor import IndexReader

    reader = IndexReader(_contract_index(spark, sf_dir))
    got = reader.wm_word_docs(WM_PROBE_WORDS)
    rows = [(w, int(ids.size)) for w, ids in sorted(got.items())]
    return spark.createDataFrame(rows, "word string, n_docs long")


WM_PROBE_WORDS = ["spark", "query", "join", "the", "of", "window"]
SQ1_PROBE_WORDS = ["a", "i", "o", "x", "z", "q"]


def q_sq1_word_docs(spark, sf_dir):
    """Index-content oracle for the single-char word postings
    (sq_words1, the short-query precedence fast path): (word, n_docs)
    for probe letters must equal DuckDB's distinct-document counts over
    the identically normalized, delimiter-split text."""
    from infidex_spark.query.executor import IndexReader

    reader = IndexReader(_contract_index(spark, sf_dir))
    got = reader.sq1_word_docs(SQ1_PROBE_WORDS)
    rows = [(w, int(ids.size)) for w, ids in sorted(got.items())]
    return spark.createDataFrame(rows, "word string, n_docs long")


def q_sq_topk_champions(spark, sf_dir):
    """Short-query champion lists (sq_topk, D10 round 4): rows (query,
    rank, doc_key, final) for a probe set. SELF-CHECKED: every probe is
    evaluated BOTH through the champion table and through the live
    _search_short_query path (table disabled) and the callable raises on
    any mismatch — the rows-only driver check therefore certifies the
    dual-path identity, not just row counts. Engine-native scoring
    (pattern aggregates over the gram index) is not SQL-expressible; the
    fold-vs-join build parity is additionally covered by
    tests/test_sq_topk.py."""
    from infidex_spark.query.executor import IndexReader, QueryExecutor

    idx_dir = _contract_index(spark, sf_dir)
    ex = QueryExecutor(IndexReader(idx_dir))
    live_reader = IndexReader(idx_dir)
    live_reader._sq_topk_map = {}  # champion-miss -> live path
    ex_live = QueryExecutor(live_reader)
    rows = []
    # 'xq'/'zq' exercise the round-5 sq_fuzzy table (fuzzy-class
    # champions built by distributed evaluation of the live path)
    for q in ["th", "fo", "an", "ba", "qz", "a b", "t o", "xq", "zq"]:
        got = ex.search(q, 10)
        want = ex_live.search(q, 10)
        if got != want:
            raise AssertionError(
                f"sq_topk champion path diverged from live path for {q!r}: "
                f"{got[:3]} vs {want[:3]}"
            )
        for rank, (k, s) in enumerate(got):
            rows.append((q, rank + 1, int(k), round(float(s), 4)))
    # r6: champion serving under TOMBSTONES (filter + truncate) must also
    # equal the live path bit-for-bit — delete the rank-1 and max-norm
    # docs of one served champion row and re-compare both paths
    probe = next(
        (q for q in ("th", "fo", "an", "ba") if IndexReader(idx_dir).sq_topk(q)),
        None,
    )
    if probe is not None:
        base_row = IndexReader(idx_dir).sq_topk(probe)
        victims = frozenset(
            {int(base_row[0][0]), int(max(base_row, key=lambda t: t[1])[0])}
        )
        rt = IndexReader(idx_dir)
        rt.tombstones = victims
        rl = IndexReader(idx_dir)
        rl._sq_topk_map = {}
        rl.tombstones = victims
        got_t = QueryExecutor(rt).search(probe, 10)
        want_t = QueryExecutor(rl).search(probe, 10)
        if got_t != want_t or any(k in victims for k, _ in got_t):
            raise AssertionError(
                f"tombstoned champion path diverged for {probe!r}: "
                f"{got_t[:3]} vs {want_t[:3]}"
            )
    return spark.createDataFrame(
        rows, "q string, rank int, doc_key long, final double"
    )


QUERIES = {
    "ngram_rerank_engine": q_ngram_rerank_engine,
    "sq_topk_champions": q_sq_topk_champions,
    "fields_weighted_tf": q_fields_weighted_tf,
    "html_extract": q_html_extract,
    "normalize_text": q_normalize_text,
    "wm_word_docs": q_wm_word_docs,
    "events_window_agg": q_events_window_agg,
    "events_sessionize": q_events_sessionize,
    "join_orders_revenue": q_join_orders_revenue,
    "segment_docs": q_segment_docs,
    "word_df": q_word_df,
    "word_postings": q_word_postings,
    "doc_stats_words": q_doc_stats_words,
    "word_idf": q_word_idf,
    "bm25_word_topk": q_bm25_word_topk,
    "ngram_topk_engine": q_ngram_topk_engine,
    "facet_lang_source": q_facet_lang_source,
    "filter_infiscript": q_filter_infiscript,
    "filter_infiscript_advanced": q_filter_infiscript_advanced,
    "sort_limit": q_sort_limit,
    "boost_sort": q_boost_sort,
    "doc_lookup": q_doc_lookup,
    "dedup_exact": q_dedup_exact,
    "dedup_minhash_pairs": q_dedup_minhash_pairs,
    "dedup_simhash": q_dedup_simhash,
    "token_count": q_token_count,
    "quality_score": q_quality_score,
    "lang_id": q_lang_id,
    "fingerprint": q_fingerprint,
    "ann_cosine_topk": q_ann_cosine_topk,
    "ann_lsh_topk": q_ann_lsh_topk,
    "ann_ivf_topk": q_ann_ivf_topk,
    "ann_ivf_arrow_topk": q_ann_ivf_arrow_topk,
    "sq1_word_docs": q_sq1_word_docs,
    "multimodal_features": q_multimodal_features,
}

_WORDS_CTE = """
words AS (
  SELECT doc_id, lower(w) AS term
  FROM documents, unnest(regexp_split_to_array(lower(text), '\\s+')) AS t(w)
  WHERE w <> ''
)
"""

_EN = "['the','of','and','to','in','a','is','that','for','it']"
_ES = "['el','la','de','que','y','en','un','es','se','no']"
_DE = "['der','die','und','das','ist','von','mit','den','ein','zu']"
_FR = "['le','la','les','de','et','un','est','que','pour','dans']"

def _delim_class_sql() -> str:
    """RE2 character class of the tokenizer delimiters, SQL-quoted."""
    from infidex_spark.kernel.tokenize import DELIMITERS

    cls = "".join("\\" + c if c in "\\^]-" else c for c in DELIMITERS)
    cls = cls.replace("\t", "\\t").replace("'", "''")
    return "[" + cls + "]"


ORACLES = {
    "normalize_text": f"""
        SELECT doc_id, md5({_normalize_sql('text')}) AS norm_md5
        FROM documents
    """,
    "wm_word_docs": f"""
        WITH norm AS (
          SELECT doc_id, {_normalize_sql('text')} AS t FROM documents
        ),
        w AS (
          SELECT DISTINCT doc_id, s.w AS w
          FROM norm, unnest(regexp_split_to_array(t, '{{DELIMS}}+')) AS s(w)
          WHERE length(s.w) >= 2
        )
        SELECT w AS word, count(*)::BIGINT AS n_docs
        FROM w
        WHERE w IN ('spark','query','join','the','of','window')
        GROUP BY w
    """.replace("{DELIMS}", _delim_class_sql()),
    "events_window_agg": """
        SELECT epoch(time_bucket(INTERVAL 1 HOUR, ts))::BIGINT AS window_start,
               event_type,
               count(*)::BIGINT AS n,
               round(sum(value), 4) AS sum_value
        FROM events
        GROUP BY 1, 2
    """,
    "events_sessionize": """
        WITH g AS (
          SELECT user_id, ts,
                 CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                        OR epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) > 1800
                      THEN 1 ELSE 0 END AS new_session
          FROM events
        )
        SELECT user_id, sum(new_session)::BIGINT AS n_sessions, count(*)::BIGINT AS n_events
        FROM g GROUP BY user_id
    """,
    "join_orders_revenue": """
        SELECT o.o_orderpriority,
               round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
               count(*)::BIGINT AS n_items
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_orderpriority
    """,
    "word_df": f"WITH {_WORDS_CTE} SELECT term, count(DISTINCT doc_id)::BIGINT AS df FROM words GROUP BY term",
    "html_extract": """
        WITH wrapped AS (
          SELECT doc_id,
                 '<html><head><title>t</title></head><body><p>' || text ||
                 '</p><script>var x = 1;</script></body></html>' AS html
          FROM documents
        ),
        stripped AS (
          SELECT doc_id,
                 regexp_replace(
                   regexp_replace(
                     regexp_replace(
                       regexp_replace(html, '<!--.*?-->', ' ', 'gs'),
                       '<head\\b.*?</head\\s*>', ' ', 'gsi'),
                     '<script\\b.*?</script\\s*>', ' ', 'gsi'),
                   '<style\\b.*?</style\\s*>', ' ', 'gsi') AS s
          FROM wrapped
        ),
        detagged AS (
          SELECT doc_id, regexp_replace(s, '<[^>]*>', ' ', 'gs') AS s FROM stripped
        ),
        unescaped AS (
          SELECT doc_id,
                 replace(replace(replace(replace(replace(replace(replace(
                   s, '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),
                   '&quot;', '"'), '&#39;', chr(39)), '&apos;', chr(39)),
                   '&amp;', '&') AS s
          FROM detagged
        )
        SELECT doc_id,
               md5(trim(regexp_replace(s, '[ \\t\\r\\n\\f\\v]+', ' ', 'g'), ' ')) AS text_md5
        FROM unescaped
    """,
    "fields_weighted_tf": """
        WITH fw AS (
          SELECT doc_id, lower(w) AS term, 'h' AS cls
          FROM documents, unnest(regexp_split_to_array(lower(source::VARCHAR), '\\s+')) AS t(w)
          WHERE w <> ''
          UNION ALL
          SELECT doc_id, lower(w), 'm'
          FROM documents, unnest(regexp_split_to_array(lower(text), '\\s+')) AS t(w)
          WHERE w <> ''
          UNION ALL
          SELECT doc_id, lower(w), 'l'
          FROM documents, unnest(regexp_split_to_array(lower(lang::VARCHAR), '\\s+')) AS t(w)
          WHERE w <> ''
        ),
        agg AS (
          SELECT doc_id, term,
                 sum(CASE WHEN cls = 'h' THEN 1 ELSE 0 END) AS c_h,
                 sum(CASE WHEN cls = 'm' THEN 1 ELSE 0 END) AS c_m,
                 sum(CASE WHEN cls = 'l' THEN 1 ELSE 0 END) AS c_l
          FROM fw
          WHERE term IN ('spark','join','the','src3','src7','en','de')
          GROUP BY doc_id, term
        )
        SELECT doc_id, term,
               (CASE WHEN c_h > 0 THEN 2*c_h + c_m + c_l ELSE c_m + c_l END)::BIGINT AS tf_weighted
        FROM agg
    """,
    "word_postings": f"""
        WITH {_WORDS_CTE}
        SELECT term, doc_id, count(*)::BIGINT AS tf
        FROM words WHERE term IN ('spark','join','window','hash')
        GROUP BY term, doc_id
    """,
    "doc_stats_words": f"WITH {_WORDS_CTE} SELECT doc_id, count(*)::BIGINT AS dl FROM words GROUP BY doc_id",
    "word_idf": f"""
        WITH {_WORDS_CTE},
        n AS (SELECT count(*)::DOUBLE AS n FROM documents)
        SELECT term, count(DISTINCT doc_id)::BIGINT AS df,
               round(ln((n.n - count(DISTINCT doc_id) + 0.5) / (count(DISTINCT doc_id) + 0.5) + 1.0), 6) AS idf
        FROM words, n WHERE term IN ('spark','join','window','hash')
        GROUP BY term, n.n
    """,
    "bm25_word_topk": f"""
        WITH {_WORDS_CTE},
        n AS (SELECT count(*)::DOUBLE AS n FROM documents),
        dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM words GROUP BY doc_id),
        avgdl AS (SELECT avg(dl) AS avgdl FROM dl),
        q AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM words
              WHERE term IN ('spark','query','join') GROUP BY doc_id, term),
        df AS (SELECT term, count(DISTINCT doc_id)::DOUBLE AS df FROM words
               WHERE term IN ('spark','query','join') GROUP BY term)
        SELECT q.doc_id,
               round(sum( ln((n.n - df.df + 0.5)/(df.df + 0.5) + 1.0)
                   * ( (q.tf * 2.2) / (q.tf + 1.2 * (0.25 + 0.75 * dl.dl / avgdl.avgdl)) + 1.0 ) ), 4) AS score
        FROM q JOIN df USING (term) JOIN dl USING (doc_id), n, avgdl
        GROUP BY q.doc_id
        ORDER BY score DESC, q.doc_id ASC
        LIMIT 10
    """,
    "facet_lang_source": """
        WITH u AS (
          SELECT 'lang' AS field, lang::VARCHAR AS value, count(*)::BIGINT AS n
          FROM documents WHERE lang IS NOT NULL GROUP BY lang
          UNION ALL
          SELECT 'source', source::VARCHAR, count(*)::BIGINT
          FROM documents WHERE source IS NOT NULL GROUP BY source
        )
        SELECT field, value, n FROM u
        QUALIFY row_number() OVER (PARTITION BY field ORDER BY n DESC, value ASC) <= 100
    """,
    "filter_infiscript": """
        SELECT doc_id, lang, source, n_chars FROM documents
        WHERE lang = 'en' AND n_chars >= 300 AND NOT contains(source, '9')
    """,
    "filter_infiscript_advanced": """
        SELECT doc_id, lang, source, n_chars FROM documents
        WHERE source IN ('src1','src2','src3')
           OR (n_chars BETWEEN 100 AND 180 AND regexp_matches(lang, '^(en|es)$'))
           OR (CASE WHEN lang = 'zh' THEN n_chars >= 200 ELSE text LIKE '%window merge%' END)
    """,
    "sort_limit": """
        SELECT doc_id, n_chars FROM documents
        ORDER BY n_chars DESC, doc_id ASC LIMIT 20
    """,
    "boost_sort": """
        SELECT doc_id,
               round(n_chars / 1000.0
                     + (CASE WHEN lang = 'en' THEN 10.0 ELSE 0.0 END)
                     + (CASE WHEN source LIKE '%1' THEN 5.0 ELSE 0.0 END), 4) AS score
        FROM documents
        ORDER BY score DESC, doc_id ASC LIMIT 50
    """,
    "doc_lookup": "SELECT doc_id, lang, source, n_chars FROM documents WHERE doc_id = 42",
    "dedup_exact": """
        SELECT md5(text) AS text_hash, count(*)::BIGINT AS n_docs, min(doc_id) AS keeper
        FROM documents GROUP BY md5(text)
    """,
    "token_count": r"""
        SELECT doc_id,
               len(list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> ''))::BIGINT AS n_tokens,
               len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))::BIGINT AS n_pieces,
               length(text)::BIGINT AS n_chars_seen
        FROM documents
    """,
    "quality_score": rf"""
        WITH base AS (
          SELECT doc_id,
                 len(list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> ''))::DOUBLE AS n_words,
                 length(text)::DOUBLE AS n_chars,
                 len(list_filter(regexp_split_to_array(lower(text), '\s+'),
                                 x -> list_contains({_EN}, x)))::DOUBLE AS stop_hits,
                 len(regexp_extract_all(text, '[^\w\s]'))::DOUBLE AS punct,
                 len(regexp_extract_all(text, '[A-Z]'))::DOUBLE AS upper
          FROM documents
        )
        SELECT doc_id,
               round((n_chars - n_words + 1) / n_words, 6) AS mean_word_len,
               round(stop_hits / n_words, 6) AS stopword_ratio,
               round(punct / n_chars, 6) AS punct_ratio,
               round(upper / n_chars, 6) AS upper_ratio,
               round(((CASE WHEN (n_chars - n_words + 1) / n_words BETWEEN 3 AND 10 THEN 0.4 ELSE 0.0 END)
                   + (CASE WHEN stop_hits / n_words >= 0.05 THEN 0.3 ELSE 0.0 END)
                   + (CASE WHEN punct / n_chars <= 0.2 THEN 0.2 ELSE 0.0 END)
                   + (CASE WHEN upper / n_chars <= 0.3 THEN 0.1 ELSE 0.0 END))::DOUBLE, 2) AS quality
        FROM base
    """,
    "lang_id": rf"""
        WITH v AS (
          SELECT doc_id,
                 len(list_filter(regexp_split_to_array(lower(text), '\s+'), x -> list_contains({_EN}, x)))::BIGINT AS en,
                 len(list_filter(regexp_split_to_array(lower(text), '\s+'), x -> list_contains({_ES}, x)))::BIGINT AS es,
                 len(list_filter(regexp_split_to_array(lower(text), '\s+'), x -> list_contains({_DE}, x)))::BIGINT AS de,
                 len(list_filter(regexp_split_to_array(lower(text), '\s+'), x -> list_contains({_FR}, x)))::BIGINT AS fr
          FROM documents
        )
        SELECT doc_id,
               CASE WHEN greatest(en, es, de, fr) <= 0 THEN 'unknown'
                    WHEN de = greatest(en, es, de, fr) THEN 'de'
                    WHEN en = greatest(en, es, de, fr) THEN 'en'
                    WHEN es = greatest(en, es, de, fr) THEN 'es'
                    ELSE 'fr' END AS lang_guess,
               greatest(en, es, de, fr)::BIGINT AS votes
        FROM v
    """,
    "ann_ivf_topk": """
        WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
        SELECT e.vec_id,
               round(list_dot_product(e.embedding::DOUBLE[], q.qv)
                     / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                        * sqrt(list_dot_product(q.qv, q.qv))), 4) AS cosine
        FROM embeddings e, q
        ORDER BY cosine DESC, e.vec_id ASC
        LIMIT 10
    """,
    "ann_ivf_arrow_topk": """
        WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
        SELECT e.vec_id,
               round(list_dot_product(e.embedding::DOUBLE[], q.qv)
                     / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                        * sqrt(list_dot_product(q.qv, q.qv))), 4) AS cosine
        FROM embeddings e, q
        ORDER BY cosine DESC, e.vec_id ASC
        LIMIT 10
    """,
    "sq1_word_docs": f"""
        WITH norm AS (
          SELECT doc_id, {_normalize_sql('text')} AS t FROM documents
        ),
        w AS (
          SELECT DISTINCT doc_id, s.w AS w
          FROM norm, unnest(regexp_split_to_array(t, '{{DELIMS}}+')) AS s(w)
          WHERE length(s.w) = 1
        )
        SELECT w AS word, count(*)::BIGINT AS n_docs
        FROM w
        WHERE w IN ('a','i','o','x','z','q')
        GROUP BY w
    """.replace("{DELIMS}", _delim_class_sql()),
    "ann_cosine_topk": """
        WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
        SELECT e.vec_id,
               round(list_dot_product(e.embedding::DOUBLE[], q.qv)
                     / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                        * sqrt(list_dot_product(q.qv, q.qv))), 4) AS cosine
        FROM embeddings e, q
        ORDER BY cosine DESC, e.vec_id ASC
        LIMIT 10
    """,
}
