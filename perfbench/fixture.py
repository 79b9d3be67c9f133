"""The per-checkout fixture: the base index and the kernel oracle.

The 20k-doc base index takes two to three minutes to build in a fresh JVM,
and the kernel oracle about as long: the expected answers of every pooled
query (``KernelIndex.search`` and, for the rerank panel,
``FullSearch.search``) from a kernel over the base corpus, and again from
a kernel over the base corpus plus the ingest batch. Both are built once
and cached under
``.perfbench/``, keyed by a hash of the engine's source, the corpus
parameters and this benchmark's input code. A change to any of them
rebuilds the fixture. Nothing of it is timed, except that the Spark event
log of the base build is kept: it is where a traced search run reads the
build layers from.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time

from perfbench import corpus

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE = os.path.join(ROOT, ".perfbench")
BM25_POOL = 600
RERANK_POOL = 16  # the rerank panel
K = 10


def source_key() -> str:
    h = hashlib.sha256()
    h.update(repr((corpus.BASE_DOCS, corpus.CORPUS_SEED, BM25_POOL, RERANK_POOL, K)).encode())
    files = [os.path.join(ROOT, "perfbench", f) for f in ("corpus.py", "fixture.py")]
    for d, _, names in os.walk(os.path.join(ROOT, "infidex_spark")):
        files += [os.path.join(d, n) for n in names if n.endswith(".py")]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


class Fixture:
    def __init__(self, path: str):
        self.path = path
        self.base_dir = os.path.join(path, "base")
        with open(os.path.join(path, "oracle.json")) as f:
            o = json.load(f)
        with open(os.path.join(path, "oracle-ingest.json")) as f:
            after = json.load(f)
        self.bm25_pool: list[str] = o["bm25_pool"]
        self.rerank_pool: list[str] = o["rerank_pool"]
        # query -> [[doc_key, score], ...] (BM25) / [doc_key, ...] (rerank)
        self.bm25: dict[str, list] = o["bm25"]
        self.rerank: dict[str, list] = o["rerank"]
        # the same after the ingest batch, plus each rerank query's
        # FullSearch candidates (stage-1 top coverage_depth and the
        # WordMatcher docs)
        self.ingest_bm25: dict[str, list] = after["bm25"]
        self.ingest_rerank: dict[str, list] = after["rerank"]
        self.ingest_rerank_cands: dict[str, list] = after["rerank_cands"]
        self.input_bytes: int = o["input_bytes"]
        self.event_log = os.path.join(path, "eventlog")


def path() -> str:
    return os.path.join(STATE, "fixture-" + source_key())


def build_part(part: str, start_spark, log) -> None:
    """Write one part of the fixture into ``path() + ".tmp"``: ``index``
    (the Spark base index and its build's event log), ``oracle`` (the
    kernel's answers to every pooled query) or ``oracle-ingest`` (the same
    after the ingest batch). The parts are independent, so they are built
    by three processes at once. ``start_spark(event_log_dir)`` starts the
    session."""
    tmp = path() + ".tmp"
    docs = corpus.base_docs()
    t0 = time.monotonic()
    if part == "index":
        _build_index(start_spark(os.path.join(tmp, "eventlog")), docs, os.path.join(tmp, "base"))
        log(f"fixture: base index built in {time.monotonic() - t0:.1f} s")
        return

    from infidex_spark.kernel.engine import FullSearch, KernelIndex
    from infidex_spark.kernel.normalize import normalize

    bm25_pool = corpus.query_pool(BM25_POOL, corpus.CORPUS_SEED)
    rerank_pool = corpus.query_pool(RERANK_POOL, corpus.CORPUS_SEED, rerank=True)
    kernel = KernelIndex()
    kernel.index_documents(docs)
    if part == "oracle-ingest":
        kernel.index_documents(corpus.batch_docs()[0])
    full = FullSearch(kernel)
    oracle = {
        "bm25": {q: [[d, float(s)] for d, s in kernel.search(q, K)] for q in bm25_pool},
        "rerank": {q: [d for d, _, _ in full.search(q, K)] for q in rerank_pool},
    }
    if part == "oracle":
        oracle.update(
            bm25_pool=bm25_pool,
            rerank_pool=rerank_pool,
            input_bytes=sum(len(t.encode()) for _, t in docs),
        )
    else:
        oracle["rerank_cands"] = {
            q: sorted(
                {d for d, _ in kernel.search(q, full.setup.coverage_depth)}
                | {kernel.doc_keys[i] for i in full._word_matcher_docs(normalize(q.strip()).lower())}
            )
            for q in rerank_pool
        }
    with open(os.path.join(tmp, f"{part}.json"), "w") as f:
        json.dump(oracle, f)
    log(f"fixture: {part} built in {time.monotonic() - t0:.1f} s")


def publish() -> Fixture:
    """Move the finished ``.tmp`` fixture into place and drop fixtures of
    older sources."""
    final = path()
    for name in os.listdir(STATE):
        if name.startswith("fixture-") and not final.endswith(name.removesuffix(".tmp")):
            shutil.rmtree(os.path.join(STATE, name), ignore_errors=True)
    os.rename(final + ".tmp", final)
    return Fixture(final)


def _build_index(spark, docs: list[tuple[int, str]], out: str) -> None:
    import pandas as pd

    from infidex_spark.build.indexer import build_index

    pdf = pd.DataFrame(
        {
            "doc_id": range(len(docs)),
            "doc_key": [k for k, _ in docs],
            "text": [t for _, t in docs],
        }
    )
    # the full production table set, as bench.py builds it
    build_index(spark, spark.createDataFrame(pdf), out, short_precompute=True)
