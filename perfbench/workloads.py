"""The two workloads. Both are closed loops with one caller thread -- the
engine is an in-process library call with no queue, so that is its real
traffic -- and both report the same end-to-end metrics. In both, a fixed
schedule spreads every kind of operation evenly over the timed phase
(``interleave``).

search
    The cached 20k-doc base index (full production table set), one
    ``IndexReader``, Spark not running. BM25 ``QueryExecutor.search``
    queries from a seeded hot/fresh stream; the 16-query rerank panel
    through ``RerankExecutor.search`` on a fresh reader and executor every
    few queries (the cold rerank case); tombstone deletes made visible by
    reopening a ``MultiReader`` (the read side of freshness, no Spark);
    and set-ups.

ingest
    A copy of the same base index, Spark running, one cycle:
    ``append_delta`` of a 1k-doc batch, ``delete_docs`` of a few keys, a
    reopened ``MultiReader`` that must show the batch; then BM25 queries,
    the rerank panel and set-ups over the two-segment index with cold
    caches."""

from __future__ import annotations

import gc
import json
import os
import shutil
import statistics
import time

import numpy as np

from perfbench import corpus
from perfbench.fixture import K, STATE
from perfbench.trace import read_chars

WARM_QUERY = "quick search"
RERANK_FRESH_EVERY = 4  # rerank queries per fresh reader + executor
SETUP_REPS = 9
BM25_PER_SECOND = 60  # search
SEARCH_UPDATES = 15
BURST_BM25 = 300  # ingest
# 1k-doc deltas get 4 hash buckets (~250 docs each); the 32 of a base
# build would cut each batch into 32 files of ~30 docs
DELTA_BUCKETS = 4
OVERHEAD_QUERIES = 300


class Recorder:
    """Latencies, per-operation results for the correctness check, and
    the attempted/failed tally."""

    def __init__(self, tracer) -> None:
        self.tracer = tracer
        # "bm25": fresh queries, "bm25_hot": repeats of the hot set
        self.lat: dict[str, list[float]] = {"bm25": [], "bm25_hot": [], "rerank": []}
        self.results: list[tuple[str, str, list]] = []  # kind, q, hits
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.read_chars = {"bm25": 0, "rerank": 0}

    def fail(self, why: str) -> None:
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(why)

    def op(self, kind: str, fn, q: str, hot: bool = False):
        """Time one operation; an exception is a failed operation."""
        self.attempted += 1
        tr = self.tracer
        if tr is not None:
            tr.kind = kind
            rc = read_chars()
        t = time.perf_counter()
        try:
            hits = fn(q, K)
        except Exception as e:  # a failed operation, not a failed run
            self.fail(f"{kind} {q!r}: {type(e).__name__}: {e}")
            return None
        self.lat[kind + "_hot" if hot else kind].append((time.perf_counter() - t) * 1e3)
        if tr is not None:
            self.read_chars[kind] += read_chars() - rc
        self.results.append((kind, q, hits))
        return hits


def open_reader(reader_cls, index_dir: str):
    """Open a reader and do its store-open work (term dictionaries, store
    handles) now, as RerankExecutor does for its own reader, instead of
    leaving it to the first queries."""
    reader = reader_cls(index_dir)
    for r in getattr(reader, "readers", [reader]):
        r.prewarm_postings_meta()
    return reader


def open_executors(reader_cls, index_dir: str):
    from infidex_spark.query.executor import QueryExecutor
    from infidex_spark.query.rerank import RerankExecutor

    ex = QueryExecutor(open_reader(reader_cls, index_dir))
    ex.search(WARM_QUERY, K)
    rr = RerankExecutor(reader_cls(index_dir))
    rr.search(WARM_QUERY, K)
    return ex, rr


def setup_once(reader_cls, index_dir: str, tracer) -> float:
    """One set-up, from a collected heap: open the index, build both
    executors and answer the first BM25 and rerank query."""
    gc.collect()
    if tracer is not None:
        tracer.kind = "setup"
    t = time.perf_counter()
    ex, rr = open_executors(reader_cls, index_dir)
    wall = time.perf_counter() - t
    ex.r.close()
    rr.r.close()
    return wall


def interleave(counts: dict[str, int]) -> list[str]:
    """A fixed schedule that spreads each kind's operations evenly over the
    run, so that every median spans the whole run. The host's speed drifts
    within seconds; a kind timed in one stretch would catch one phase."""
    slots = [((i + 0.5) / n, kind) for kind, n in counts.items() for i in range(n)]
    return [kind for _, kind in sorted(slots)]


class QueryMix:
    """Operations: BM25 queries from a seeded hot/fresh stream, and the
    queries of the fixed rerank panel, in panel order. The
    rerank executor is replaced every RERANK_FRESH_EVERY queries so its
    caches start cold; with a fixed order every run groups the same
    queries on a cold executor."""

    def __init__(self, fx, seed: int) -> None:
        self.bm25 = corpus.QueryStream(fx.bm25_pool, seed)
        self.panel = fx.rerank_pool
        self.n_rerank = 0
        self.rr = None

    def bm25_op(self, rec: Recorder, ex) -> None:
        q, hot = self.bm25.next()
        rec.op("bm25", ex.search, q, hot)

    def rerank_op(self, rec: Recorder, new_rerank) -> None:
        if self.n_rerank % RERANK_FRESH_EVERY == 0:
            self.close()
            if rec.tracer is not None:
                rec.tracer.kind = "open"
            self.rr = new_rerank()
        q = self.panel[self.n_rerank % len(self.panel)]
        self.n_rerank += 1
        rec.op("rerank", self.rr.search, q)

    def close(self) -> None:
        if self.rr is not None:
            self.rr.r.close()
            self.rr = None


def tracing_overhead(tracer, new_executor, rec: Recorder) -> dict:
    """Replay the run's first BM25 queries on two executors warmed by one
    pass over them, each query once untraced on one (the original
    functions in place) and once traced on the other (the wrappers in
    place), alternating which goes first; the overhead is the difference
    of the two median latencies."""
    queries = [q for kind, q, _ in rec.results if kind == "bm25"][:OVERHEAD_QUERIES]
    tracer.kind = "overhead"
    exs = {False: new_executor(), True: new_executor()}
    for ex in exs.values():
        for q in queries:
            ex.search(q, K)
    lat: dict[bool, list[float]] = {False: [], True: []}
    for i, q in enumerate(queries):
        for traced in ((False, True) if i % 2 else (True, False)):
            if not traced:
                tracer.suspend()
            t = time.perf_counter()
            exs[traced].search(q, K)
            lat[traced].append((time.perf_counter() - t) * 1e3)
            tracer.resume()
    for ex in exs.values():
        ex.r.close()
    med = {k: statistics.median(v) for k, v in lat.items()}
    return {"overhead_ms": med[True] - med[False], "untraced_ms": med[False]}


# ---------------------------------------------------------------- search


def run_search(fx, seed: int, seconds: float, tracer) -> dict:
    from infidex_spark.query.executor import IndexReader, MultiReader, QueryExecutor
    from infidex_spark.query.rerank import RerankExecutor
    from infidex_spark.streaming import incremental

    # updates: tombstone a few keys of a query's expected top hits in a
    # private copy of the index; visible once a reopened reader drops them.
    # The same queries every run (their top hits disjoint, so deletes do
    # not interact), in seeded order.
    work = os.path.join(STATE, "work-search")
    shutil.rmtree(work, ignore_errors=True)
    shutil.copytree(fx.base_dir, work)
    updates, taken = [], set()
    for q in fx.bm25_pool:
        top = [d for d, _ in fx.bm25[q]]
        if len(top) == K and not taken & set(top):
            updates.append((q, top))
            taken.update(top)
        if len(updates) == SEARCH_UPDATES:
            break
    order = iter(np.random.default_rng([seed, 41]).permutation(len(updates)))
    os.sync()  # no writeback of the copy during the timed phase

    rec = Recorder(tracer)
    mix = QueryMix(fx, seed)
    ex = QueryExecutor(open_reader(IndexReader, fx.base_dir))
    setup, visible = [], []
    # a fixed amount of work, sized to take about ``seconds`` on 4 cores: a run
    # that does less of it would weigh the reader's cold start more
    schedule = interleave({
        "bm25": int(BM25_PER_SECOND * seconds),
        "rerank": len(mix.panel),
        "update": len(updates),
        "setup": SETUP_REPS,
    })
    for op in schedule:
        if op == "bm25":
            mix.bm25_op(rec, ex)
        elif op == "rerank":
            mix.rerank_op(rec, lambda: RerankExecutor(IndexReader(fx.base_dir)))
        elif op == "setup":
            setup.append(setup_once(IndexReader, fx.base_dir, tracer))
        else:
            q, top = updates[next(order)]
            update(rec, incremental, MultiReader, QueryExecutor, work, q, top, visible)
    mix.close()
    ex.r.close()
    shutil.rmtree(work, ignore_errors=True)
    out: dict = {
        "setup_s": median(setup),
        "update_visible_s": median(visible),
        "rss_mb": rss_mb(),
        "base_dir": fx.base_dir,
        "input_bytes": fx.input_bytes,
    }
    if tracer is not None:
        out["overhead"] = tracing_overhead(
            tracer, lambda: QueryExecutor(open_reader(IndexReader, fx.base_dir)), rec
        )
    for kind, q, hits in rec.results:
        check(rec, kind, q, hits, fx.bm25.get(q) if kind == "bm25" else fx.rerank.get(q))
    out["rec"] = rec
    return out


def update(rec, incremental, reader_cls, executor_cls, work, q, top, visible) -> None:
    """Delete two of ``q``'s top hits; a reopened reader must drop them and
    move the rest up."""
    keys = top[:2]
    rec.attempted += 1
    if rec.tracer is not None:
        rec.tracer.kind = "update"
    t = time.perf_counter()
    try:
        incremental.delete_docs(work, keys)
        reader = open_reader(reader_cls, work)
        hits = executor_cls(reader).search(q, K)
    except Exception as e:
        rec.fail(f"update {q!r}: {type(e).__name__}: {e}")
        return
    visible.append(time.perf_counter() - t)
    reader.close()
    got = [d for d, _ in hits]
    if set(keys) & set(got) or got[: K - 2] != top[2:]:
        rec.fail(f"update {q!r}: deleted {keys} -> {got}")


def check(rec: Recorder, kind: str, q: str, hits, want, prefix: bool = False) -> None:
    """BM25: rank- and score-identical to the kernel (rtol 1e-5, as the
    golden tests). Rerank: rank-identical to the kernel FullSearch. With
    ``prefix`` only the first len(want) hits are compared."""
    if want is None:
        rec.fail(f"{kind} {q!r}: no oracle expectation")
        return
    want_keys = [w[0] for w in want] if kind == "bm25" else list(want)
    if prefix:
        hits = hits[: len(want_keys)]
    ok = [h[0] for h in hits] == want_keys
    if ok and kind == "bm25":
        ok = np.allclose([h[1] for h in hits], [w[1] for w in want], rtol=1e-5, atol=0.0)
    if not ok:
        rec.fail(f"{kind} {q!r}: got {hits} want {want}")


def median(xs: list[float]) -> float:
    """Median, or 0 when every operation of the kind failed (the run then
    reports them as failed)."""
    return statistics.median(xs) if xs else 0.0


def rss_mb() -> float:
    import resource

    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


# ---------------------------------------------------------------- ingest

DELETES = 4


def run_ingest(fx, spark, seed: int, tracer, log) -> dict:
    """One cycle. The set-ups open the two-segment index the cycle leaves,
    interleaved with the queries after it."""
    from infidex_spark.query.executor import MultiReader, QueryExecutor
    from infidex_spark.query.rerank import RerankExecutor
    from infidex_spark.streaming import incremental

    work = os.path.join(STATE, "work-ingest")
    shutil.rmtree(work, ignore_errors=True)
    shutil.copytree(fx.base_dir, work)
    os.sync()
    out: dict = {}
    rec = Recorder(tracer)
    mix = QueryMix(fx, seed)
    rng = np.random.default_rng([seed, 53])
    docs, marker = corpus.batch_docs()
    batch_keys = {k for k, _ in docs}
    df = spark.createDataFrame(docs, "doc_key long, text string")
    # delete keys the oracle ranks highly, plus one key of the batch
    q = fx.bm25_pool[int(rng.integers(len(fx.bm25_pool)))]
    while not fx.bm25[q]:
        q = fx.bm25_pool[int(rng.integers(len(fx.bm25_pool)))]
    tomb = {d for d, _ in fx.bm25[q][: DELETES - 1]}
    tomb.add(docs[int(rng.integers(len(docs)))][0])
    if tracer is not None:
        tracer.kind = "cycle"
    rec.attempted += 1
    out["window_ms"] = [int(time.time() * 1000), 0]
    t0 = time.perf_counter()
    try:
        incremental.append_delta(spark, df, work, 0, n_buckets=DELTA_BUCKETS)
        incremental.delete_docs(work, sorted(tomb))
        ex = QueryExecutor(open_reader(MultiReader, work))
        probe = ex.search(marker, K)
    except Exception as e:
        rec.fail(f"cycle: {type(e).__name__}: {e}")
        out.update(rec=rec, setup_s=0.0, update_visible_s=0.0, rss_mb=rss_mb(), segments=0)
        return out
    out["update_visible_s"] = time.perf_counter() - t0
    got = [d for d, _ in probe]
    if not got or got[0] not in batch_keys or tomb & set(got):
        rec.fail(f"cycle: batch not visible via {marker!r}: {got}")
    out["window_ms"][1] = int(time.time() * 1000)
    setup = []
    for op in interleave({"bm25": BURST_BM25, "rerank": len(mix.panel), "setup": SETUP_REPS}):
        if op == "bm25":
            mix.bm25_op(rec, ex)
        elif op == "rerank":
            mix.rerank_op(rec, lambda: RerankExecutor(MultiReader(work)))
        else:
            setup.append(setup_once(MultiReader, work, tracer))
    mix.close()
    ex.r.close()
    out["setup_s"] = median(setup)
    out["rss_mb"] = rss_mb()
    out["segments"] = len(MultiReader(work).readers)
    if tracer is not None:
        out["overhead"] = tracing_overhead(
            tracer, lambda: QueryExecutor(open_reader(MultiReader, work)), rec
        )
    with open(os.path.join(work, "deltas", "delta_000000", "MANIFEST.json")) as f:
        out["delta_bytes"] = json.load(f)["table_bytes"]
    out["batch_bytes"] = sum(len(t.encode()) for _, t in docs)
    out["rec"] = rec
    shutil.rmtree(work, ignore_errors=True)
    _check_ingest(fx, rec, tomb, log)
    return out


def _check_ingest(fx, rec: Recorder, tomb: set[int], log) -> None:
    """Every result against the kernel's answers after the batch, and none
    may hold a tombstoned key. Tombstoned docs are dropped from the
    executors' candidates before scoring, and the kernel has no
    tombstones, so:

    - BM25: when the kernel's top-k holds no tombstoned key the hits must
      equal it; otherwise its surviving keys must lead the hits in order
      (the candidates the kernel picked for k are the executor's too);
    - rerank: rank-identical to FullSearch when no tombstoned doc is among
      FullSearch's candidates; otherwise only the tombstone check applies.
    """
    unverified = 0
    for kind, q, hits in rec.results:
        keys = [h[0] for h in hits]
        if tomb & set(keys):
            rec.fail(f"{kind} {q!r}: tombstoned key returned {sorted(tomb & set(keys))}")
        elif kind == "bm25":
            want = fx.ingest_bm25[q]
            live = [w for w in want if w[0] not in tomb]
            check(rec, kind, q, hits, live, prefix=len(live) < len(want))
        elif tomb & set(fx.ingest_rerank_cands[q]):
            unverified += 1
        else:
            check(rec, kind, q, hits, fx.ingest_rerank[q])
    log(f"ingest oracle check: {unverified} rerank answers not comparable")
