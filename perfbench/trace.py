"""Outside-in layer trace.

Spans are recorded by wrapping the layers' public functions from here,
not by instrumenting the engine. Each span accumulates, per operation
kind (``bm25``, ``rerank``, ``cycle``, ...) and parent span, its inclusive
time and its self time: the span's duration minus what its child spans
cover. A function that re-enters a span of the same name
(``MultiReader.fetch_terms`` calling ``IndexReader.fetch_terms``) is
counted once, at the outermost call. Spans stay in memory; ``spans()`` is
written out with the run's record at the end.

The build layers run inside Spark, so they are read from the Spark event
log instead, by the ``build:<job>`` descriptions ``build_index`` sets.
"""

from __future__ import annotations

import functools
import json
import os
import sys
import time
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class Tracer:
    def __init__(self) -> None:
        self.kind = "setup"
        self._stack: list[list] = []  # [name, start_ns, child_ns]
        self._active: dict[str, int] = defaultdict(int)
        # keyed by (kind, parent span or "", span)
        self.incl_ns: dict[tuple[str, str, str], int] = defaultdict(int)
        self.self_ns: dict[tuple[str, str, str], int] = defaultdict(int)
        self.calls: dict[tuple[str, str, str], int] = defaultdict(int)
        self.counts: dict[tuple[str, str], int] = defaultdict(int)
        self._patches: list[tuple[object, str, object, object]] = []

    def active(self, name: str) -> bool:
        return self._active[name] > 0

    def call(self, name: str, fn, a, kw):
        if self._active[name]:
            return fn(*a, **kw)
        self._active[name] += 1
        frame = [name, time.perf_counter_ns(), 0]
        self._stack.append(frame)
        try:
            return fn(*a, **kw)
        finally:
            dur = time.perf_counter_ns() - frame[1]
            self._stack.pop()
            self._active[name] -= 1
            parent = ""
            if self._stack:
                self._stack[-1][2] += dur
                parent = self._stack[-1][0]
            key = (self.kind, parent, name)
            self.incl_ns[key] += dur
            self.self_ns[key] += dur - frame[2]
            self.calls[key] += 1

    def count(self, name: str, n: int) -> None:
        self.counts[(self.kind, name)] += n

    def spans(self) -> list[dict]:
        return [
            {"kind": k, "parent": p, "name": n, "calls": c,
             "incl_ms": self.incl_ns[(k, p, n)] / 1e6,
             "self_ms": self.self_ns[(k, p, n)] / 1e6}
            for (k, p, n), c in sorted(self.calls.items())
        ]

    def wrap(self, owner, attr: str, name, counter=None) -> None:
        """Replace owner.attr with a span-recording wrapper. ``name`` is a
        string or a callable choosing it per call."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*a, **kw):
            span = name() if callable(name) else name
            out = tracer.call(span, orig, a, kw)
            if counter is not None:
                counter(tracer, a, out)
            return out

        self._patches.append((owner, attr, orig, wrapper))
        setattr(owner, attr, wrapper)

    def suspend(self) -> None:
        """Put the original functions back, keeping the wrappers."""
        for owner, attr, orig, _ in reversed(self._patches):
            setattr(owner, attr, orig)

    def resume(self) -> None:
        for owner, attr, _, wrapper in self._patches:
            setattr(owner, attr, wrapper)

    def uninstall(self) -> None:
        self.suspend()
        self._patches.clear()

    def total(self, table: dict, kind: str | None, name: str, parent: str | None = None) -> int:
        """Sum of ``table`` over the keys matching kind/parent (None: any)."""
        return sum(
            v for (k, p, n), v in table.items()
            if n == name and kind in (None, k) and parent in (None, p)
        )


def install(tracer: Tracer) -> Tracer:
    """Wrap the public functions of query.executor, query.wand,
    query.rerank, kernel.coverage.batch and streaming."""
    from infidex_spark.kernel.coverage import batch
    from infidex_spark.query import executor, rerank, wand
    from infidex_spark.streaming import incremental

    def fetched(t, a, out):
        t.count("executor.fetch_terms.terms", len(out))

    for cls in (executor.IndexReader, executor.MultiReader):
        tracer.wrap(cls, "__init__", "executor.open")
        tracer.wrap(cls, "fetch_terms", "executor.fetch_terms", fetched)
        tracer.wrap(cls, "doc_lengths", "executor.doc_lengths")
        tracer.wrap(cls, "doc_texts", "rerank.doc_texts")
    tracer.wrap(executor.IndexReader, "prewarm_postings_meta", "executor.prewarm")
    tracer.wrap(
        executor.QueryExecutor, "search",
        lambda: "rerank.stage1" if tracer.active("rerank.search") else "executor.search",
    )
    # executor.py imports wand_topk at call time, so the module attribute
    # is what it resolves
    tracer.wrap(wand, "wand_topk", "wand.topk")
    tracer.wrap(rerank.RerankExecutor, "__init__", "rerank.open")
    tracer.wrap(rerank.RerankExecutor, "search", "rerank.search")
    tracer.wrap(batch, "build_views", "rerank.build_views")
    tracer.wrap(batch.BatchCoverage, "compute", "rerank.coverage")
    tracer.wrap(incremental, "append_delta", "streaming.append_delta")
    # append_delta calls the build_index name bound in its own module
    tracer.wrap(incremental, "build_index", "streaming.delta_build")
    tracer.wrap(incremental, "delete_docs", "streaming.delete_docs")
    return tracer


def read_chars() -> int:
    """Bytes this process has read through read()-like syscalls."""
    with open("/proc/self/io") as f:
        for line in f:
            if line.startswith("rchar:"):
                return int(line.split()[1])
    return 0


# ------------------------------------------------------------ event log

# reported build jobs -> the job descriptions build_index sets for them
# (word_family and prefixes re-describe their inner jobs)
BUILD_JOBS = {
    "tokenize": ("tokenize",),
    "term_df_stop": ("term_df_stop",),
    "postings": ("postings",),
    "prefixes": ("prefixes", "prefix_pairs", "doc_meta", "prefix_lists", "champions"),
    "word_family": ("word_family", "wm_words", "sq_words1", "word_tables"),
    "doc_stats": ("doc_stats",),
    "pattern_scores": ("pattern_scores", "pattern_store_write"),
    "sq_topk": ("sq_topk", "sq_sidecar"),
    "sq_fuzzy": ("sq_fuzzy",),
}


def _union_s(intervals: list[tuple[int, int]]) -> float:
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total / 1000.0


def event_log_layers(log_dir: str, n_cores: int, window: tuple[int, int]) -> dict:
    """Per-build-job wall (union of the job intervals), executor CPU,
    shuffle bytes, job and task counts, and slot occupancy of the Spark
    work submitted inside ``window`` (epoch ms)."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import occupancy  # the repo's event-log reader

    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {len(files)}")
    lo, hi = window
    jobs: dict[int, list] = {}
    stage_job: dict[int, int] = {}
    cpu_ns = shuffle = tasks = 0
    for line in occupancy._lines(files[0]):
        if '"Event":"SparkListenerJob' not in line and '"Event":"SparkListenerTaskEnd"' not in line:
            continue
        e = json.loads(line)
        ev = e["Event"]
        if ev == "SparkListenerJobStart":
            if lo <= e["Submission Time"] <= hi:
                desc = (e.get("Properties") or {}).get("spark.job.description") or ""
                jobs[e["Job ID"]] = [desc, e["Submission Time"], None]
                for sid in e.get("Stage IDs", []):
                    stage_job[sid] = e["Job ID"]
        elif ev == "SparkListenerJobEnd" and e["Job ID"] in jobs:
            jobs[e["Job ID"]][2] = e["Completion Time"]
        elif ev == "SparkListenerTaskEnd" and e["Stage ID"] in stage_job:
            tasks += 1
            m = e.get("Task Metrics") or {}
            cpu_ns += m.get("Executor CPU Time", 0)
            shuffle += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    per_desc: dict[str, list] = defaultdict(list)
    for desc, a, b in jobs.values():
        if desc.startswith("build:") and b is not None:
            per_desc[desc[6:]].append((a, b))
    out = {
        f"build.{job}.wall_s": _union_s([iv for d in descs for iv in per_desc.get(d, [])])
        for job, descs in BUILD_JOBS.items()
    }
    out["build.executor_cpu_s"] = cpu_ns / 1e9
    out["build.shuffle_write_bytes"] = float(shuffle)
    out["build.spark_jobs"] = float(len(jobs))
    out["build.tasks"] = float(tasks)
    try:
        out["build.slot_occupancy"] = occupancy.analyze(files[0], n_cores)["utilization"]
    except SystemExit:  # analyze() exits on a log without tasks
        out["build.slot_occupancy"] = 0.0
    return out
