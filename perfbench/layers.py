"""Per-layer metrics of a traced run, from the span tracer, the Spark event
log and the index manifests. Every workload reports every metric; a layer
a workload does not exercise reads 0 there. Times are per operation of
the kind that drives the layer: ``executor.*`` and ``wand.*`` per BM25
query, ``rerank.*`` per rerank query, ``streaming.*`` per ingest cycle.
``build.*`` covers the ingest cycle's delta build on ingest and the
fixture's base build on search. See README.md for which end-to-end metric
each one moves.
"""

from __future__ import annotations

import json
import os

from perfbench.trace import BUILD_JOBS, event_log_layers

TABLES = (
    "postings", "prefix_postings", "prefixes", "wm_words", "doc_store.arrow",
    "doc_meta", "doc_stats", "champions", "variants", "pattern_scores",
    "pattern_scores.arrow", "sq_topk", "sq_fuzzy", "char_terms",
)


def names() -> list[tuple[str, str]]:
    """(metric, unit) of every per-layer metric, in report order."""
    out = [
        ("session.start_s", "s"),
        ("executor.open_ms", "ms"),
        ("executor.prewarm_ms", "ms"),
        ("executor.search_self_ms", "ms"),
        ("executor.fetch_terms_ms", "ms"),
        ("executor.fetch_terms_calls", "count"),
        ("executor.terms_fetched", "count"),
        ("executor.doc_lengths_ms", "ms"),
        ("executor.read_bytes", "B"),
        ("wand.topk_ms", "ms"),
        ("wand.calls", "count"),
        ("rerank.open_ms", "ms"),
        ("rerank.stage1_ms", "ms"),
        ("rerank.reader_ms", "ms"),
        ("rerank.doc_texts_ms", "ms"),
        ("rerank.build_views_ms", "ms"),
        ("rerank.coverage_ms", "ms"),
        ("rerank.self_ms", "ms"),
        ("streaming.append_delta_s", "s"),
        ("streaming.delta_build_s", "s"),
        ("streaming.id_assign_s", "s"),
        ("streaming.delete_docs_ms", "ms"),
        ("streaming.segments", "count"),
    ]
    out += [(f"build.{job}.wall_s", "s") for job in BUILD_JOBS]
    out += [
        ("build.executor_cpu_s", "s"),
        ("build.shuffle_write_bytes", "B"),
        ("build.spark_jobs", "count"),
        ("build.tasks", "count"),
        ("build.slot_occupancy", "ratio"),
        ("build.index_bytes_per_input_byte", "ratio"),
    ]
    out += [(f"build.table_bytes.{t}", "B") for t in TABLES]
    out += [
        ("jvm_rss_mb", "MB"),
        ("trace.overhead_ms", "ms"),
        ("trace.overhead_pct", "%"),
    ]
    return out


def per_layer(workload, tracer, rec, r, record, event_log, n_cores) -> dict:
    """``event_log``: the ingest run's own log, or on search the log of the
    fixture's base build."""
    t = tracer
    n_bm = max(len(rec.lat["bm25"]) + len(rec.lat["bm25_hot"]), 1)
    n_rr = max(len(rec.lat["rerank"]), 1)

    def ms(table, kind, name, per, parent=None):
        return t.total(table, kind, name, parent) / 1e6 / per

    def per_call_ms(name):
        return ms(t.incl_ns, None, name, max(t.total(t.calls, None, name), 1))

    rr_reader = sum(
        ms(t.incl_ns, "rerank", n, n_rr, parent="rerank.search")
        for n in ("executor.fetch_terms", "executor.doc_lengths")
    )
    cov_incl = ms(t.incl_ns, "rerank", "rerank.coverage", n_rr)
    views = ms(t.incl_ns, "rerank", "rerank.build_views", n_rr)
    v: dict[str, float] = {
        "session.start_s": record.get("session_start_s", 0.0),
        "executor.open_ms": per_call_ms("executor.open"),
        "executor.prewarm_ms": per_call_ms("executor.prewarm"),
        "executor.search_self_ms": ms(t.self_ns, "bm25", "executor.search", n_bm),
        "executor.fetch_terms_ms": ms(t.incl_ns, "bm25", "executor.fetch_terms", n_bm),
        "executor.fetch_terms_calls": t.total(t.calls, "bm25", "executor.fetch_terms") / n_bm,
        "executor.terms_fetched": t.counts[("bm25", "executor.fetch_terms.terms")] / n_bm,
        "executor.doc_lengths_ms": ms(t.incl_ns, "bm25", "executor.doc_lengths", n_bm),
        "executor.read_bytes": rec.read_chars["bm25"] / n_bm,
        "wand.topk_ms": ms(t.incl_ns, "bm25", "wand.topk", n_bm),
        "wand.calls": t.total(t.calls, "bm25", "wand.topk") / n_bm,
        "rerank.open_ms": per_call_ms("rerank.open"),
        "rerank.stage1_ms": ms(t.incl_ns, "rerank", "rerank.stage1", n_rr),
        "rerank.reader_ms": rr_reader,
        "rerank.doc_texts_ms": ms(t.incl_ns, "rerank", "rerank.doc_texts", n_rr),
        "rerank.build_views_ms": views,
        "rerank.coverage_ms": cov_incl - views,
        "rerank.self_ms": ms(t.self_ns, "rerank", "rerank.search", n_rr),
        "streaming.append_delta_s": ms(t.incl_ns, "cycle", "streaming.append_delta", 1) / 1e3,
        "streaming.delta_build_s": ms(t.incl_ns, "cycle", "streaming.delta_build", 1) / 1e3,
        "streaming.id_assign_s": ms(t.self_ns, "cycle", "streaming.append_delta", 1) / 1e3,
        "streaming.delete_docs_ms": per_call_ms("streaming.delete_docs"),
        "streaming.segments": r.get("segments", 1),
        "jvm_rss_mb": record.get("jvm_rss_mb", 0.0),
    }
    # the whole log on search; on ingest the cycle's window, which leaves
    # out the createDataFrame jobs before it
    window = tuple(r["window_ms"]) if workload == "ingest" else (0, float("inf"))
    v.update(event_log_layers(event_log, n_cores, window))
    if workload == "ingest":
        tables, input_bytes = r["delta_bytes"], r["batch_bytes"]
    else:
        with open(os.path.join(r["base_dir"], "MANIFEST.json")) as f:
            tables = json.load(f)["table_bytes"]
        input_bytes = r["input_bytes"]
    for tname in TABLES:
        v[f"build.table_bytes.{tname}"] = tables.get(tname, 0)
    v["build.index_bytes_per_input_byte"] = sum(tables.values()) / input_bytes
    ov = r["overhead"]
    v["trace.overhead_ms"] = ov["overhead_ms"]
    v["trace.overhead_pct"] = 100.0 * ov["overhead_ms"] / ov["untraced_ms"]
    return {name: (float(v[name]), unit) for name, unit in names()}
