#!/usr/bin/env python3
"""Scale-stress measurement: build an N-doc index and measure the
latency set BASELINE.md tracks across 1M/2M/4M (growth ratios at each
doubling are the evidence that caches hold and nothing super-linear
hides in the query paths).

Usage:
  python tools/stress_scale.py 4000000            # build + measure
  python tools/stress_scale.py 4000000 --reuse    # measure existing

Prints one JSON line; the BASELINE.md table is updated by hand from it
(the numbers need a human eye on loadavg context).
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 4_000_000
    reuse = "--reuse" in sys.argv
    out_dir = os.path.join(REPO, "_work", f"bench_index_{n_docs}")
    result: dict = {"n_docs": n_docs, "loadavg_start": os.getloadavg()}

    if not (reuse and os.path.exists(os.path.join(out_dir, "MANIFEST.json"))):
        from infidex_spark.build.indexer import build_index
        from infidex_spark.session import get_spark
        from infidex_spark.webtext import generate_webtext, with_doc_ids

        spark = get_spark(app_name=f"stress-{n_docs}", cpus=32)
        wt = generate_webtext(spark, n_docs, seed=42)
        docs = (
            with_doc_ids(wt)
            .selectExpr("doc_id", "doc_id as doc_key", "text")
            .persist()
        )
        docs.count()
        t0 = time.monotonic()
        m = build_index(
            spark, docs, out_dir, n_buckets=32, salts=8, short_precompute=True
        )
        result["build_wall_sec"] = round(time.monotonic() - t0, 1)
        result["docs_per_sec"] = round(n_docs / result["build_wall_sec"], 1)
        result["index_mb"] = round(m["index_bytes_total"] / 1e6)
        result["step_secs"] = m["step_secs"]
        spark.stop()

    from infidex_spark.query.executor import IndexReader, QueryExecutor
    from infidex_spark.query.rerank import RerankExecutor

    r = IndexReader(out_dir)
    t0 = time.monotonic()
    r.sq_meta()
    result["sq_meta_load_sec"] = round(time.monotonic() - t0, 3)
    ex = QueryExecutor(r)
    q_times: dict[str, dict] = {}
    for q in ["th", "an", "a b", "qz", "xq", "the of and", "redemption shank"]:
        t0 = time.monotonic()
        ex.search(q, 10)
        first = time.monotonic() - t0
        t0 = time.monotonic()
        ex.search(q, 10)
        q_times[q] = {
            "first_ms": round(first * 1000, 1),
            "warm_ms": round((time.monotonic() - t0) * 1000, 1),
        }
    result["queries"] = q_times

    rr = RerankExecutor(IndexReader(out_dir))
    t0 = time.monotonic()
    rr.search("quick fox", 10)
    cold = time.monotonic() - t0
    t0 = time.monotonic()
    rr.search("quick fox", 10)
    result["rerank_quick_fox"] = {
        "cold_ms": round(cold * 1000, 1),
        "warm_ms": round((time.monotonic() - t0) * 1000, 1),
    }
    result["loadavg_end"] = os.getloadavg()
    print(json.dumps(result))


if __name__ == "__main__":
    main()
