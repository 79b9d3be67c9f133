#!/usr/bin/env python3
"""Paired A/B of the full index build (short_precompute=True) between
two source trees: alternating back-to-back runs so the host's
memory-phase swings inflate both halves of a pair together and cancel
in the ratio (the round-6 paired-design methodology). Each build runs
in a fresh subprocess/JVM with PYTHONPATH pointing at its tree.

Usage: [SPARK_GRAFT_CPUS=N] python tools/ab_build_r07.py <old_tree> <new_tree> [pairs] [docs]
Spark runs local[N] with the session default N (SPARK_GRAFT_CPUS, 32
when unset). Writes _work/ab_build_r07.json.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CHILD = r"""
import json, os, sys, time
tree = sys.argv[1]
n_docs = int(sys.argv[2])
out_dir = sys.argv[3]
sys.path.insert(0, tree)
import numpy as np
def canary():
    t0 = time.monotonic(); fresh = np.empty(8 << 20); fresh[::512] = 1.0
    return round(64 / max(time.monotonic() - t0, 1e-9))
from infidex_spark.build.indexer import build_index
from infidex_spark.session import get_spark
from infidex_spark.webtext import generate_webtext, with_doc_ids
spark = get_spark(app_name="ab-build")
docs = (
    with_doc_ids(generate_webtext(spark, n_docs, seed=42))
    .selectExpr("doc_id", "doc_id as doc_key", "text").persist()
)
docs.count()
c0 = canary()
t0 = time.monotonic()
build_index(spark, docs, out_dir, n_buckets=32, salts=8, short_precompute=True)
wall = round(time.monotonic() - t0, 2)
c1 = canary()
spark.stop()
print(json.dumps({"wall": wall, "canary_start": c0, "canary_end": c1}))
"""


def run_one(tree: str, n_docs: int, out_dir: str) -> dict:
    env = dict(os.environ)
    env["PYTHONPATH"] = tree
    r = subprocess.run(
        [sys.executable, "-c", CHILD, tree, str(n_docs), out_dir],
        capture_output=True, text=True, env=env, cwd=tree,
    )
    line = r.stdout.strip().splitlines()[-1] if r.stdout.strip() else ""
    try:
        return json.loads(line)
    except Exception:
        return {"wall": None, "err": r.stderr[-500:]}


def main() -> None:
    old_tree = sys.argv[1]
    new_tree = sys.argv[2]
    pairs = int(sys.argv[3]) if len(sys.argv) > 3 else 4
    n_docs = int(sys.argv[4]) if len(sys.argv) > 4 else 200_000
    res = {"n_docs": n_docs, "pairs": []}
    for i in range(pairs):
        # alternate order within pairs to cancel slow drifts too
        order = [("old", old_tree), ("new", new_tree)]
        if i % 2:
            order.reverse()
        pair = {}
        for label, tree in order:
            out = os.path.join("/tmp", f"ab_idx_{label}")
            t = run_one(tree, n_docs, out)
            pair[label] = t
            print(f"pair {i} {label}: {t}", flush=True)
        if pair["old"].get("wall") and pair["new"].get("wall"):
            pair["ratio_new_over_old"] = round(
                pair["new"]["wall"] / pair["old"]["wall"], 3
            )
        res["pairs"].append(pair)
    ratios = sorted(
        p["ratio_new_over_old"]
        for p in res["pairs"]
        if "ratio_new_over_old" in p
    )
    if ratios:
        res["median_ratio_new_over_old"] = ratios[len(ratios) // 2]
    os.makedirs(os.path.join(REPO, "_work"), exist_ok=True)
    with open(os.path.join(REPO, "_work", "ab_build_r07.json"), "w") as f:
        json.dump(res, f, indent=1)
    print(json.dumps(res, indent=1))


if __name__ == "__main__":
    main()
