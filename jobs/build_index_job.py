#!/usr/bin/env python3
"""spark-submit entry point for the index build.

Cluster usage (multi-executor):

  python jobs/package.py                      # -> dist/infidex_spark.zip
  spark-submit \
    --master <cluster-master> \
    --py-files dist/infidex_spark.zip \
    --conf spark.sql.adaptive.enabled=true \
    --conf spark.sql.objectHashAggregate.sortBased.fallbackThreshold=10000000 \
    jobs/build_index_job.py \
    --input iceberg:warehouse.crawl.webtext \
    --output s3://bucket/indexes/webtext_v1 \
    --n-buckets 4096 --bucket-groups 64 --resume

Local smoke (this sandbox):

  spark-submit --master 'local[8]' --py-files dist/infidex_spark.zip \
    jobs/build_index_job.py --generate 5000 --output /tmp/submit_idx

The job is resumable: with --resume, completed term buckets (from the
per-bucket checkpoint manifest, which carries lineage + metrics) are
skipped, so a preempted cluster job continues where it stopped.
"""

from __future__ import annotations

import argparse
import json
import sys


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", help="webtext ref: iceberg:<tbl> | table:<tbl> | parquet path")
    p.add_argument("--generate", type=int, default=0, help="generate N synthetic docs instead of --input")
    p.add_argument("--output", required=True, help="index output directory")
    p.add_argument("--n-buckets", type=int, default=32)
    p.add_argument("--bucket-groups", type=int, default=1)
    p.add_argument("--stop-term-limit", type=int, default=1_250_000)
    p.add_argument("--no-aux", action="store_true", help="skip prefix/variant tables")
    p.add_argument("--resume", action="store_true")
    p.add_argument("--seed", type=int, default=42)
    args = p.parse_args()

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    # spark-submit owns master/conf; only fill gaps when launched bare
    spark = SparkSession.builder.appName("infidex-build").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from infidex_spark.build.indexer import build_index
    from infidex_spark.io import read_webtext
    from infidex_spark.webtext import generate_webtext, with_doc_ids

    if args.generate:
        wt = generate_webtext(spark, args.generate, seed=args.seed)
    elif args.input:
        wt = read_webtext(spark, args.input)
    else:
        p.error("need --input or --generate")

    docs = wt
    if "doc_id" not in docs.columns:
        docs = with_doc_ids(docs, order_col="url")
    if "doc_key" not in docs.columns:
        docs = docs.withColumn("doc_key", F.col("doc_id"))
    docs = docs.select("doc_id", "doc_key", "text")

    manifest = build_index(
        spark,
        docs,
        args.output,
        n_buckets=args.n_buckets,
        bucket_groups=args.bucket_groups,
        stop_term_limit=args.stop_term_limit,
        aux=not args.no_aux,
        resume=args.resume,
    )
    print(json.dumps({k: manifest[k] for k in (
        "total_docs", "avgdl", "n_stop_terms", "build_wall_sec", "docs_per_sec",
        "n_buckets", "step_secs",
    )}))
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
