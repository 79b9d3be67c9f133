"""SparkSession factory with scale-oriented defaults.

Local mode here stands in for a multi-executor cluster; every knob that
matters at 100 TB (AQE, shuffle partition sizing, Arrow batching) is set
so the same plans hold when `master` points at a real cluster and the
job ships via spark-submit --py-files.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "infidex_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    # make the package importable on python workers regardless of the
    # driver's cwd (on a real cluster this is spark-submit --py-files; in
    # local mode the forked workers inherit PYTHONPATH)
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    os.environ["PYTHONPATH"] = (
        repo_root + os.pathsep + os.environ.get("PYTHONPATH", "")
    )
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        # 2x cores: keeps every core busy through stragglers without
        # drowning small jobs in task overhead. On a real cluster this
        # scales with total executor cores; AQE coalesces the excess.
        shuffle_partitions = max(2 * cpus, 8)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # FAIR scheduling: the index build overlaps its serial critical
        # chain (tokenize->postings->pattern_scores->sq tables) with
        # wide aux jobs (prefixes, word_family) that start at the same
        # time. Under the default FIFO scheduler the earlier-submitted
        # aux jobs hold every task slot and the chain STARVES — the wall
        # clock of the build is the chain's, so backfilling must never
        # come at its expense. The build's job runner
        # (build/jobs.py JobGraph) puts each declared job in pool
        # build-chain or build-aux; with equal weights the chain gets
        # slots the moment it has runnable tasks (guide §2.6: overlap
        # independent jobs — FIFO back-fill is right only when the later
        # job is the less urgent one).
        .config("spark.scheduler.mode", "FAIR")
        # the two pools, declared with Spark's defaults (fairscheduler.xml)
        .config(
            "spark.scheduler.allocation.file",
            os.path.join(os.path.dirname(os.path.abspath(__file__)), "fairscheduler.xml"),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Arrow batch size bounds pandas-UDF memory per task; 10k rows of
        # web text ~ tens of MB per batch.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", driver_memory or os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # collect_list/collect_set aggregations (posting-list build) use
        # ObjectHashAggregate, which silently falls back to slow sort-based
        # aggregation once a task sees >128 distinct keys — catastrophic
        # for a groupBy(term) over a large vocabulary (3x slower, doesn't
        # scale with cores). Keys per task are bounded by vocab/partitions,
        # so a 10M-key hash map is safe and keeps the agg hash-based.
        .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "10000000")
        # index size discipline (reference advertises compact indexes,
        # README.md:497): zstd beats the snappy default ~1.5-2x on the
        # string-heavy tables at a negligible write-CPU cost
        .config("spark.sql.parquet.compression.codec", "zstd")
        # NOTE on parquet row-group size: the index's point-read tables
        # (postings/prefixes/wm_words/...) are written with 128 KB row
        # groups via per-write options (indexer.POINT_READ_WRITE_OPTS)
        # so to_table(filter=key==x) lookups decode ~128 KB instead of
        # a whole bucket file. That is deliberately NOT set session-wide:
        # the full-scan tables (tokens cache, doc_stats, pattern_scores,
        # sq_topk) want the default fat groups for write and scan
        # throughput.
        .config("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"])
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
