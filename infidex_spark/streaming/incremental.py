"""Incremental index maintenance.

Reference analogue: the delta-index / merge / tombstone machinery
(Indexing/Incremental/DeltaIndex.cs:13-60, IndexMerger.cs:12-60,
TombstoneTracker.cs:11-55) and segment merging
(Segments/SegmentMerger.cs:8-13). Spark-first mapping:

- ingest: Structured Streaming ``foreachBatch`` — each micro-batch
  becomes an immutable *delta segment* in the exact main-index format
  (built by the same build_index), with doc_ids continuing the global
  dense id space. Ids are assigned on the JVM (with_dense_ids: a range
  partition on doc_key, per-partition counts, driver-side offsets), and
  the build sizes its word-table layout from the batch, so a small
  batch costs a small build;
- query: SegmentedReader unions main + delta segments (global df = sum,
  global avgdl from summed doc lengths — the reference likewise scores
  all segments against global corpus stats);
- deletes: tombstone doc_keys parquet; excluded from results at query
  time, statistics unchanged until compaction (matches the reference's
  soft-delete semantics, Document.Deleted + RemoveDeletedDocuments);
- compaction: merge_segments() takes the live doc_keys of all segments
  minus tombstones, re-assigns dense ids with the same with_dense_ids,
  and rebuilds one segment (the reference's k-way SegmentMerger
  collapsed to a deterministic rebuild — on Spark the rebuild IS a k-way
  sort-merge).
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from infidex_spark.build.indexer import build_index


def _segment_dirs(index_dir: str) -> list[str]:
    """Main segment + ordered delta segments."""
    out = []
    if os.path.exists(os.path.join(index_dir, "MANIFEST.json")):
        out.append(index_dir)
    deltas = os.path.join(index_dir, "deltas")
    if os.path.isdir(deltas):
        for name in sorted(os.listdir(deltas)):
            p = os.path.join(deltas, name)
            if os.path.exists(os.path.join(p, "MANIFEST.json")):
                out.append(p)
    return out


def next_doc_id(index_dir: str) -> int:
    """First free id in the global dense doc-id space."""
    total = 0
    for seg in _segment_dirs(index_dir):
        with open(os.path.join(seg, "MANIFEST.json")) as f:
            total += json.load(f)["total_docs"]
    return total


def with_dense_ids(docs: DataFrame, base: int) -> tuple[DataFrame, DataFrame]:
    """docs (doc_key, text) with doc_id = base + rank(doc_key): dense,
    0-based ranks in ascending doc_key order, assigned on the JVM.

    A range partition on doc_key (sorted within each partition) is
    cached; one job counts its rows per partition, the driver turns the
    counts into id offsets, and each row's id is its partition's offset
    plus its ordinal within the partition (monotonically_increasing_id
    minus the partition's id base). No Python RDD and no join; the
    partition count is the default parallelism, so build_index takes the
    frame as it is. Returns (frame with doc_id, doc_key, text; the cached
    frame, for the caller to unpersist once the build is done)."""
    n_parts = docs.sparkSession.sparkContext.defaultParallelism
    ranged = (
        docs.select("doc_key", "text")
        .repartitionByRange(n_parts, "doc_key")
        .sortWithinPartitions("doc_key")
        .persist()
    )
    pid = F.spark_partition_id()
    counts = dict(ranged.groupBy(pid.alias("p")).count().collect())
    sizes = [counts.get(p, 0) for p in range(n_parts)]
    offsets = base + np.cumsum([0] + sizes[:-1])
    offset = F.element_at(F.array(*[F.lit(int(o)) for o in offsets]), pid + 1)
    ordinal = F.monotonically_increasing_id() - F.shiftleft(pid.cast("long"), 33)
    return ranged.select((offset + ordinal).alias("doc_id"), "doc_key", "text"), ranged


def append_delta(
    spark: SparkSession,
    docs: DataFrame,
    index_dir: str,
    batch_id: int,
    **build_kwargs,
) -> dict:
    """Index a batch of new documents as an immutable delta segment.

    docs: (doc_key LONG, text STRING) — doc_ids are assigned here,
    continuing the global id space.
    """
    with_ids, cached = with_dense_ids(docs, next_doc_id(index_dir))
    out = os.path.join(index_dir, "deltas", f"delta_{batch_id:06d}")
    build_kwargs.setdefault("aux", True)
    try:
        return build_index(spark, with_ids, out, **build_kwargs)
    finally:
        cached.unpersist()


def stream_ingest(
    spark: SparkSession,
    stream_df: DataFrame,
    index_dir: str,
    checkpoint_dir: str,
    trigger_once: bool = True,
    **build_kwargs,
):
    """Structured Streaming ingest: every micro-batch becomes a delta
    segment. stream_df must produce (doc_key LONG, text STRING) rows.

    Exactly-once per batch: build_index writes under a batch-scoped dir;
    replays of a batch (after failure before checkpoint commit) rebuild
    the same deterministic segment in place.
    """

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        out = os.path.join(index_dir, "deltas", f"delta_{batch_id:06d}")
        shutil.rmtree(out, ignore_errors=True)  # idempotent replay
        append_delta(spark, batch_df, index_dir, batch_id, **build_kwargs)

    writer = (
        stream_df.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def delete_docs(index_dir: str, doc_keys: list[int]) -> None:
    """Tombstone deletes: doc_keys excluded from query results immediately;
    postings/statistics unchanged until merge_segments (soft delete)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = os.path.join(index_dir, "tombstones")
    os.makedirs(path, exist_ok=True)
    existing: set[int] = set(load_tombstones(index_dir))
    existing.update(int(k) for k in doc_keys)
    pq.write_table(
        pa.table({"doc_key": pa.array(sorted(existing), type=pa.int64())}),
        os.path.join(path, "part-0.parquet"),
    )


def load_tombstones(index_dir: str) -> np.ndarray:
    path = os.path.join(index_dir, "tombstones")
    if not os.path.isdir(path) or not os.listdir(path):
        return np.zeros(0, dtype=np.int64)
    import pyarrow.dataset as ds

    return ds.dataset(path).to_table()["doc_key"].to_numpy().astype(np.int64)


def merge_segments(
    spark: SparkSession, index_dir: str, out_dir: str, **build_kwargs
) -> dict:
    """Compaction: rebuild one segment from all segments' documents minus
    tombstones. Deterministic: doc ids re-assigned densely by doc_key.

    The heavy lifting is the same sort-merge build; reading the segments'
    doc_stats gives (doc_key) lineage, and the original text comes from
    the caller-supplied source-of-truth table if postings-only segments
    are insufficient — here segments store no raw text, so callers pass
    docs via build_kwargs['docs_source'] (DataFrame doc_key, text).
    """
    docs_source = build_kwargs.pop("docs_source")
    tomb = set(load_tombstones(index_dir).tolist())
    keys = []
    for seg in _segment_dirs(index_dir):
        ds_path = os.path.join(seg, "doc_stats")
        keys.append(spark.read.parquet(ds_path).select("doc_key"))
    all_keys = keys[0]
    for k in keys[1:]:
        all_keys = all_keys.unionByName(k)
    live_keys = all_keys.distinct()
    if tomb:
        tomb_df = spark.createDataFrame([(int(t),) for t in tomb], "doc_key long")
        live_keys = live_keys.join(F.broadcast(tomb_df), "doc_key", "left_anti")
    docs, cached = with_dense_ids(
        docs_source.join(live_keys, "doc_key", "left_semi"), 0
    )
    try:
        return build_index(spark, docs, out_dir, **build_kwargs)
    finally:
        cached.unpersist()
