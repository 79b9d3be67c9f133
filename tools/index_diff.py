#!/usr/bin/env python3
"""Compare two index directories table by table.

Usage: python tools/index_diff.py A B

For every table (a parquet directory or an Arrow IPC sidecar file) in
either index it prints, for A and for B: the row count, the data file
count, the row group (record batch) count, whether the schemas match and
a hash of the table's rows taken in sorted order, so that two builds that
wrote the same rows into different files or partitions compare equal.
Partition columns (bucket=...) count as columns. It then prints the
MANIFEST.json keys whose values differ. Wall-clock fields (build and step
times, checkpoint timestamps) are left out of both the row hashes and the
manifest comparison.

Exit status: 0 when every table and manifest key is equal, 1 otherwise.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq

# manifest keys and table columns that record when or how long, not what
WALL_CLOCK = frozenset(
    {"build_wall_sec", "docs_per_sec", "step_secs", "step_starts", "wall_sec", "completed_at"}
)


def _tables(index_dir: str) -> set[str]:
    return {
        e for e in os.listdir(index_dir)
        if e != "MANIFEST.json" and not e.startswith((".", "_"))
    }


def _data_files(path: str) -> list[str]:
    return sorted(
        os.path.join(dp, f)
        for dp, _, fs in os.walk(path)
        for f in fs
        if not f.startswith((".", "_"))
    )


def _row_hash(tbl: pa.Table) -> str:
    """Hash of the table's rows in sorted order: one 8-byte digest per
    row (its values' repr, which is exact for floats), sorted, hashed."""
    tbl = tbl.select(sorted(c for c in tbl.column_names if c not in WALL_CLOCK))
    digests = sorted(
        hashlib.blake2b(repr(tuple(row.values())).encode(), digest_size=8).digest()
        for batch in tbl.to_batches()
        for row in batch.to_pylist()
    )
    return hashlib.blake2b(b"".join(digests), digest_size=8).hexdigest()


def describe(path: str) -> dict | None:
    """rows, files, row groups, schema and sorted-row hash of one table;
    None when the table is absent."""
    if os.path.isfile(path):
        with pa.memory_map(path) as src:
            reader = pa.ipc.open_file(src)
            tbl = reader.read_all()
            groups = reader.num_record_batches
        files = 1
    elif os.path.isdir(path):
        paths = _data_files(path)
        if paths:
            tbl = ds.dataset(path, format="parquet", partitioning="hive").to_table()
        else:
            tbl = pa.table({})
        groups = sum(pq.ParquetFile(p).metadata.num_row_groups for p in paths)
        files = len(paths)
    else:
        return None
    return {
        "rows": tbl.num_rows,
        "files": files,
        "row_groups": groups,
        "schema": str(tbl.schema.remove_metadata()),
        "hash": _row_hash(tbl),
    }


def _strip_wall_clock(v):
    if isinstance(v, dict):
        return {k: _strip_wall_clock(x) for k, x in v.items() if k not in WALL_CLOCK}
    if isinstance(v, list):
        return [_strip_wall_clock(x) for x in v]
    return v


def manifest_diff(a: str, b: str) -> list[tuple[str, object, object]]:
    def load(d: str) -> dict:
        p = os.path.join(d, "MANIFEST.json")
        if not os.path.exists(p):
            return {}
        with open(p) as f:
            return _strip_wall_clock(json.load(f))

    ma, mb = load(a), load(b)
    return [
        (k, ma.get(k), mb.get(k))
        for k in sorted(set(ma) | set(mb))
        if ma.get(k) != mb.get(k)
    ]


def main(argv: list[str]) -> int:
    if len(argv) != 3:
        print(__doc__.strip().splitlines()[2], file=sys.stderr)
        return 2
    a, b = argv[1], argv[2]
    same = True
    print(f"{'table':24} {'rows A/B':>19} {'files A/B':>11} {'groups A/B':>11}  schema  rows")
    for name in sorted(_tables(a) | _tables(b)):
        da, db = describe(os.path.join(a, name)), describe(os.path.join(b, name))
        if da is None or db is None:
            same = False
            print(f"{name:24} only in {'A' if db is None else 'B'}")
            continue
        schema_eq = da["schema"] == db["schema"]
        rows_eq = da["hash"] == db["hash"]
        same &= schema_eq and rows_eq
        print(
            f"{name:24} {da['rows']:>9}/{db['rows']:<9} {da['files']:>5}/{db['files']:<5}"
            f" {da['row_groups']:>5}/{db['row_groups']:<5}"
            f"  {'same' if schema_eq else 'DIFF':6}  {'same' if rows_eq else 'DIFF'}"
        )
    diffs = manifest_diff(a, b)
    same &= not diffs
    print("manifest: " + ("same" if not diffs else f"{len(diffs)} keys differ"))
    for k, va, vb in diffs:
        print(f"  {k}: A={json.dumps(va)[:200]} B={json.dumps(vb)[:200]}")
    return 0 if same else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv))
