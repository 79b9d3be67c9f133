"""Key dictionaries of the exact-mode point-read tables.

For postings, wm_words, prefixes, variants and champions the build
writes ``<table>.keys.arrow`` next to the table's directory, right after
the table's Spark write: one uncompressed Arrow IPC file that a reader
memory-maps instead of reading the table's key columns at every open
(the reference likewise writes its FST term dictionary at flush and maps
it at segment open). One row per data file, in the order table_files
lists them:

- ``bucket`` (int32): the file's hive bucket=N, 0 for a flat table;
- ``keys`` (list<string>): the file's key column in row order; null for
  every file of a table over KEY_DICT_MAX_ROWS rows, whose readers then
  keep footer [min, max] intervals instead;
- ``row_groups`` (list<int64>): each row group's row count;
- one list<int64> column per extra column asked for (prefixes: n_docs),
  row-aligned with ``keys``.

A file is named by its position, not its path: Spark's part-file names
carry a random write id, and a name-free dictionary makes two builds of
the same input equal (tools/index_diff.py).
"""

from __future__ import annotations

import os
import re

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

KEY_DICT_SUFFIX = ".keys.arrow"
# the writer reads every key of a table into this process: above this
# many rows it records row groups only
KEY_DICT_MAX_ROWS = 4_000_000
# names pyarrow datasets and Spark skip (_SUCCESS, .crc checksums)
_HIDDEN = (".", "_")


def key_dict_path(table_dir: str) -> str:
    return os.path.normpath(table_dir) + KEY_DICT_SUFFIX


def corrupt(table: str, path: str, why) -> ValueError:
    return ValueError(f"index table {table!r} is corrupt: {path}: {why}")


def table_files(table: str, table_dir: str, n_buckets: int = 0) -> dict[int, list[str]]:
    """The table's data files by group, groups ascending and file names
    sorted within each: a bucketed table (n_buckets > 0) groups by its
    bucket=N directories, a flat table is group 0. ValueError naming
    the table for a file of a bucketed table outside a bucket=N
    directory."""
    files: dict[int, list[str]] = {}
    for dp, dns, fns in os.walk(table_dir):
        dns[:] = sorted(d for d in dns if not d.startswith(_HIDDEN))
        g = 0
        if n_buckets:
            m = re.fullmatch(r"bucket=(\d+)", os.path.basename(dp))
            g = int(m.group(1)) if m else -1
        for f in sorted(fns):
            if f.startswith(_HIDDEN):
                continue
            path = os.path.join(dp, f)
            if g < 0:
                raise corrupt(table, path, "not in a bucket=N directory")
            files.setdefault(g, []).append(path)
    return dict(sorted(files.items()))


def write_key_dict(
    table_dir: str, key_col: str, n_buckets: int = 0, extra: tuple[str, ...] = ()
) -> None:
    """Write table_dir's key dictionary (see the module docstring) from
    its parquet footers and key columns, on the calling process."""
    table = os.path.basename(os.path.normpath(table_dir))
    files = [(g, pq.ParquetFile(p)) for g, ps in table_files(table, table_dir, n_buckets).items() for p in ps]
    mds = [pf.metadata for _, pf in files]
    with_keys = sum(md.num_rows for md in mds) <= KEY_DICT_MAX_ROWS
    rg = [[md.row_group(i).num_rows for i in range(md.num_row_groups)] for md in mds]
    cols = {
        "bucket": pa.array([g for g, _ in files], pa.int32()),
        "row_groups": pa.array(rg, pa.list_(pa.int64())),
    }
    offsets = pa.array(np.cumsum([0] + [md.num_rows for md in mds]), pa.int32())
    read = [pf.read(columns=[key_col, *extra]) for _, pf in files] if with_keys else []
    for name, col, typ in [("keys", key_col, pa.string()), *((c, c, pa.int64()) for c in extra)]:
        if not with_keys:
            cols[name] = pa.nulls(len(files), pa.list_(typ))
            continue
        flat = pa.concat_arrays([t[col].combine_chunks().cast(typ) for t in read] or [pa.array([], typ)])
        cols[name] = pa.ListArray.from_arrays(offsets, flat)
    tbl = pa.table(cols)
    path = key_dict_path(table_dir)
    with pa.OSFile(path + ".tmp", "wb") as sink:
        with pa.ipc.new_file(sink, tbl.schema) as writer:
            writer.write_table(tbl)
    os.replace(path + ".tmp", path)
