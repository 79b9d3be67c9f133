"""A reader facing a partial index fails loudly.

A present but unreadable table is a corrupt index, not a layout to
degrade for: cutting one file of a point-read table in half must make
the open, prewarm_postings_meta() or the first lookup that reads that
file raise, with a message naming the table. So must a key dictionary
(build/keydict.py) that is missing, cut, or disagrees with its table's
files, and so must a missing or cut doc store (doc_store.arrow), which
every reader maps at open. The query package must also hold no
catch-all handler that could turn such a failure into a silent scan or
a half-loaded answer map, and its dataset filter scans are counted: no
per-doc lookup is a scan."""

from __future__ import annotations

import ast
import glob
import json
import os
import re
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from infidex_spark.build.keydict import key_dict_path
from infidex_spark.query.executor import IndexReader

# stage by which a cut file of the table must have raised. The
# exact-mode point-read tables open a data file on the first lookup
# that reads it (their keys come from the mapped key dictionary), so a
# cut file there raises at that lookup, no longer at prewarm.
STAGES = ("open", "prewarm", "lookup")
RAISES_BY = {
    "postings": "lookup",
    "prefixes": "lookup",
    "wm_words": "lookup",
    "variants": "lookup",
    "prefix_postings": "lookup",
    "champions": "lookup",
    "term_dict": "lookup",
    "sq_topk": "lookup",
    "doc_store.arrow": "open",
}
# lookups of a point-read table probe a key of the file that was cut
KEY_COLS = {
    "postings": "term",
    "prefixes": "prefix",
    "wm_words": "word",
    "variants": "variant",
    "prefix_postings": "prefix",
    "champions": "prefix",
}
LOOKUPS = {
    "postings": lambda r, k: r.fetch_terms([k]),
    "prefixes": lambda r, k: r.fetch_prefix(k),
    "wm_words": lambda r, k: r.wm_word_docs([k]),
    "variants": lambda r, k: r.fetch_variant_terms(k),
    "prefix_postings": lambda r, k: r.short_query_rows(k),
    "champions": lambda r, k: r.champion_list(k),
    "term_dict": lambda r, k: r.sorted_terms(),
    "sq_topk": lambda r, k: r.sq_topk("th"),
    "doc_store.arrow": lambda r, k: r.doc_lengths(np.arange(3)),
}
# the exact-mode point-read tables, each with a key dictionary
KEY_DICT_TABLES = ("postings", "prefixes", "wm_words", "variants", "champions")


@pytest.fixture(scope="module")
def precompute_index(spark, tmp_path_factory):
    """A short_precompute build whose tables each have several files, as
    at scale: the cut file is then not the one dataset discovery reads
    for the schema. Partition coalescing is off (8 prefixes files) and
    300 docs count as a sixteenth of a full-size input (2 wm_words
    buckets)."""
    from infidex_spark.build import indexer
    from infidex_spark.webtext import generate_webtext, with_doc_ids

    out = str(tmp_path_factory.mktemp("unreadable") / "idx")
    docs = with_doc_ids(generate_webtext(spark, 300, seed=11)).selectExpr(
        "doc_id", "doc_id as doc_key", "text"
    )
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(indexer, "LAYOUT_FULL_DOCS", 4800)
            indexer.build_index(spark, docs, out, n_buckets=4, short_precompute=True)
    finally:
        spark.conf.set(key, old)
    return out


@pytest.mark.parametrize("table", sorted(RAISES_BY))
def test_truncated_file_raises_naming_its_table(precompute_index, tmp_path, table):
    idx = str(tmp_path / "idx")
    shutil.copytree(precompute_index, idx)
    path = os.path.join(idx, table)
    if os.path.isfile(path):  # a one-file table
        _assert_cut_raises_at_open(idx, path)
        return
    # the last data file: dataset discovery infers the schema from the
    # first one, so the cut is met by the table's own read path
    files = sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))
    assert len(files) >= 2, table
    key = None
    if table in KEY_COLS:
        key = pq.read_table(files[-1], columns=[KEY_COLS[table]])[0][0].as_py()
    with open(files[-1], "r+b") as f:
        f.truncate(os.path.getsize(files[-1]) // 2)
    reached: list[str] = []
    with pytest.raises(ValueError, match=f"{os.sep}{table}{os.sep}") as err:
        r = IndexReader(idx)
        reached.append("open")
        r.prewarm_postings_meta()
        reached.append("prewarm")
        LOOKUPS[table](r, key)
        reached.append("lookup")
    assert len(reached) <= STAGES.index(RAISES_BY[table]), (reached, err.value)


def _cut(path: str) -> None:
    with open(path, "r+b") as f:
        f.truncate(os.path.getsize(path) // 2)


def _assert_cut_raises_at_open(idx: str, path: str) -> None:
    """Opening a reader on idx raises ValueError naming path's table,
    with path cut in half and with path removed."""
    table = re.escape(os.sep + os.path.basename(path))
    _cut(path)
    with pytest.raises(ValueError, match=table):
        IndexReader(idx)
    os.remove(path)
    with pytest.raises(ValueError, match=table):
        IndexReader(idx)


@pytest.mark.parametrize("aux", [True, False])
def test_cut_or_missing_doc_store_raises_at_open(spark, tmp_path, aux):
    """The doc store is every build's per-doc source, aux=False
    included: cut or missing, a reader open raises naming it."""
    from infidex_spark.build.indexer import build_index

    idx = str(tmp_path / "idx")
    docs = spark.createDataFrame([(0, 7, "quick fox"), (1, 8, "lazy dog")], "doc_id long, doc_key long, text string")
    build_index(spark, docs, idx, n_buckets=2, aux=aux)
    r = IndexReader(idx)
    assert r.doc_lengths(np.arange(2))[1].tolist() == [7, 8]
    assert r.has_short_query_tables is aux
    _assert_cut_raises_at_open(idx, os.path.join(idx, "doc_store.arrow"))


def _halve_rows(path: str) -> None:
    """Rewrite a data file with its first half of rows: its footer then
    disagrees with the key dictionary's row counts."""
    tbl = pq.read_table(path)
    pq.write_table(tbl.slice(0, tbl.num_rows // 2), path)


# a broken key dictionary or table file, and the stage by which the
# reader must have raised
DICT_FAULTS = {
    "cut dictionary": ("prewarm", lambda d, files: _cut(d)),
    "missing dictionary": ("prewarm", lambda d, files: os.remove(d)),
    "absent file": ("prewarm", lambda d, files: os.remove(files[-1])),
    "row counts": ("lookup", lambda d, files: _halve_rows(files[-1])),
}


@pytest.mark.parametrize("fault", sorted(DICT_FAULTS))
@pytest.mark.parametrize("table", KEY_DICT_TABLES)
def test_broken_key_dictionary_raises_naming_its_table(precompute_index, tmp_path, table, fault):
    """A key dictionary that is missing or cut, lists a data file the
    table no longer holds, or records other row counts than a file's
    footer (checked when the lookup opens that file) raises ValueError
    naming the table."""
    idx = str(tmp_path / "idx")
    shutil.copytree(precompute_index, idx)
    files = sorted(glob.glob(os.path.join(idx, table, "**", "*.parquet"), recursive=True))
    assert len(files) >= 2, table
    key = pq.read_table(files[-1], columns=[KEY_COLS[table]])[0][0].as_py()
    stage, breaks = DICT_FAULTS[fault]
    if table == "champions":  # read by 1-char queries only: not prewarmed
        stage = "lookup"
    breaks(key_dict_path(os.path.join(idx, table)), files)
    reached: list[str] = []
    with pytest.raises(ValueError, match=f"'{table}'") as err:
        r = IndexReader(idx)
        reached.append("open")
        r.prewarm_postings_meta()
        reached.append("prewarm")
        LOOKUPS[table](r, key)
        reached.append("lookup")
    assert len(reached) <= STAGES.index(stage), (reached, err.value)


def test_key_dictionaries_equal_table_key_columns(precompute_index, built, two_delta_index):
    """Every key dictionary holds its table's key column in file and row
    order, each file's key count and each row group's row count (and
    prefixes' n_docs), files in the reader's listing order."""
    from infidex_spark.build.keydict import table_files
    from infidex_spark.streaming.incremental import _segment_dirs

    segments = [precompute_index, built, *_segment_dirs(two_delta_index)]
    assert len(segments) == 5
    for seg in segments:
        with open(os.path.join(seg, "MANIFEST.json")) as f:
            manifest = json.load(f)
        buckets = {"postings": manifest["n_buckets"], "wm_words": manifest["layout"]["wm_words"]}
        for table in KEY_DICT_TABLES:
            path = os.path.join(seg, table)
            kd = pa.ipc.open_file(pa.memory_map(key_dict_path(path))).read_all()
            listed = table_files(table, path, buckets.get(table, 0))
            files = [(g, p) for g, ps in listed.items() for p in ps]
            assert kd["bucket"].to_pylist() == [g for g, _ in files], (seg, table)
            key = KEY_COLS[table]
            for i, (_, p) in enumerate(files):
                pf = pq.ParquetFile(p)
                md = pf.metadata
                cols = [key, "n_docs"] if table == "prefixes" else [key]
                got = pf.read(columns=cols)
                assert kd["keys"][i].as_py() == got[key].to_pylist(), (seg, table, p)
                assert kd["row_groups"][i].as_py() == [
                    md.row_group(j).num_rows for j in range(md.num_row_groups)
                ], (seg, table, p)
                if table == "prefixes":
                    assert kd["n_docs"][i].as_py() == got["n_docs"].to_pylist()
            assert sum(len(k) for k in kd["keys"].to_pylist()) == pq.ParquetDataset(path).read(
                columns=[key]
            ).num_rows, (seg, table)


def test_prewarm_opens_no_parquet_of_exact_tables(precompute_index, monkeypatch):
    """prewarm_postings_meta maps the key dictionaries: it opens no
    parquet file of postings, wm_words, prefixes or variants; the first
    lookup opens only the files it reads."""
    opened: list[str] = []
    real = pq.ParquetFile

    class Spy(real):
        def __init__(self, source, *a, **kw):
            opened.append(str(source))
            super().__init__(source, *a, **kw)

    monkeypatch.setattr(pq, "ParquetFile", Spy)
    r = IndexReader(precompute_index)
    r.prewarm_postings_meta()
    assert opened == [], opened
    r.fetch_terms(["the"])
    assert len(opened) == 1 and f"{os.sep}postings{os.sep}" in opened[0], opened


def test_open_discovers_only_required_tables(precompute_index, monkeypatch):
    """Opening a reader discovers stop_terms only: the per-doc columns
    are the mapped doc store, the point-read tables list their files on
    prewarm or first lookup (without dataset discovery), and the scanned
    optional tables on first use."""
    import pyarrow.dataset as ds

    seen: list[str] = []
    real = ds.dataset

    def spy(source, *args, **kwargs):
        seen.append(os.path.basename(str(source)))
        return real(source, *args, **kwargs)

    monkeypatch.setattr(ds, "dataset", spy)
    r = IndexReader(precompute_index)
    assert set(seen) <= {"stop_terms"}, seen
    # prewarm lists the point-read tables' files itself and maps their
    # key dictionaries: no dataset discovery
    r.prewarm_postings_meta()
    assert set(seen) <= {"stop_terms"}, seen


def test_query_package_has_no_catch_all_handler():
    """`except Exception:` or a bare `except:` in the query package would
    turn a corrupt index into a silent fallback."""
    import infidex_spark.query as query

    found = []
    for path in sorted(glob.glob(os.path.join(os.path.dirname(query.__file__), "*.py"))):
        with open(path) as f:
            tree = ast.parse(f.read(), path)
        for node in ast.walk(tree):
            if not isinstance(node, ast.ExceptHandler):
                continue
            types = node.type.elts if isinstance(node.type, ast.Tuple) else [node.type]
            if any(
                t is None or (isinstance(t, ast.Name) and t.id in ("Exception", "BaseException"))
                for t in types
            ):
                found.append(f"{os.path.basename(path)}:{node.lineno}")
    assert not found, found


# dataset filter scans left in query/executor.py; the count only falls
FILTER_SCANS = 7


def test_executor_filter_scans_are_counted():
    """`to_table(... filter=...)` and `scanner(... filter=...)` calls in
    query/executor.py: FILTER_SCANS of them, and none reads a per-doc
    table (doc_stats, or format 5's doc_meta): per-doc columns come
    from the mapped doc store."""
    import infidex_spark.query.executor as executor

    with open(executor.__file__) as f:
        src = f.read()
    scans = [
        ast.get_source_segment(src, node)
        for node in ast.walk(ast.parse(src))
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in ("to_table", "scanner")
        and any(kw.arg == "filter" for kw in node.keywords)
    ]
    assert len(scans) == FILTER_SCANS, scans
    assert not [s for s in scans if "doc_stats" in s or "doc_meta" in s], scans
