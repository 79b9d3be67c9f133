"""A reader facing a partial index fails loudly.

A present but unreadable table is a corrupt index, not a layout to
degrade for: cutting one file of a point-read table in half must make
the open, prewarm_postings_meta() or the first lookup that reads that
table raise, with a message naming the table. The query package must
also hold no catch-all handler that could turn such a failure into a
silent scan or a half-loaded answer map."""

from __future__ import annotations

import ast
import glob
import os
import shutil

import numpy as np
import pytest

from infidex_spark.query.executor import IndexReader

# stage by which a cut file of the table must have raised
STAGES = ("open", "prewarm", "lookup")
RAISES_BY = {
    "postings": "prewarm",
    "prefixes": "prewarm",
    "wm_words": "prewarm",
    "variants": "prewarm",
    "prefix_postings": "lookup",
    "champions": "lookup",
    "term_dict": "lookup",
    "sq_topk": "lookup",
    "doc_stats": "open",
}
LOOKUPS = {
    "postings": lambda r: r.fetch_terms(["the", "and", "fox"]),
    "prefixes": lambda r: [r.fetch_prefix(p) for p in ("t", "th", "a")],
    "wm_words": lambda r: r.wm_word_docs(["the", "and"]),
    "variants": lambda r: r.fetch_variant_terms("teh"),
    "prefix_postings": lambda r: [r.short_query_rows(p) for p in ("t", "q", "z")],
    "champions": lambda r: [r.champion_list(p) for p in ("t", "a")],
    "term_dict": lambda r: r.sorted_terms(),
    "sq_topk": lambda r: r.sq_topk("th"),
    "doc_stats": lambda r: r.doc_lengths(np.arange(3)),
}


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
    # the last data file: dataset discovery infers the schema from the
    # first one, so the cut is met by the table's own read path
    files = sorted(glob.glob(os.path.join(idx, table, "**", "*.parquet"), recursive=True))
    assert len(files) >= 2, table
    with open(files[-1], "r+b") as f:
        f.truncate(os.path.getsize(files[-1]) // 2)
    reached: list[str] = []
    with pytest.raises(ValueError, match=f"{os.sep}{table}{os.sep}") as err:
        r = IndexReader(idx)
        reached.append("open")
        r.prewarm_postings_meta()
        reached.append("prewarm")
        LOOKUPS[table](r)
        reached.append("lookup")
    assert len(reached) <= STAGES.index(RAISES_BY[table]), (reached, err.value)


def test_open_discovers_only_required_tables(precompute_index, monkeypatch):
    """Opening a reader discovers doc_stats and stop_terms only: the
    point-read tables list their files on prewarm or first lookup, and
    the scanned optional tables on first use."""
    import pyarrow.dataset as ds

    seen: list[str] = []
    real = ds.dataset

    def spy(source, *args, **kwargs):
        seen.append(os.path.basename(str(source)))
        return real(source, *args, **kwargs)

    monkeypatch.setattr(ds, "dataset", spy)
    r = IndexReader(precompute_index)
    assert set(seen) <= {"doc_stats", "stop_terms"}, seen
    r.prewarm_postings_meta()
    assert {"postings", "prefixes", "variants"} <= set(seen), seen


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
