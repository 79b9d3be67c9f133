"""_KeyedPointReader: point reads over key-sorted parquet files.

Pure pyarrow tests (no Spark): correctness vs a full scan in both modes
(keys from the mapped key dictionary within the budget, footer [min,max]
intervals past it), that every fetch holds exactly the probed rows (no
row-group neighbours), multi-file / multi-row-group selection, duplicate
keys spanning a row-group boundary, row groups without stats, bucket
routing, that an unsorted or unreadable file raises naming the table,
and the decoded row-group cache: cached reads equal uncached ones, a
repeated fetch reads no parquet, the byte budget holds, close() empties
it and footer-mode reads never enter it. Each ad-hoc table gets its key
dictionary from the build's own writer (build/keydict.py).
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor

import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq
import pytest

from infidex_spark.build.keydict import key_dict_path, write_key_dict
from infidex_spark.query.executor import _KeyedPointReader, _RowGroupCache, term_bucket


def _write(dirpath: str, name: str, keys: list[str], row_group_size: int, **kw):
    os.makedirs(dirpath, exist_ok=True)
    vals = list(range(len(keys)))
    tbl = pa.table({"k": keys, "v": vals})
    pq.write_table(
        tbl, os.path.join(dirpath, name), row_group_size=row_group_size, **kw
    )


_READ_POOL = ThreadPoolExecutor(max_workers=2)


def _reader(
    table: str, path: str, n_buckets: int = 0, cache=None, exact: bool = True
) -> _KeyedPointReader:
    """A reader over the table at path; an exact-mode reader's key
    dictionary is written first unless the test wrote it already."""
    if exact and not os.path.exists(key_dict_path(path)):
        write_key_dict(path, "k", n_buckets)
    return _KeyedPointReader(table, path, "k", lambda: _READ_POOL, n_buckets, exact, cache)


def _rows(tbls, keys) -> list[tuple[str, int]]:
    """The fetched (key, value) rows, sorted; every row must be probed
    and no table empty."""
    got = [
        (k, v)
        for t in tbls
        for k, v in zip(t["k"].to_pylist(), t["v"].to_pylist())
    ]
    assert all(t.num_rows for t in tbls)
    assert {k for k, _ in got} <= set(keys), got
    return sorted(got)


def _both_modes(monkeypatch):
    """Loop body runs with the key columns loaded, then with a zero row
    budget (every group keeps footer intervals instead); build the
    reader inside the loop."""
    yield "exact"
    monkeypatch.setattr(_KeyedPointReader, "MAX_ROWS", 0)
    yield "stats"


@pytest.fixture()
def kp_dir(tmp_path):
    d = str(tmp_path / "tbl")
    # two sorted files with interleaved key ranges (the xxhash-sub-split
    # shape): stats intervals overlap, only exact lookup can tell the
    # owner apart
    _write(d, "a.parquet", [f"k{i:03d}" for i in range(0, 100, 2)], 7)
    _write(d, "b.parquet", [f"k{i:03d}" for i in range(1, 100, 2)], 7)
    return d


def test_fetch_equals_full_scan(kp_dir, monkeypatch):
    dataset = ds.dataset(kp_dir)
    probes = ["k000", "k001", "k051", "k098", "k099", "kzzz", "a"]
    want_tbl = dataset.to_table(columns=["k", "v"])
    want = dict(zip(want_tbl["k"].to_pylist(), want_tbl["v"].to_pylist()))
    for mode in _both_modes(monkeypatch):
        pr = _reader("tbl", kp_dir)
        got = dict(_rows(pr.fetch(probes, ["k", "v"]), probes))
        assert got == {p: want[p] for p in probes if p in want}, mode
        # missing keys are simply absent (caller negative-caches)
        assert "kzzz" not in got and "a" not in got


def test_budget_fallback(kp_dir, monkeypatch):
    """Past the file budget a group keeps footer intervals: the same
    rows, read from every row group whose [min, max] covers a probe and
    filtered down to the probed keys."""
    probes = ["k000", "k051", "k099", "k100"]
    want = _rows(_reader("tbl", kp_dir).fetch(probes, ["k", "v"]), probes)
    monkeypatch.setattr(_KeyedPointReader, "MAX_FILES", 1)
    pr = _reader("tbl", kp_dir)
    assert _rows(pr.fetch(probes, ["k", "v"]), probes) == want
    assert pr._rows_left == _KeyedPointReader.MAX_ROWS  # no key column held
    # one 7-row group per file covers k051 (the files interleave); only
    # the owner's row comes back
    (tbl,) = pr.fetch(["k051"], ["k", "v"])
    assert tbl.to_pylist() == [{"k": "k051", "v": 25}]
    # the key column is read for the filter even when not asked for
    (tbl,) = pr.fetch(["k051"], ["v"])
    assert tbl.column_names == ["v"] and tbl["v"].to_pylist() == [25]


def test_fetch_holds_only_probed_rows(tmp_path, monkeypatch):
    """Row groups of many rows: a probe's neighbours in its row group
    never come back, in either mode, whichever columns are read."""
    d = str(tmp_path / "fat")
    keys = [f"w{i:04d}" for i in range(0, 2000, 3)]
    _write(d, "f.parquet", keys, 100)
    probes = ["w0000", "w0699", "w0702", "w1998", "w0001", "zzz"]
    for mode in _both_modes(monkeypatch):
        pr = _reader("fat", d)
        tbls = pr.fetch(probes, ["k", "v"])
        assert _rows(tbls, probes) == [
            ("w0000", 0), ("w0699", 233), ("w0702", 234), ("w1998", 666),
        ], mode
        (only_v,) = pr.fetch(["w0702"], ["v"])
        assert only_v.column_names == ["v"] and only_v["v"].to_pylist() == [234], mode


def test_duplicate_keys_across_group_boundary(tmp_path, monkeypatch):
    d = str(tmp_path / "dup")
    # key 'dup' spans two row groups (group size 3, 5 copies from row 2)
    keys = ["a", "b"] + ["dup"] * 5 + ["z"]
    _write(d, "f.parquet", keys, 3)
    for mode in _both_modes(monkeypatch):
        pr = _reader("dup", d)
        rows = _rows(pr.fetch(["dup"], ["k", "v"]), ["dup"])
        # every copy found, none dropped, no neighbour ('b', 'z') kept
        assert rows == [("dup", v) for v in range(2, 7)], mode
        assert _rows(pr.fetch(["b", "z"], ["k", "v"]), ["b", "z"]) == [
            ("b", 1), ("z", 7),
        ], mode


def test_duplicate_runs_in_interleaved_files(tmp_path, monkeypatch):
    """Keys repeated within and across files (the prefix_postings and
    champions shape: one row per (prefix, doc), a prefix's rows spread
    over several files) come back complete and in file order."""
    d = str(tmp_path / "runs")
    _write(d, "a.parquet", ["a"] * 3 + ["b"] * 4 + ["c"] * 2, 2)
    _write(d, "b.parquet", ["a"] * 2 + ["c"] * 5, 3)
    for mode in _both_modes(monkeypatch):
        pr = _reader("runs", d)
        tbls = pr.fetch(["c", "a"], ["k", "v"])
        got = [(k, v) for t in tbls for k, v in zip(t["k"].to_pylist(), t["v"].to_pylist())]
        assert got == [
            ("a", 0), ("a", 1), ("a", 2), ("c", 7), ("c", 8),
            ("a", 0), ("a", 1), ("c", 2), ("c", 3), ("c", 4), ("c", 5), ("c", 6),
        ], mode
        assert _rows(pr.fetch(["b"], ["k", "v"]), ["b"]) == [("b", v) for v in range(3, 7)], mode


def test_row_group_without_stats_is_read(tmp_path, monkeypatch):
    d = str(tmp_path / "nostats")
    _write(d, "a.parquet", ["a", "b", "c", "d"], 2)
    _write(d, "b.parquet", ["m", "n", "o", "p"], 2, write_statistics=False)
    assert pq.ParquetFile(os.path.join(d, "b.parquet")).metadata.row_group(
        0
    ).column(0).statistics is None
    probes = ["b", "n", "p", "x"]
    for mode in _both_modes(monkeypatch):
        pr = _reader("nostats", d)
        assert _rows(pr.fetch(probes, ["k", "v"]), probes) == [
            ("b", 1), ("n", 1), ("p", 3),
        ], mode


def test_bucket_routing(tmp_path, monkeypatch):
    d = str(tmp_path / "hive")
    words = [f"w{i:02d}" for i in range(40)]
    n = 4
    for b in range(n):
        own = sorted(w for w in words if term_bucket(w, n) == b)
        _write(os.path.join(d, f"bucket={b}"), "part.parquet", own, 3)
    same_bucket = {w for w in words if term_bucket(w, n) == term_bucket("w07", n)}
    for mode in _both_modes(monkeypatch):
        pr = _reader("hive", d, n)
        got = _rows(pr.fetch(words, ["k", "v"]), words)
        assert [k for k, _ in got] == words, mode
        # a probe reads only its own bucket's file
        (one,) = pr.fetch(["w07"], ["k", "v"])
        assert set(one["k"].to_pylist()) <= same_bucket, mode


def test_file_outside_bucket_dir_raises(tmp_path):
    d = str(tmp_path / "flat")
    _write(d, "part.parquet", ["a", "b"], 2)
    # the listing raises before the (absent) key dictionary is read, in
    # the reader and in the build's writer
    pr = _KeyedPointReader("postings", d, "k", lambda: _READ_POOL, 4)
    with pytest.raises(ValueError, match="'postings'.*bucket=N"):
        pr.fetch(["a"], ["k", "v"])
    with pytest.raises(ValueError, match="'flat'.*bucket=N"):
        write_key_dict(d, "k", 4)


def test_unsorted_file_raises(tmp_path):
    d = str(tmp_path / "unsorted")
    _write(d, "f.parquet", ["c", "a", "b"], 2)  # NOT sorted
    pr = _reader("wm_words", d)
    with pytest.raises(ValueError, match=r"'wm_words'.*f\.parquet.*not sorted"):
        pr.load()
    with pytest.raises(ValueError, match="'wm_words'"):
        pr.fetch(["a"], ["k", "v"])


def test_truncated_file_raises(tmp_path, monkeypatch):
    d = str(tmp_path / "cut")
    _write(d, "a.parquet", ["a", "b"], 2)
    _write(d, "b.parquet", ["c", "d"], 2)
    write_key_dict(d, "k")  # before the cut, as the build wrote it
    path = os.path.join(d, "b.parquet")
    with open(path, "r+b") as f:
        f.truncate(os.path.getsize(path) // 2)
    for mode in _both_modes(monkeypatch):
        pr = _reader("prefixes", d)
        if mode == "exact":
            # a file opens on the first fetch that reads it
            assert _rows(pr.fetch(["a"], ["k", "v"]), ["a"]) == [("a", 0)]
        with pytest.raises(ValueError, match=r"'prefixes'.*b\.parquet"):
            pr.fetch(["a", "c"], ["k", "v"])


def test_close_restores_budget(kp_dir, monkeypatch):
    monkeypatch.setattr(_KeyedPointReader, "MAX_ROWS", 60)
    pr = _reader("tbl", kp_dir)
    pr.load()  # 100 rows in one group: over budget, intervals kept
    assert pr._rows_left == 60
    monkeypatch.setattr(_KeyedPointReader, "MAX_ROWS", 100)
    pr.close()
    pr.load()
    assert pr._rows_left == 0
    assert _rows(pr.fetch(["k042"], ["k", "v"]), ["k042"]) == [("k042", 21)]


def test_empty_probe_and_no_hits(kp_dir, monkeypatch):
    for mode in _both_modes(monkeypatch):
        pr = _reader("tbl", kp_dir)
        assert pr.fetch(["nope"], ["k", "v"]) == [], mode
        assert pr.fetch([], ["k", "v"]) == [], mode


def test_inexact_reader_keeps_footer_intervals(kp_dir):
    """exact=False: no key column is held, and the rows are the exact
    reader's."""
    probes = ["k000", "k051", "k099", "kzzz"]
    want = _rows(_reader("tbl", kp_dir).fetch(probes, ["k", "v"]), probes)
    os.remove(key_dict_path(kp_dir))  # read by exact-mode readers only
    pr = _KeyedPointReader("tbl", kp_dir, "k", lambda: _READ_POOL, exact=False)
    pr.load()
    assert all(e[2] is None for e in pr._groups[0])
    assert _rows(pr.fetch(probes, ["k", "v"]), probes) == want


def _ordered(tbls) -> list[tuple[str, int]]:
    """The fetched (key, value) rows in the order fetch returned them."""
    return [(k, v) for t in tbls for k, v in zip(t["k"].to_pylist(), t["v"].to_pylist())]


@pytest.fixture()
def runs_dir(tmp_path):
    """Duplicate key runs across row groups and across files."""
    d = str(tmp_path / "runs")
    _write(d, "a.parquet", ["a"] * 3 + ["b"] * 4 + ["c"] * 2 + ["d"], 2)
    _write(d, "b.parquet", ["a"] * 2 + ["c"] * 5 + ["e"] * 3, 3)
    return d


def _count_reads(monkeypatch) -> list[str]:
    calls: list[str] = []
    for name in ("read_row_group", "read_row_groups"):
        orig = getattr(pq.ParquetFile, name)

        def counted(self, *a, _orig=orig, _name=name, **kw):
            calls.append(_name)
            return _orig(self, *a, **kw)

        monkeypatch.setattr(pq.ParquetFile, name, counted)
    return calls


def test_cached_fetches_equal_uncached(kp_dir, runs_dir):
    """Repeated and overlapping fetches through a cache return the rows
    an uncached reader returns, in the same order, including duplicate
    key runs that cross row groups and files."""
    stream = [
        (kp_dir, ["k000", "k051", "k099"]),
        (kp_dir, ["k051", "k052", "k053", "kzzz"]),
        (kp_dir, ["k000", "k051", "k099"]),
        (kp_dir, [f"k{i:03d}" for i in range(0, 100, 5)]),
        (runs_dir, ["c", "a"]),
        (runs_dir, ["a"]),
        (runs_dir, ["b", "c", "e"]),
        (runs_dir, ["c", "a"]),
        (runs_dir, ["d", "e", "zz"]),
    ]
    cache = _RowGroupCache(1 << 20)
    cached = {d: _reader("t", d, cache=cache) for d in (kp_dir, runs_dir)}
    for d, probes in stream:
        want = _ordered(_reader("t", d).fetch(probes, ["k", "v"]))
        got = cached[d].fetch(probes, ["k", "v"])
        assert all(t.num_rows for t in got)
        assert _ordered(got) == want, probes
        # another column set is its own cache entry
        only_v = cached[d].fetch(probes, ["v"])
        assert all(t.column_names == ["v"] for t in only_v)
        assert [v for t in only_v for v in t["v"].to_pylist()] == [v for _, v in want]
    assert len(cache) and cache.nbytes <= cache.budget


def test_repeated_fetch_reads_nothing(runs_dir, monkeypatch):
    calls = _count_reads(monkeypatch)
    cache = _RowGroupCache(1 << 20)
    pr = _reader("t", runs_dir, cache=cache)
    first = _ordered(pr.fetch(["a", "c"], ["k", "v"]))
    assert calls  # the cold fetch reads
    n = len(cache)
    calls.clear()
    assert _ordered(pr.fetch(["a", "c"], ["k", "v"])) == first
    # a probe into a row group already decoded (d shares c's last one)
    assert _ordered(pr.fetch(["d"], ["k", "v"])) == [("d", 9)]
    assert calls == [] and len(cache) == n


def test_budget_below_one_row_group(runs_dir, kp_dir, monkeypatch):
    """A budget no row group fits in keeps nothing and changes no row;
    a budget of about two row groups evicts the least recently used."""
    probes = ["a", "b", "c", "e"]
    want = _ordered(_reader("t", runs_dir).fetch(probes, ["k", "v"]))
    tiny = _RowGroupCache(1)
    pr = _reader("t", runs_dir, cache=tiny)
    for _ in range(2):
        assert _ordered(pr.fetch(probes, ["k", "v"])) == want
    assert len(tiny) == 0 and tiny.nbytes == 0

    size = pq.ParquetFile(os.path.join(kp_dir, "a.parquet")).read_row_group(
        0, columns=["k", "v"]
    ).get_total_buffer_size()
    small = _RowGroupCache(2 * size + size // 2)
    pr = _reader("t", kp_dir, cache=small)
    for key in ["k000", "k020", "k040"]:  # three row groups of a.parquet
        pr.fetch([key], ["k", "v"])
        assert small.nbytes <= small.budget
    assert len(small) == 2
    calls = _count_reads(monkeypatch)
    assert _ordered(pr.fetch(["k040"], ["k", "v"])) == [("k040", 20)]
    assert calls == []  # the newest group stayed
    assert _ordered(pr.fetch(["k000"], ["k", "v"])) == [("k000", 0)]
    assert calls  # the oldest was evicted


def test_close_empties_cache(kp_dir, runs_dir):
    """A reader's close() drops its own row groups from a shared cache."""
    cache = _RowGroupCache(1 << 20)
    a = _reader("a", kp_dir, cache=cache)
    b = _reader("b", runs_dir, cache=cache)
    a.fetch(["k000", "k051"], ["k", "v"])
    b.fetch(["c"], ["k", "v"])
    a.fetch(["k099"], ["k", "v"])
    b_bytes = sum(size for key, (_, size) in cache._tbls.items() if key[0] == runs_dir)
    assert 0 < b_bytes < cache.nbytes
    a.close()
    assert cache.nbytes == b_bytes and all(k[0] == runs_dir for k in cache._tbls)
    b.close()
    assert len(cache) == 0 and cache.nbytes == 0
    assert _rows(a.fetch(["k051"], ["k", "v"]), ["k051"]) == [("k051", 25)]


def test_footer_mode_never_caches(kp_dir, monkeypatch):
    probes = ["k000", "k051", "k099"]
    want = _rows(_reader("t", kp_dir).fetch(probes, ["k", "v"]), probes)
    cache = _RowGroupCache(1 << 20)
    inexact = _reader("t", kp_dir, cache=cache, exact=False)
    assert _rows(inexact.fetch(probes, ["k", "v"]), probes) == want
    # an exact reader whose groups are past the key-column budget
    monkeypatch.setattr(_KeyedPointReader, "MAX_ROWS", 0)
    over = _reader("t", kp_dir, cache=cache)
    assert _rows(over.fetch(probes, ["k", "v"]), probes) == want
    assert len(cache) == 0
