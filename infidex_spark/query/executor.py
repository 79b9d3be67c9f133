"""Driver-side BM25 top-k over the parquet index.

The index is a set of parquet tables written by build_index; per query we
fetch only the handful of term rows the query needs (one keyed point
reader: bucket routing plus a sorted in-RAM term column pins each term's
exact parquet row group, the columnar analogue of the reference's FST
term dictionary over mmap'd segments), decode postings with the numpy
codec, and run the same candidate selection + exact float32 BM25+
scoring as the kernel oracle. WAND-style block skipping (block_max_w
metadata) is applied on the disjunctive path; it is lossless, so results
are rank-identical with or without it.

Scale: nothing here depends on corpus size except doc-length lookups,
which switch from a cached array to per-candidate predicate-pushdown
fetches above a configurable threshold.
"""

from __future__ import annotations

import json
import os
import re
import zlib
from collections import OrderedDict
from functools import cached_property
import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq

from infidex_spark.build.codec import BLOCK_SIZE, FORMAT_VERSION, decode_postings
from infidex_spark.kernel.bm25 import compute_idf, term_max_score, term_score
from infidex_spark.kernel.normalize import normalize
from infidex_spark.kernel.tokenize import search_tokens, word_tokens


def _list_views(col):
    """(flat int64 values, int64 offsets) for an arrow list column — the
    vectorized replacement for per-row as_py on block arrays."""
    import pyarrow as pa

    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    flat = col.values.to_numpy(zero_copy_only=False).astype(
        np.int64, copy=False
    )
    offs = col.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
    return flat, offs


def term_bucket(term: str, n_buckets: int) -> int:
    """Matches the build job's pmod(crc32(utf8(term)), n_buckets)."""
    return zlib.crc32(term.encode("utf-8")) % n_buckets


_TERM_MISS = object()  # negative-cache marker in IndexReader._term_cache

# a short query whose patterns match fewer doc keys than this also scores
# the fuzzy-fallback terms (ShortQueryProcessor's ProcessFuzzyFallback);
# the build stores a hot query's answer only from this count up
SHORT_FUZZY_MIN_MATCHED = 100


def _list_rows_to_numpy(tbl, key_col: str, val_col: str) -> dict:
    """{key: int64 ndarray} from a (string, list<int64>) Arrow table —
    zero-copy slices of the flattened child values (per-row .as_py()
    would materialize a Python list per element)."""
    out: dict = {}
    if tbl.num_rows == 0:
        return out
    keys = tbl[key_col].to_pylist()
    col = tbl.column(val_col).combine_chunks()
    flat = col.values.to_numpy(zero_copy_only=False)
    offs = col.offsets.to_numpy()
    for i, k in enumerate(keys):
        out[k] = flat[offs[i] : offs[i + 1]]
    return out


def _short_query_precedence_wtext(titles, wtexts, q: str) -> np.ndarray:
    """Vectorized ComputePrecedence using the precomputed words_text
    column (' w1 w2 ' with sentinel spaces): every word-boundary check is
    a plain substring search — no regex over titles. Bit-for-bit equal to
    the kernel's scalar short_query_precedence (parity-tested)."""
    from infidex_spark.kernel.tokenize import DELIMITERS, word_tokens

    qtokens = word_tokens(q, min_size=1)
    n = len(titles)
    if len(qtokens) >= 2:
        present = np.zeros((n, len(qtokens)), dtype=bool)
        for j, qt in enumerate(qtokens):
            present[:, j] = wtexts.str.contains(f" {qt} ", regex=False).to_numpy()
        n_match = present.sum(axis=1)
        all_present = n_match == len(qtokens)
        # n_words = spaces - 1 (sentinel-wrapped join; ' ' -> 0 words)
        n_words = wtexts.str.count(" ").to_numpy() - 1
        return np.where(
            all_present,
            8 | np.where(n_words <= len(qtokens) + 1, 2, 0),
            np.where(n_match > 0, 4, 0),
        ).astype(np.int64)
    prec = np.zeros(n, dtype=np.int64)
    if not any(c in DELIMITERS for c in q):
        first_exact = wtexts.str.startswith(f" {q} ").to_numpy()
        any_exact = first_exact | wtexts.str.contains(
            f" {q} ", regex=False
        ).to_numpy()
        prec += any_exact * 1 + first_exact * 4
    prec += titles.str.startswith(q).to_numpy() * 2
    prec += (titles.str.strip() == q).to_numpy() * 8
    return prec


class _RowGroupCache:
    """Decoded parquet row groups, (table dir, file, row group, columns)
    -> Arrow table, under one byte budget, evicted LRU by row group. A
    table is counted by the buffers it retains: each entry was read from
    its own row group, so it shares no buffer with another entry and
    evicting it frees what it counted. A table over the whole budget is
    not kept. Not thread-safe: callers mutate it on their own thread."""

    def __init__(self, budget: int):
        self.budget = budget
        self.nbytes = 0
        self._tbls: OrderedDict = OrderedDict()  # key -> (table, bytes)

    def __len__(self) -> int:
        return len(self._tbls)

    def get(self, key):
        got = self._tbls.get(key)
        if got is None:
            return None
        self._tbls.move_to_end(key)
        return got[0]

    def put(self, key, tbl) -> None:
        size = tbl.get_total_buffer_size()
        if size > self.budget or key in self._tbls:
            return
        while self.nbytes + size > self.budget:
            self.nbytes -= self._tbls.popitem(last=False)[1][1]
        self._tbls[key] = (tbl, size)
        self.nbytes += size

    def drop(self, table_dir: str) -> None:
        """Forget every row group of one table."""
        for key in [k for k in self._tbls if k[0] == table_dir]:
            self.nbytes -= self._tbls.pop(key)[1]


class _KeyedPointReader:
    """Point reads over an index table whose files are each sorted by a
    string key column: the postings term dictionary, wm_words, prefixes,
    variants, prefix_postings and champions all resolve a probe through
    this one structure.

    A bucketed table's files group by their hive bucket=N directory and
    a probe routes to term_bucket(key, n_buckets); a flat table is one
    group. Nothing is read at construction: the table's files are
    listed on first use, and a group's sorted key columns load lazily
    (or all at once by load()). Each file keeps its distinct sorted keys
    and the row where each key's run starts: an in-RAM sorted
    dictionary, the columnar analogue of the reference's FST term
    dictionary (term -> postings offset; here searchsorted pins a
    probe's exact rows [lo, hi), duplicates included). fetch() reads
    only the row groups holding those rows, through cached file handles,
    one row group at a time, and takes exactly those rows out of them by
    offset: footer [min,max] stats cannot tell which of several
    interleaved sorted files owns a key, and pyarrow <=16 does not prune
    row groups on isin filters.

    A reader given a _RowGroupCache (IndexReader hands one to its
    postings and variants readers, with a byte budget of
    ROW_GROUP_CACHE_BYTES) keeps each row group it decodes in exact
    mode, keyed by (file, row group, columns): a later probe into that
    row group takes its rows from memory, so a row group of ~60-700 rows
    is decoded once per reader, not once per probe (the reference's
    mmap'd segments stay resident the same way). Reads still run on the
    read pool; the cache changes only on the calling thread, after they
    return.

    MAX_ROWS/MAX_FILES bound the key columns one reader holds. A group
    past the budget (a huge vocabulary, a reader over many segments),
    or any group of a reader built with exact=False, keeps its row
    groups' footer [min,max] intervals instead, reads every row group
    whose interval covers a probe (and every row group without stats)
    and filters the rows with is_in. Both modes return exactly the
    probed rows, in file and row order. exact=False suits a table whose
    keys run over whole row groups (prefix_postings: one row per
    (prefix, doc)), where the intervals already pin a probe's rows and
    the key column is costly to load for what it adds. Footer-mode reads
    are never cached.

    FORMAT_VERSION fixes the layout, so a file that cannot be read, is
    not sorted by the key, or sits outside a bucket=N directory of a
    bucketed table means a corrupt index: ValueError naming the table
    and the file."""

    MAX_ROWS = 4_000_000
    MAX_FILES = 512

    def __init__(
        self,
        table: str,
        path: str,
        key_col: str,
        pool,
        n_buckets: int = 0,
        exact: bool = True,
        cache: _RowGroupCache | None = None,
    ):
        self.table = table
        self._path = path  # the table's directory
        self._key = key_col
        self._pool = pool  # () -> executor for reads over > 3 files
        self._n_buckets = n_buckets  # 0 = one group
        self._exact = exact
        self._cache = cache  # decoded row groups of exact-mode reads
        self.close()

    def close(self) -> None:
        """Drop cached ParquetFile handles, key columns and this table's
        cached row groups (handles close on GC) and restore the budget;
        the reader reloads lazily if used again."""
        if self._cache is not None:
            self._cache.drop(self._path)
        self._files: dict[int, list[str]] | None = None
        # group -> [(path, ParquetFile, distinct sorted keys, (run starts,
        # row-group start offsets)) | (path, ParquetFile, None, (mins,
        # maxs, no_stats))]
        self._groups: dict[int, list[tuple]] = {}
        self._rows_left = self.MAX_ROWS if self._exact else 0
        self._files_left = self.MAX_FILES

    def _corrupt(self, path: str, why) -> ValueError:
        return ValueError(f"index table {self.table!r} is corrupt: {path}: {why}")

    def _group_files(self) -> dict[int, list[str]]:
        if self._files is None:
            try:
                paths = ds.dataset(self._path).files
            except (OSError, pa.ArrowException) as exc:
                raise self._corrupt(self._path, exc) from exc
            files: dict[int, list[str]] = {}
            for path in paths:
                g = 0
                if self._n_buckets:
                    m = re.fullmatch(r"bucket=(\d+)", os.path.basename(os.path.dirname(path)))
                    if m is None:
                        raise self._corrupt(path, "not in a bucket=N directory")
                    g = int(m.group(1))
                files.setdefault(g, []).append(path)
            self._files = files
        return self._files

    def _group(self, g: int) -> list[tuple]:
        got = self._groups.get(g)
        if got is not None:
            return got
        paths = self._group_files().get(g, [])
        pfs = []
        for path in paths:
            try:
                pfs.append(pq.ParquetFile(path))
            except (OSError, pa.ArrowException) as exc:
                raise self._corrupt(path, exc) from exc
        rows = sum(pf.metadata.num_rows for pf in pfs)
        exact = rows <= self._rows_left and len(pfs) <= self._files_left
        if exact:
            self._rows_left -= rows
            self._files_left -= len(pfs)
        got = [self._entry(path, pf, exact) for path, pf in zip(paths, pfs)]
        self._groups[g] = got
        return got

    def _entry(self, path: str, pf, exact: bool) -> tuple:
        md = pf.metadata
        if exact:
            try:
                keys = pf.read(columns=[self._key])[self._key]
            except (OSError, pa.ArrowException, KeyError) as exc:
                raise self._corrupt(path, exc) from exc
            keys = keys.to_numpy(zero_copy_only=False)
            n = keys.size
            # row where each distinct key's run starts, then n (one row
            # per key: starts is arange(n + 1))
            starts = np.arange(n + 1)
            if n > 1:
                new = keys[:-1] < keys[1:]
                if not new.all():
                    dup = np.flatnonzero(~new)
                    if not bool(np.all(keys[dup] == keys[dup + 1])):
                        raise self._corrupt(path, f"not sorted by {self._key!r}")
                    first = np.concatenate(([True], new))
                    starts = np.append(np.flatnonzero(first), n)
                    keys = keys[first]
            goff = np.cumsum([0] + [md.row_group(i).num_rows for i in range(md.num_row_groups)])
            return path, pf, keys, (starts, goff)
        col = [md.schema.column(i).path for i in range(md.num_columns)]
        if self._key not in col:
            raise self._corrupt(path, f"no {self._key!r} column")
        j = col.index(self._key)
        n = md.num_row_groups
        mins = np.full(n, "", dtype=object)
        maxs = np.full(n, "", dtype=object)
        no_stats = np.zeros(n, dtype=bool)
        for i in range(n):
            st = md.row_group(i).column(j).statistics
            if st is None or not st.has_min_max:
                no_stats[i] = True
            else:
                mins[i], maxs[i] = st.min, st.max
        return path, pf, None, (mins, maxs, no_stats)

    def load(self) -> None:
        """Load every group's dictionary now (store-open work)."""
        for g in self._group_files():
            self._group(g)

    def _locate(self, keys) -> list[tuple]:
        """(path, ParquetFile, [row group ids], take) for every file
        holding a probed key. take is, per row group, the probed rows'
        offsets within it (None: all of its rows), or, for a file kept
        as footer intervals, the probes as an Arrow array to filter by."""
        by_group: dict[int, list[str]] = {}
        for k in set(keys):
            g = term_bucket(k, self._n_buckets) if self._n_buckets else 0
            by_group.setdefault(g, []).append(k)
        reads = []
        for g, ks in by_group.items():
            probe = np.array(sorted(ks), dtype=object)
            value_set = None
            for path, pf, ukeys, bounds in self._group(g):
                if ukeys is None:
                    mins, maxs, no_stats = bounds
                    # a group holds a probe iff some probe is in [min, max]
                    inside = np.searchsorted(probe, maxs, side="right") > np.searchsorted(probe, mins, side="left")
                    gis = np.flatnonzero(inside | no_stats)
                    if gis.size:
                        if value_set is None:
                            value_set = pa.array(probe.tolist(), pa.string())
                        reads.append((path, pf, gis.tolist(), value_set))
                    continue
                if ukeys.size == 0:
                    continue
                starts, goff = bounds
                i = np.searchsorted(ukeys, probe)
                hit = i < ukeys.size
                hit[hit] = ukeys[i[hit]] == probe[hit]
                i = i[hit]
                if i.size == 0:
                    continue
                # the probed rows: [starts[i], starts[i + 1]) per hit key,
                # ascending (probes are sorted)
                lo, n = starts[i], starts[i + 1] - starts[i]
                rows = np.arange(int(n.sum())) + np.repeat(lo - (np.cumsum(n) - n), n)
                rg = np.searchsorted(goff, rows, side="right") - 1
                gis, first = np.unique(rg, return_index=True)
                cut = np.append(first, rows.size)
                local = rows - goff[rg]
                take = [
                    None if b - a == goff[gi + 1] - goff[gi] else local[a:b]
                    for gi, a, b in zip(gis.tolist(), cut[:-1].tolist(), cut[1:].tolist())
                ]
                reads.append((path, pf, gis.tolist(), take))
        return reads

    def fetch(self, keys, cols: list[str]) -> list:
        """Non-empty Arrow tables that together hold exactly the rows
        whose key is probed (a key absent from the table has no row), in
        file and row order: one per row group in exact mode, one per
        file in footer mode."""
        def read(r):
            path, pf, gis, value_set, _ = r
            try:
                if value_set is None:
                    # one table per row group: a cached group holds only
                    # its own buffers (a slice of a multi-group read would
                    # pin the whole read)
                    return [pf.read_row_group(gi, columns=cols) for gi in gis]
                want = cols if self._key in cols else [*cols, self._key]
                tbl = pf.read_row_groups(gis, columns=want)
            except (OSError, pa.ArrowException) as exc:
                raise self._corrupt(path, exc) from exc
            return [tbl.filter(pc.is_in(tbl[self._key], value_set=value_set)).select(cols)]

        cache, ckey = self._cache, tuple(cols)
        # per output table, in file and row order: [table | None, rows to
        # take | None, cache key | None]
        slots: list[list] = []
        # (path, ParquetFile, row groups, footer probes | None, slot ids)
        reads: list[tuple] = []
        for path, pf, gis, take in self._locate(keys):
            if isinstance(take, pa.Array):
                reads.append((path, pf, gis, take, [len(slots)]))
                slots.append([None, None, None])
                continue
            miss, ids = [], []
            for gi, t in zip(gis, take):
                key = None if cache is None else (self._path, path, gi, ckey)
                tbl = None if key is None else cache.get(key)
                if tbl is None:
                    miss.append(gi)
                    ids.append(len(slots))
                slots.append([tbl, t, key])
            if miss:
                reads.append((path, pf, miss, None, ids))
        if len(reads) > 3:
            # pyarrow releases the GIL per read: overlapping the per-file
            # group reads hides the ~0.8 ms fixed cost per file (a cold
            # multi-gram probe touches ~16 files)
            done = list(self._pool().map(read, reads))
        else:
            done = [read(r) for r in reads]
        for r, tbls in zip(reads, done):
            for i, tbl in zip(r[4], tbls):
                slots[i][0] = tbl
                if slots[i][2] is not None:
                    cache.put(slots[i][2], tbl)
        out = [tbl if t is None else tbl.take(t) for tbl, t, _ in slots]
        return [t for t in out if t.num_rows]


# Dense scatter-add accumulator budget for short-query aggregation: the
# dense path allocates float64[total_docs], which at 100M docs/segment is
# 800 MB on the driver — bound it by ABSOLUTE bytes, not a ratio, and chunk
# the id space above the cap (slices stay exact; postings are doc-id
# ascending so each chunk is a pair of searchsorted cuts per term).
DENSE_ACC_BYTES = 64 << 20


def aggregate_weighted_postings(
    ids_l: list[np.ndarray],
    w_l: list[tuple[np.ndarray, float]],
    total_docs: int,
    byte_cap: int = DENSE_ACC_BYTES,
) -> tuple[np.ndarray, np.ndarray]:
    """Sum per-term weighted tf vectors into (unique internal ids ASC,
    scores) — the short-query aggregation core.

    Weights are positive integer-valued floats < 2^53, so float64 sums are
    exact and every branch below produces bit-identical results:

    - sparse (matched ids ≪ total_docs, or ids outside [0, total_docs)):
      sort-based unique + bincount, no O(total_docs) allocation;
    - dense (broad matches, small corpus): one float64[total_docs]
      scatter-add accumulator — allowed only while total_docs * 8 fits
      `byte_cap`;
    - chunked dense (broad matches, corpus over the cap): the same
      scatter-add over fixed-size id-range chunks of one reused
      float64[byte_cap/8] buffer; per-term chunk slices via searchsorted
      (postings/pattern rows are stored doc-id ascending — verified, with
      a sparse fallback if any input is unsorted).
    """
    if not ids_l:
        return np.zeros(0, dtype=np.int64), np.zeros(0, dtype=np.float64)
    total = int(sum(a.size for a in ids_l))
    max_id = max((int(a.max()) for a in ids_l if a.size), default=-1)
    dense_ok = total * 8 >= total_docs and 0 <= max_id < total_docs
    # STRICT ascent gates BOTH dense branches: an array with duplicate
    # ids must fall through to the exact sparse path — fancy-index +=
    # silently drops duplicate contributions where bincount sums them
    # (ADVICE r6; per-term postings are unique today, but the function
    # is module-level and reusable)
    strict_sorted = dense_ok and all(
        a.size < 2 or bool((a[1:] > a[:-1]).all()) for a in ids_l
    )
    if dense_ok and strict_sorted and total_docs * 8 <= byte_cap:
        dense = np.zeros(total_docs, dtype=np.float64)
        for a, (t, m) in zip(ids_l, w_l):
            # doc ids are unique within a term → fancy-index += is exact
            dense[a] += t * m
        uids = np.flatnonzero(dense)
        return uids, dense[uids]
    if dense_ok and strict_sorted:
        csize = max(1, byte_cap // 8)
        dense = np.zeros(csize, dtype=np.float64)
        uids_parts: list[np.ndarray] = []
        sc_parts: list[np.ndarray] = []
        for lo in range(0, total_docs, csize):
            hi = min(lo + csize, total_docs)
            used = hi - lo
            hit = False
            for a, (t, m) in zip(ids_l, w_l):
                i0 = int(np.searchsorted(a, lo, side="left"))
                i1 = int(np.searchsorted(a, hi, side="left"))
                if i1 > i0:
                    dense[a[i0:i1] - lo] += t[i0:i1] * m
                    hit = True
            if hit:
                nz = np.flatnonzero(dense[:used])
                if nz.size:
                    uids_parts.append(nz + lo)
                    sc_parts.append(dense[nz].copy())
                dense[:used] = 0.0
        if not uids_parts:
            z = np.zeros(0, dtype=np.int64)
            return z, np.zeros(0, dtype=np.float64)
        return np.concatenate(uids_parts), np.concatenate(sc_parts)
    ids_cat = np.concatenate(ids_l)
    w_cat = np.concatenate([t.astype(np.float64) * m for t, m in w_l])
    uids, inv = np.unique(ids_cat, return_inverse=True)
    return uids, np.bincount(inv, weights=w_cat, minlength=uids.size)


class TermPostings:
    """One term's postings with LAZY decode.

    Constructed either from decoded arrays (doc_ids/tfs) or from the raw
    encoded row (payload/weights/n_docs/block_offsets). Accessing
    .doc_ids/.tfs decodes the full list once; lookup(docs) decodes only
    the 128-doc blocks that contain probe docs (block byte offsets), so
    WAND scoring against a small candidate set never pays a hot term's
    full decode (reference analogue: MMapBlockPostingsEnum skip reads)."""

    __slots__ = (
        "term", "df", "block_last_doc", "block_max_w",
        "_payload", "_weights", "_n", "_block_offsets",
        "_doc_ids", "_tfs", "_blocks", "_posmap",
    )

    def __init__(
        self,
        term: str,
        df: int,
        doc_ids: np.ndarray | None = None,
        tfs: np.ndarray | None = None,
        block_last_doc: np.ndarray | None = None,
        block_max_w: np.ndarray | None = None,
        payload: bytes | None = None,
        weights: bytes | None = None,
        n_docs: int | None = None,
        block_offsets: np.ndarray | None = None,
    ):
        self.term = term
        self.df = df
        self.block_last_doc = (
            block_last_doc if block_last_doc is not None else np.zeros(0, dtype=np.int64)
        )
        self.block_max_w = (
            block_max_w if block_max_w is not None else np.zeros(0, dtype=np.int64)
        )
        self._payload = payload
        self._weights = weights
        self._n = n_docs if n_docs is not None else (doc_ids.size if doc_ids is not None else 0)
        self._block_offsets = block_offsets
        self._doc_ids = doc_ids
        self._tfs = tfs
        self._blocks: int | None = None  # cumulative lazily-decoded blocks
        self._posmap: np.ndarray | None = None  # cached dense position map

    @property
    def n_docs(self) -> int:
        return self._n

    def _decode_full(self) -> None:
        doc_ids, w = decode_postings(self._payload or b"", self._weights or b"", self._n)
        self._doc_ids = doc_ids
        self._tfs = w.astype(np.float32)
        self._blocks = None
        self._posmap = None

    @property
    def doc_ids(self) -> np.ndarray:
        if self._doc_ids is None:
            self._decode_full()
        return self._doc_ids

    @property
    def tfs(self) -> np.ndarray:
        if self._tfs is None:
            self._decode_full()
        return self._tfs

    @property
    def is_decoded(self) -> bool:
        return self._doc_ids is not None

    def lookup(self, docs: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """Membership + tf for sorted probe docs.

        Returns (hit bool[], tf float32[]) with hit aligned to docs and tf
        aligned to docs[hit]. While the term is still encoded, only the
        contiguous block runs containing probes are decoded; once the
        probes would touch a large fraction of the blocks (or cumulative
        lazy decodes exceed the list size), it switches to one full decode
        — dense terms probed densely degrade to exactly the old eager
        behavior instead of per-block overhead."""
        if docs.size == 0:
            return np.zeros(0, dtype=bool), np.zeros(0, dtype=np.float32)
        if self._doc_ids is None and self._block_offsets is not None:
            bl = self.block_last_doc
            if bl.size == 0:
                return np.zeros(docs.size, dtype=bool), np.zeros(0, dtype=np.float32)
            bidx = np.searchsorted(bl, docs)
            n_valid = int(np.searchsorted(bidx, bl.size, "left"))
            u = np.unique(bidx[:n_valid])
            self._blocks = (self._blocks or 0) + int(u.size)
            if (
                u.size * 4 >= bl.size  # touching >=25% of blocks
                or self._blocks * BLOCK_SIZE * 2 >= self._n  # cumulative
            ):
                self._decode_full()
            else:
                return self._lookup_blocks(docs, bidx, n_valid, u)
        ids, tfs = self.doc_ids, self.tfs
        if ids.size == 0:
            return np.zeros(docs.size, dtype=bool), np.zeros(0, dtype=np.float32)
        if docs.size >= 2048 and ids.size >= 1024:
            # dense-range position map: for big probe sets against dense
            # lists (hot-term conjunctions), one linear scatter + gather
            # beats per-probe binary search ~2-4x (branchless, sequential
            # passes). Gated by range (<= 32 MB map) and density (>= 1/8)
            # so sparse/huge id spaces keep the searchsorted path; result
            # is bit-identical either way.
            base = int(ids[0])
            rng = int(ids[-1]) - base + 1
            if rng <= 8_000_000 and ids.size * 8 >= rng:
                cached = self._posmap
                if cached is not None:
                    pm = cached
                else:
                    pm = np.full(rng, -1, dtype=np.int32)
                    pm[ids - base] = np.arange(ids.size, dtype=np.int32)
                    if rng <= 2_000_000:
                        # memoize small maps (<= 8 MB): hot-term
                        # conjunctions probe the same TermPostings every
                        # query, and the scatter build was the dominant
                        # warm cost of each call; bigger maps stay
                        # ephemeral so a wide corpus cannot pin
                        # tens of MB per hot term
                        self._posmap = pm
                i0 = int(np.searchsorted(docs, base))
                i1 = int(np.searchsorted(docs, base + rng))
                hit = np.zeros(docs.size, dtype=bool)
                p = pm[docs[i0:i1] - base]
                h = p >= 0
                hit[i0:i1] = h
                return hit, tfs[p[h]]
        pos = np.searchsorted(ids, docs)
        pos_c = np.clip(pos, 0, ids.size - 1)
        hit = ids[pos_c] == docs
        return hit, tfs[pos_c[hit]]

    def _lookup_blocks(
        self, docs: np.ndarray, bidx: np.ndarray, n_valid: int, u: np.ndarray
    ) -> tuple[np.ndarray, np.ndarray]:
        """Decode only the touched block runs, then probe.

        All runs decode in ONE varint pass (concatenated slices +
        segmented cumsum rebase, the same batching as the build-side
        merge): a cold multi-term rerank used to issue hundreds of
        per-run decode calls whose fixed numpy overhead dominated the
        stage-1 cold. Blocks are doc-ordered, so the concatenated
        decoded ids stay globally ascending and ONE searchsorted over
        all valid probes replaces the per-run probe slices — a probe
        whose own block was not decoded cannot equal an id from another
        block (block doc ranges are disjoint), so equality is exact."""
        from infidex_spark.build.codec import decode_varints

        hit = np.zeros(docs.size, dtype=bool)
        if u.size == 0:
            return hit, np.zeros(0, dtype=np.float32)
        # contiguous runs of touched blocks; bidx is monotone (docs are
        # sorted), so each run maps to one contiguous probe slice
        run_starts = np.flatnonzero(np.diff(u) > 1) + 1
        starts = np.concatenate(([0], run_starts))
        ends = np.concatenate((run_starts, [u.size]))
        bo = self._block_offsets
        bl = self.block_last_doc
        payload = self._payload or b""
        nblocks = len(bo)
        w_all = np.frombuffer(self._weights or b"", dtype=np.uint8)[: self._n]
        p_slices: list[bytes] = []
        w_parts: list[np.ndarray] = []
        counts_l: list[int] = []
        bases_l: list[int] = []
        for s, e in zip(starts.tolist(), ends.tolist()):
            b0, b1 = int(u[s]), int(u[e - 1]) + 1
            p0 = int(bo[b0])
            p1 = int(bo[b1]) if b1 < nblocks else len(payload)
            ps = b0 * BLOCK_SIZE
            pe = min(b1 * BLOCK_SIZE, self._n)
            p_slices.append(payload[p0:p1])
            w_parts.append(w_all[ps:pe])
            counts_l.append(pe - ps)
            bases_l.append(int(bl[b0 - 1]) if b0 > 0 else 0)
        counts = np.asarray(counts_l, dtype=np.int64)
        total = int(counts.sum())
        if total == 0:
            return hit, np.zeros(0, dtype=np.float32)
        gaps = decode_varints(b"".join(p_slices), total)
        cum = np.cumsum(gaps)
        r_ends = np.cumsum(counts)
        r_starts = r_ends - counts
        prev = np.zeros(counts.size, dtype=np.uint64)
        nzr = r_starts > 0
        prev[nzr] = cum[r_starts[nzr] - 1]
        ids = (cum - np.repeat(prev, counts)).view(np.int64) + np.repeat(
            np.asarray(bases_l, dtype=np.int64), counts
        )
        w_r = np.concatenate(w_parts) if len(w_parts) > 1 else w_parts[0]
        vdocs = docs[:n_valid]
        pos = np.searchsorted(ids, vdocs)
        pos_c = np.clip(pos, 0, ids.size - 1)
        h = ids[pos_c] == vdocs
        hit[:n_valid] = h
        return hit, w_r[pos_c[h]].astype(np.float32)


class CompositeTermPostings:
    """One term merged across segments WITHOUT forcing decode: segment
    doc-id ranges are disjoint and ascending (delta ids continue the
    global space), so per-segment lazy TermPostings compose — block
    metadata concatenates in order and lookup() fans out to each part,
    which block-decodes only what its probes touch. A hot term on a
    main+delta index therefore keeps the single-segment lazy-decode
    behavior instead of paying a full decode at merge time."""

    __slots__ = ("term", "df", "parts", "_doc_ids", "_tfs", "_bld", "_bmw")

    def __init__(self, term: str, parts: list):
        self.term = term
        self.df = sum(p.df for p in parts)
        self.parts = parts
        self._doc_ids = None
        self._tfs = None
        self._bld = None
        self._bmw = None

    @property
    def n_docs(self) -> int:
        return sum(p.n_docs for p in self.parts)

    @property
    def block_last_doc(self) -> np.ndarray:
        if self._bld is None:
            # safe only when EVERY part carries block metadata: a gap
            # would make WAND's "no postings at/after this chunk" skip
            # lossy, so degrade to no-block-skip instead
            if all(p.block_last_doc.size or p.n_docs == 0 for p in self.parts):
                self._bld = np.concatenate(
                    [p.block_last_doc for p in self.parts]
                ) if self.parts else np.zeros(0, dtype=np.int64)
            else:
                self._bld = np.zeros(0, dtype=np.int64)
        return self._bld

    @property
    def block_max_w(self) -> np.ndarray:
        if self._bmw is None:
            if self.block_last_doc.size:
                self._bmw = np.concatenate([p.block_max_w for p in self.parts])
            else:
                self._bmw = np.zeros(0, dtype=np.int64)
        return self._bmw

    @property
    def is_decoded(self) -> bool:
        return self._doc_ids is not None

    @property
    def doc_ids(self) -> np.ndarray:
        if self._doc_ids is None:
            self._doc_ids = (
                np.concatenate([p.doc_ids for p in self.parts])
                if self.parts
                else np.zeros(0, dtype=np.int64)
            )
        return self._doc_ids

    @property
    def tfs(self) -> np.ndarray:
        if self._tfs is None:
            self._tfs = (
                np.concatenate([p.tfs for p in self.parts])
                if self.parts
                else np.zeros(0, dtype=np.float32)
            )
        return self._tfs

    def lookup(self, docs: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        if docs.size == 0:
            return np.zeros(0, dtype=bool), np.zeros(0, dtype=np.float32)
        hit = np.zeros(docs.size, dtype=bool)
        tfv = np.zeros(docs.size, dtype=np.float32)
        for p in self.parts:
            h, tf = p.lookup(docs)
            if h.any():
                tfv[h] = tf
                hit |= h
        return hit, tfv[hit]


class IndexReader:
    """Random access into one on-disk index segment.

    Reader contract: IndexReader and MultiReader expose the same names,
    and QueryExecutor/RerankExecutor call them directly, never probing.

    - Attributes: total_docs, avgdl, sizes, start_pad, stop_terms,
      stop_term_limit, synonym_map, tombstones (doc_keys dropped from
      every result; empty unless assigned) and one capability bool,
      has_short_query_tables: term_dict and doc_meta are both present,
      so multi-char short queries can take the FST-expansion path.
    - A missing optional table (aux=False builds, delta segments,
      tables withheld above a build cap) is reported only by a method's
      return value: pattern_scores, char_terms, sq_meta, sq_topk,
      wm_word_docs, sq1_word_docs, sorted_terms, word_df_map,
      words_with_prefix, words_with_suffix and word_variant_words return
      None and the caller takes its fallback path.
    - A present but unreadable table is a corrupt index, never a
      fallback: the open, prewarm_postings_meta or the first lookup
      that reads the table raises, naming the table (and its file).

    Caches, all per reader and bounded: term rows
    (TERM_CACHE_MAX_POSTINGS), prefix and variant lookups, and one
    decoded row-group cache shared by the postings and variants point
    readers under ROW_GROUP_CACHE_BYTES, evicted LRU by row group, so a
    term-cache miss into a row group an earlier probe decoded reads
    nothing. close() drops the row-group cache with the file handles.

    Opening checks the manifest's format_version: any value other than
    FORMAT_VERSION raises ValueError (rebuild with build_index), so the
    reader carries no branches for layouts older versions wrote. The
    bucket counts of wm_words, sq_words1 and pattern_scores are the ones
    the manifest's layout declares."""

    DOC_CACHE_LIMIT = 50_000_000  # cache dl/doc_key arrays below this size

    def __init__(self, index_dir: str):
        self.index_dir = index_dir
        with open(os.path.join(index_dir, "MANIFEST.json")) as f:
            self.manifest = json.load(f)
        version = self.manifest.get("format_version")
        if version != FORMAT_VERSION:
            raise ValueError(
                f"{index_dir}: index format_version {version!r} is not "
                f"{FORMAT_VERSION}; rebuild with build_index"
            )
        self.tombstones: frozenset[int] = frozenset()
        self.n_buckets = int(self.manifest["n_buckets"])
        self.total_docs = int(self.manifest["total_docs"])
        self.avgdl = np.float32(self.manifest["avgdl"])
        self.stop_term_limit = int(self.manifest["stop_term_limit"])
        self.sizes = tuple(self.manifest["index_sizes"])
        self.start_pad = int(self.manifest["start_pad"])
        # the bucket counts the build sized from its input
        # (indexer.layout_buckets)
        layout = self.manifest["layout"]
        self._wm_buckets = int(layout["wm_words"])
        self._sq1_buckets = int(layout["sq_words1"])
        self._ps_buckets = int(layout["pattern_scores"])
        from infidex_spark.kernel.synonyms import SynonymMap

        self.synonym_map = SynonymMap.from_json(self.manifest.get("synonyms"))
        self._read_pool = None  # ThreadPoolExecutor for multi-file reads
        # decoded row groups of the tables a query probes with many keys
        # at once: every gram of a query (postings) and every delete-1
        # variant of a typo token (variants). prefixes, wm_words and
        # champions take one key or word per probe, hold large row
        # groups and sit behind result caches; caching their row groups
        # too cost ~15 MB (4-5%) more driver RSS on perfbench search for
        # no latency gain
        self._rg_cache = _RowGroupCache(self.ROW_GROUP_CACHE_BYTES)

        def point(table: str, key: str, n_buckets: int = 0, exact: bool = True, cache=None):
            # aux tables are optional (build_index(aux=False), delta
            # segments); the reader lists a table's files on first use
            path = os.path.join(index_dir, table)
            if not os.path.isdir(path):
                return None
            return _KeyedPointReader(table, path, key, self._pool, n_buckets, exact, cache)

        self._postings_point = _KeyedPointReader(
            "postings", os.path.join(index_dir, "postings"), "term", self._pool,
            self.n_buckets, cache=self._rg_cache,
        )
        self._wm_point = point("wm_words", "word", self._wm_buckets)
        self._prefix_point = point("prefixes", "prefix")
        self._variant_point = point("variants", "variant", cache=self._rg_cache)
        self._pp_point = point("prefix_postings", "prefix", exact=False)
        self._champion_point = point("champions", "prefix")
        self.has_short_query_tables = all(
            os.path.isdir(os.path.join(index_dir, t)) for t in ("term_dict", "doc_meta")
        )
        self._prefix_fetch_cache: dict[str, tuple] = {}
        self._variant_cache: dict[str, list[str]] = {}
        self._sq_meta: dict | None = None  # lazy short-query meta cache
        self._doc_store: tuple | None = None  # lazy mmap'd text store
        self._ps_store: tuple | None = None  # lazy mmap'd pattern store
        self._sq_topk_map: dict | None = None  # lazy champion lists
        self._sq_complete: set[str] = set()  # champion rows = full answer
        self._char_terms_cache: dict[str, tuple | None] = {}
        self._all_terms: list[str] | None = None  # lazy fallback dictionary
        self._doc_stats = ds.dataset(os.path.join(index_dir, "doc_stats"))
        # stop terms: df was driven past the limit; they must neither score
        # nor fuzzy-expand (reference keeps them as df=-1 tombstones)
        stop_path = os.path.join(index_dir, "stop_terms")
        self.stop_terms: frozenset[str] = frozenset()
        if os.path.isdir(stop_path):
            self.stop_terms = frozenset(
                ds.dataset(stop_path).to_table()["term"].to_pylist()
            )
        self._dl_cache: tuple[np.ndarray, np.ndarray, np.ndarray] | None = None
        self._key_order: np.ndarray | None = None  # lazy argsort by doc_key
        self._keys_sorted: np.ndarray | None = None  # dkeys[_key_order]
        self._term_cache: dict[str, TermPostings | object] = {}
        self._term_cache_size = 0
        if self.total_docs <= self.DOC_CACHE_LIMIT:
            tbl = self._doc_stats.to_table(columns=["doc_id", "doc_key", "dl"])
            doc_id = tbl["doc_id"].to_numpy()
            order = np.argsort(doc_id)
            self._dl_cache = (
                doc_id[order],
                tbl["doc_key"].to_numpy()[order],
                tbl["dl"].to_numpy().astype(np.float32)[order],
            )
        ids0 = self._dl_cache[0] if self._dl_cache is not None else None
        # dense iff the sorted id column is exactly [base, base+n)
        self._dl_dense = bool(
            ids0 is not None
            and ids0.size
            and int(ids0[-1]) - int(ids0[0]) + 1 == ids0.size
        )

    # optional scanned tables, discovered on first use: a dataset
    # discovery reads a footer, and most queries touch none of them.
    # None when the build did not write the table.

    def _dataset(self, table: str, hive: bool = False):
        path = os.path.join(self.index_dir, table)
        if not os.path.isdir(path):
            return None
        return ds.dataset(path, partitioning="hive" if hive else None)

    @cached_property
    def _doc_meta(self):
        return self._dataset("doc_meta")

    @cached_property
    def _term_dict(self):
        return self._dataset("term_dict")

    @cached_property
    def _pattern_scores(self):
        return self._dataset("pattern_scores", hive=True)

    @cached_property
    def _sq_words1(self):
        return self._dataset("sq_words1", hive=True)

    @cached_property
    def _char_terms_ds(self):
        return self._dataset("char_terms")

    @cached_property
    def _words(self):
        return self._dataset("words")

    @cached_property
    def _words_rev(self):
        return self._dataset("words_rev")

    @cached_property
    def _word_variants(self):
        return self._dataset("word_variants")

    @cached_property
    def _prefix_counts(self) -> dict[str, int] | None:
        """Prefix POP counts, tiny (<= ~alphabet^3 keys): held in memory
        so the candidate selector only touches disk for the rare prefix
        whose doc list actually qualifies. None when the prefixes table
        is absent or too large to hold."""
        tbl = self._dataset("prefixes")
        if tbl is None:
            return None
        tbl = tbl.to_table(columns=["prefix", "n_docs"])
        if tbl.num_rows > 5_000_000:
            return None
        return dict(zip(tbl["prefix"].to_pylist(), tbl["n_docs"].to_pylist()))

    # ------------------------------------------------------------- fetch

    TERM_CACHE_MAX_POSTINGS = 20_000_000  # ~total cached doc-id count
    # decoded point-read row groups kept per reader (the perfbench 20k
    # base's whole postings table is 14 MB as Arrow)
    ROW_GROUP_CACHE_BYTES = 32 << 20

    def fetch_terms(self, terms: list[str]) -> dict[str, TermPostings]:
        """Term rows with a bounded postings cache in front of the parquet
        point reads (the columnar analogue of the reference's mmap'd
        segments staying in the OS page cache). Misses are cached too. A
        term-cache miss whose row group an earlier probe decoded takes
        its row from the reader's row-group cache."""
        if not terms:
            return {}
        cache = self._term_cache
        out: dict[str, TermPostings] = {}
        missing: list[str] = []
        for t in set(terms):
            hit = cache.get(t)
            if hit is None:
                missing.append(t)
            elif hit is not _TERM_MISS:
                out[t] = hit
        if not missing:
            return out
        cols = ["term", "df", "n_docs", "payload", "weights",
                "block_last_doc", "block_max_w", "block_offsets"]
        for tbl in self._postings_point.fetch(missing, cols):
            dfs = tbl["df"].to_numpy()
            nds = tbl["n_docs"].to_numpy()
            pay = tbl["payload"]
            wts = tbl["weights"]
            bl_f, bl_o = _list_views(tbl["block_last_doc"])
            bm_f, bm_o = _list_views(tbl["block_max_w"])
            bo_f, bo_o = _list_views(tbl["block_offsets"])
            for i, term in enumerate(tbl["term"].to_pylist()):
                n = int(nds[i])
                # defer decode: WAND/lookup touch only needed blocks
                tp = TermPostings(
                    term=term,
                    df=int(dfs[i]),
                    payload=pay[i].as_py(),
                    weights=wts[i].as_py(),
                    n_docs=n,
                    block_last_doc=bl_f[bl_o[i]:bl_o[i + 1]].copy(),
                    block_max_w=bm_f[bm_o[i]:bm_o[i + 1]].copy(),
                    block_offsets=bo_f[bo_o[i]:bo_o[i + 1]].copy(),
                )
                out[term] = tp
                if self._term_cache_size + n > self.TERM_CACHE_MAX_POSTINGS:
                    cache.clear()
                    self._term_cache_size = 0
                cache[term] = tp
                self._term_cache_size += n
        for t in missing:
            if t not in out:
                cache[t] = _TERM_MISS
        return out

    def prewarm_postings_meta(self) -> None:
        """Load the key dictionaries of the BM25 path's point-read tables
        (postings, wm_words, prefixes, variants) up front (sorted key
        columns within the point readers' budget, footer intervals past
        it) and the prefix counts, spawn the read pool and open the
        mmap'd stores and short-query meta. This is store-open work —
        the reference likewise loads its FST term dictionary at index
        open, not on the first query — and it moves the one-time
        footer/dictionary reads off the first search's critical path.
        prefix_postings and champions, read by 1-char queries only, load
        on their first lookup. A present but unreadable table raises
        here or at that lookup, naming the table."""
        for pr in (self._postings_point, self._wm_point, self._prefix_point, self._variant_point):
            if pr is not None:
                pr.load()
        self._prefix_counts  # a cached property: reading it loads the counts
        # pre-spawn the read pool's threads: lazy creation would land
        # ~10 ms of thread.start() on the first cold query
        list(self._pool().map(int, range(16)))
        # open the remaining lazy one-time stores here too — mmap'd
        # doc/pattern stores and the short-query meta columns are
        # store-open costs (the reference mmaps its segments at index
        # open), not part of any query's latency
        self._open_doc_store()
        self._open_ps_store()
        self.sq_meta()

    def close(self) -> None:
        """Release prewarm resources: the read pool's threads, every
        cached ParquetFile handle / in-RAM key column (ADVICE r6: one fd
        per cached postings/wm/prefix file, so many prewarmed segment
        readers could approach the default fd ulimit) and the decoded
        row-group cache. The reader stays usable — point structures
        reload lazily on the next query."""
        if self._read_pool is not None:
            self._read_pool.shutdown(wait=False)
            self._read_pool = None
        for pr in (
            self._postings_point, self._wm_point, self._prefix_point,
            self._variant_point, self._pp_point, self._champion_point,
        ):
            if pr is not None:
                pr.close()

    def _pool(self):
        """The thread pool for multi-file row-group reads, created on
        first use (or by prewarm_postings_meta)."""
        if self._read_pool is None:
            from concurrent.futures import ThreadPoolExecutor

            self._read_pool = ThreadPoolExecutor(max_workers=8)
        return self._read_pool

    def prefix_count(self, prefix: str) -> int:
        if self._prefix_counts is not None:
            return self._prefix_counts.get(prefix, 0)
        n, _ = self.fetch_prefix(prefix)
        return n

    def fetch_prefix(self, prefix: str) -> tuple[int, np.ndarray | None]:
        if self._prefix_point is None:
            return 0, None
        if self._prefix_counts is not None and prefix not in self._prefix_counts:
            return 0, None
        cache = self._prefix_fetch_cache
        got = cache.get(prefix)
        if got is not None:
            return got
        tbls = self._prefix_point.fetch([prefix], ["n_docs", "doc_ids"])
        if not tbls:
            out = (0, None)
        else:
            tbl = tbls[0]
            n = tbl["n_docs"][0].as_py()
            ids = tbl["doc_ids"][0].as_py()
            out = (n, np.asarray(ids, dtype=np.int64) if ids is not None else None)
        if len(cache) >= 4096:
            cache.clear()
        cache[prefix] = out
        return out

    def fetch_variant_terms(self, token: str) -> list[str]:
        """All dictionary terms within plain Levenshtein distance 1 of
        token, via the symmetric-delete table. Cached per token: the
        variants table is immutable for the reader's lifetime and the
        parquet point read costs ~ms — the dominant warm cost of every
        fuzzy-expanded query (same rationale as _term_cache)."""
        if self._variant_point is None:
            return []
        cache = self._variant_cache
        got = cache.get(token)
        if got is not None:
            return list(got)
        probes = [token] + [token[:i] + token[i + 1 :] for i in range(len(token))]
        cands: set[str] = set()
        for tbl in self._variant_point.fetch(probes, ["terms"]):
            for chunk in tbl["terms"].to_pylist():
                cands.update(chunk)
        # symmetric-delete overgenerates (e.g. same-length double
        # substitution); confirm with the exact metric
        from infidex_spark.kernel.engine import levenshtein_le1

        out = sorted(t for t in cands if levenshtein_le1(token, t))
        if len(cache) >= 50_000:
            cache.clear()
        cache[token] = out
        return list(out)

    def short_query_rows(self, prefix: str):
        """(doc_id, first_pos, n_ws, n_exact, first_exact, n_tokens,
        tiny_text, doc_key) arrays for short-query resolution, or None
        when only the champion list is stored (hot prefix). n_tokens and
        tiny_text come from the in-memory sq_meta columns (tiny_text
        '<U3', NUL where null), else from a doc_meta read (object, None
        where null)."""
        if self._pp_point is None:
            return None
        cols = ["doc_id", "first_pos", "n_ws", "n_exact", "first_exact"]
        tbls = self._pp_point.fetch([prefix], cols)
        if not tbls:
            # distinguish "prefix unknown" (empty result) from "hot prefix,
            # rows withheld at build" (champion-list fallback)
            return {} if self.prefix_count(prefix) == 0 else None
        tbl = pa.concat_tables(tbls)
        doc_ids = tbl["doc_id"].to_numpy()
        meta = self.sq_meta()
        if meta is not None:
            pos = np.searchsorted(meta["ids"], doc_ids)
            n_tokens, tiny = meta["n_tokens"][pos], meta["tiny"][pos]
        else:
            got = self._doc_meta.to_table(
                columns=["doc_id", "n_tokens", "tiny_text"],
                filter=ds.field("doc_id").isin(doc_ids.tolist()),
            )
            m_ids = got["doc_id"].to_numpy()
            order = np.argsort(m_ids)
            pos = order[np.searchsorted(m_ids[order], doc_ids)]
            n_tokens = got["n_tokens"].to_numpy()[pos]
            tiny = np.array(got["tiny_text"].to_pylist(), dtype=object)[pos]
        _, keys = self.doc_lengths(doc_ids)
        return {
            "doc_id": doc_ids,
            "first_pos": tbl["first_pos"].to_numpy(),
            "n_ws": tbl["n_ws"].to_numpy(),
            "n_exact": tbl["n_exact"].to_numpy(),
            "first_exact": tbl["first_exact"].to_numpy(zero_copy_only=False),
            "n_tokens": n_tokens,
            "tiny_text": tiny,
            "doc_key": keys,
        }

    def champion_list(self, prefix: str) -> list[tuple[int, float]]:
        if self._champion_point is None:
            return []
        rows = sorted(
            (rn, key, score)
            for tbl in self._champion_point.fetch([prefix], ["rn", "doc_key", "sq_score"])
            for rn, key, score in zip(
                tbl["rn"].to_pylist(), tbl["doc_key"].to_pylist(), tbl["sq_score"].to_pylist()
            )
        )
        return [(int(k), float(s)) for _, k, s in rows]

    def doc_lengths(self, doc_ids: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """(dl float32, doc_key int64) for given sorted doc_ids."""
        if self._dl_cache is not None:
            ids, keys, dls = self._dl_cache
            if self._dl_dense and ids.size:
                # contiguous id space [base, base+n): position IS the
                # offset — no per-candidate binary search (the common
                # case; build ids are dense by contract)
                base = int(ids[0])
                pos = doc_ids - base
                if pos.size and (int(pos.min()) < 0 or int(pos.max()) >= ids.size):
                    raise KeyError("unknown doc_ids in index")
                return dls[pos], keys[pos]
            pos = np.searchsorted(ids, doc_ids)
            pos = np.clip(pos, 0, ids.size - 1)
            ok = ids[pos] == doc_ids
            if not ok.all():
                raise KeyError("unknown doc_ids in index")
            return dls[pos], keys[pos]
        tbl = self._doc_stats.to_table(
            columns=["doc_id", "doc_key", "dl"],
            filter=ds.field("doc_id").isin(doc_ids.tolist()),
        )
        got_ids = tbl["doc_id"].to_numpy()
        order = np.argsort(got_ids)
        pos = np.searchsorted(got_ids[order], doc_ids)
        return (
            tbl["dl"].to_numpy().astype(np.float32)[order][pos],
            tbl["doc_key"].to_numpy()[order][pos],
        )

    TERM_LIST_CAP = 5_000_000

    def terms_with_prefix(self, pattern: str, limit: int) -> list[str]:
        """First `limit` dictionary terms with the given prefix, in lex
        order — an FST GetByPrefix stand-in over the sorted term_dict
        parquet (range predicate -> row-group min/max pruning)."""
        if self._term_dict is None:
            return []
        hi = pattern + chr(0x10FFFF)
        tbl = self._term_dict.to_table(
            columns=["term"],
            filter=(ds.field("term") >= pattern) & (ds.field("term") < hi),
        )
        terms = sorted(tbl["term"].to_pylist())
        return terms[:limit]

    def sorted_terms(self) -> list[str] | None:
        """Whole dictionary in lex order (for the short-query fuzzy
        fallback); None when absent or above the in-memory cap."""
        if self._term_dict is None:
            return None
        if self._all_terms is None:
            n = self._term_dict.count_rows()
            if n > self.TERM_LIST_CAP:
                return None
            self._all_terms = sorted(
                self._term_dict.to_table(columns=["term"])["term"].to_pylist()
            )
        return self._all_terms

    def word_df_map(self, cap: int) -> dict[str, int] | None:
        """Word-level document frequencies (B4) as a dict, or None when
        the words table is absent or exceeds cap rows."""
        d = self._words
        if d is None or d.count_rows() > cap:
            return None
        tbl = d.to_table()
        return dict(zip(tbl["word"].to_pylist(), tbl["df"].to_pylist()))

    @staticmethod
    def _scan_range_limited(
        dataset, col: str, lo: str, limit: int, min_len: int = 0
    ) -> list[str]:
        """First `limit` values of a lex-sorted string column in [lo,
        lo+MAXCHAR), streaming batches and stopping as soon as the limit
        is met — the table is written by Spark orderBy (range-partitioned
        sorted files in filename order), so a hot 1-2 char range never
        fully materializes. min_len filters short values inside the scan
        (the affix FST's len >= 3 rule) so they don't eat the budget."""
        import pyarrow.compute as pc

        hi = lo + chr(0x10FFFF)
        scanner = dataset.scanner(
            columns=[col], filter=(ds.field(col) >= lo) & (ds.field(col) < hi)
        )
        out: list[str] = []
        for batch in scanner.to_batches():
            if batch.num_rows == 0:
                continue
            arr = batch.column(0)
            if min_len > 1:
                arr = arr.filter(pc.greater_equal(pc.utf8_length(arr), min_len))
            out.extend(arr.to_pylist())
            if len(out) >= limit:
                break
        out.sort()  # defensive: cheap on <= limit+batch rows
        return out[:limit]

    def words_with_prefix(
        self, prefix: str, limit: int, min_len: int = 0
    ) -> list[str] | None:
        """Vocabulary words with the given prefix, lex order, capped.
        None when the words table is absent."""
        d = self._words
        if d is None:
            return None
        return self._scan_range_limited(d, "word", prefix, limit, min_len)

    def words_with_suffix(
        self, suffix: str, limit: int, min_len: int = 0
    ) -> list[str] | None:
        """Vocabulary words with the given suffix via the reversed-word
        table (reversed-lex order, matching the FST suffix walk)."""
        d = self._words_rev
        if d is None:
            return None
        got = self._scan_range_limited(d, "rword", suffix[::-1], limit, min_len)
        return [w[::-1] for w in got]

    def word_variant_words(self, w: str) -> list[str] | None:
        """Vocabulary words within Levenshtein distance 1 of w via the
        word-level symmetric-delete table; None when absent."""
        d = self._word_variants
        if d is None:
            return None
        probes = [w] + [w[:i] + w[i + 1 :] for i in range(len(w))]
        tbl = d.to_table(filter=ds.field("variant").isin(probes))
        cands: set[str] = set()
        for chunk in tbl["terms"].to_pylist():
            cands.update(chunk)
        from infidex_spark.kernel.engine import levenshtein_le1

        return sorted(c for c in cands if levenshtein_le1(w, c))

    def word_dfs(self, words: list[str]) -> dict[str, int]:
        """Point df fetch on the words table."""
        d = self._words
        if d is None or not words:
            return {}
        tbl = d.to_table(filter=ds.field("word").isin(words))
        return dict(zip(tbl["word"].to_pylist(), tbl["df"].to_pylist()))

    def wm_word_docs(self, words: list[str]) -> dict[str, np.ndarray] | None:
        """WordMatcher word-level postings (B9): word -> sorted internal
        doc ids, independent of gram stop demotion; None when the
        wm_words table is absent. Point fetch on the word-sorted table
        through its keyed point reader."""
        if self._wm_point is None:
            return None
        if not words:
            return {}
        out: dict[str, np.ndarray] = {}
        for tbl in self._wm_point.fetch(words, ["word", "doc_ids"]):
            out.update(_list_rows_to_numpy(tbl, "word", "doc_ids"))
        return out

    def pattern_scores(self, pattern: str) -> tuple[np.ndarray, np.ndarray] | None:
        """Precomputed SearchShortQuery pattern aggregate: (sorted internal
        doc ids, per-doc summed byte tfs over the pattern's lex-first 4096
        live terms). None when the table is absent, the pattern length is
        outside the stored 2-3 range, or the row withheld its arrays
        (n_docs above the build's cap) — callers fall back to live
        expansion. A missing row means NO live term has the prefix, i.e.
        a genuinely empty contribution."""
        if self._pattern_scores is None or len(pattern) not in (2, 3):
            return None
        if "pattern" not in self._pattern_scores.schema.names:  # empty write
            return np.zeros(0, dtype=np.int64), np.zeros(0, dtype=np.int64)
        store = self._open_ps_store()
        if store is not None:
            pats_sorted, order, ids_flat, scores, offs, n_docs = store
            i = int(np.searchsorted(pats_sorted, pattern))
            if i >= pats_sorted.size or pats_sorted[i] != pattern:
                return np.zeros(0, dtype=np.int64), np.zeros(0, dtype=np.int64)
            row = int(order[i])
            lo, hi = int(offs[row]), int(offs[row + 1])
            if int(n_docs[row]) > hi - lo:
                return None  # withheld (cap_docs exceeded at build)
            from infidex_spark.build.codec import unpack_nbit

            buf, poffs, bits = scores
            sc = unpack_nbit(
                buf[int(poffs[row]) : int(poffs[row + 1])],
                hi - lo,
                int(bits[row]),
            )
            return ids_flat[lo:hi], sc
        b = term_bucket(pattern, self._ps_buckets)
        tbl = self._pattern_scores.to_table(
            columns=["doc_ids", "scores", "n_docs"],
            filter=(ds.field("bucket") == b) & (ds.field("pattern") == pattern),
        )
        if tbl.num_rows == 0:
            return np.zeros(0, dtype=np.int64), np.zeros(0, dtype=np.int64)
        # zero-copy: flatten the single row's list values straight to
        # numpy (as_py() would materialize a Python list per element)
        ids = tbl.column("doc_ids").combine_chunks().flatten().to_numpy()
        if int(tbl["n_docs"][0].as_py()) > ids.size:
            return None  # withheld (cap_docs exceeded at build)
        scores = tbl.column("scores").combine_chunks().flatten().to_numpy()
        return ids, scores

    def sq1_word_docs(self, words: list[str]) -> dict[str, np.ndarray] | None:
        """Single-char word postings (short-query precedence): word ->
        sorted internal doc ids; None when the sq_words1 table is
        absent."""
        if self._sq_words1 is None:
            return None
        if not words:
            return {}
        if "word" not in self._sq_words1.schema.names:  # empty write: no
            return {}  # 1-char word exists in the corpus
        buckets = sorted({term_bucket(w, self._sq1_buckets) for w in words})
        tbl = self._sq_words1.to_table(
            columns=["word", "doc_ids"],
            filter=ds.field("bucket").isin(buckets) & ds.field("word").isin(words),
        )
        return _list_rows_to_numpy(tbl, "word", "doc_ids")

    SQ_META_CACHE_LIMIT = 20_000_000

    def sq_topk(self, q: str) -> list[tuple[int, float]] | None:
        """Precomputed full short-query answer from the build's sq_topk
        table (indexer._build_sq_answers: the live _search_short_query
        run over the finished index) — the reference's ShortQueryResolver
        champion-list analogue (ShortQueryResolver.cs:18-31,118-219).
        None when the table is absent or the query was not precomputed.
        Queries whose stored row is the COMPLETE result set (fewer total
        matches than the stored depth) are recorded in _sq_complete —
        sq_topk_complete() lets callers serve them at any k."""
        if self._sq_topk_map is None:
            m: dict = {}
            comp: set[str] = set()
            path = os.path.join(self.index_dir, "sq_topk")
            if os.path.isdir(path):
                tbl = pq.read_table(path, columns=["q", "doc_keys", "finals", "complete"])
                fin_np = _list_rows_to_numpy(tbl, "q", "finals")
                # store the numpy pair; materialize the python list
                # lazily on first hit (eager zip over every row cost
                # ~60 ms per fresh reader at 20k docs)
                m = {
                    qq: (k, fin_np[qq])
                    for qq, k in _list_rows_to_numpy(tbl, "q", "doc_keys").items()
                }
                comp = {
                    qq
                    for qq, c in zip(tbl["q"].to_pylist(), tbl["complete"].to_pylist())
                    if c
                }
            self._sq_topk_map = m
            self._sq_complete = comp
        hit = self._sq_topk_map.get(q)
        if hit is not None and not isinstance(hit, list):
            hit = list(zip(hit[0].tolist(), hit[1].tolist()))
            self._sq_topk_map[q] = hit
        return hit

    def sq_topk_complete(self, q: str) -> bool:
        """True when the stored champion row for q is the full result
        set (servable at any k, not just k <= stored depth)."""
        self.sq_topk(q)  # ensure the lazy load ran
        return q in self._sq_complete

    def char_terms(self, ch: str) -> tuple[np.ndarray, np.ndarray] | None:
        """(sorted terms containing ch, word-boundary flags) from the
        build-time char_terms table. None when the table is absent or
        the char's list was cap-withheld — callers then run the
        full-dictionary scan."""
        if self._char_terms_ds is None:
            return None
        got = self._char_terms_cache.get(ch, False)
        if got is not False:
            return got
        tbl = self._char_terms_ds.to_table(
            columns=["terms", "wb"], filter=ds.field("ch") == ch
        )
        if tbl.num_rows == 0:
            out = (np.zeros(0, dtype="<U1"), np.zeros(0, dtype=bool))
        else:
            terms = tbl["terms"][0].as_py()
            if terms is None:  # cap-withheld row
                out = None
            else:
                out = (
                    np.asarray(terms, dtype=str),
                    np.asarray(tbl["wb"][0].as_py(), dtype=bool),
                )
        if len(self._char_terms_cache) >= 512:
            self._char_terms_cache.clear()
        self._char_terms_cache[ch] = out
        return out

    def sq_meta(self) -> dict | None:
        """In-memory short-query precedence columns (doc-id-sorted numpy
        arrays: n_tokens int64, tiny/first3/first_word3 '<U3') — loaded
        once from doc_meta. None when doc_meta is absent or the corpus
        exceeds the cache cap; callers then use the per-candidate
        doc_meta point-fetch path."""
        if self._sq_meta is not None:
            return self._sq_meta or None
        if self._doc_meta is None or self.total_docs > self.SQ_META_CACHE_LIMIT:
            self._sq_meta = {}
            return None
        tbl = self._doc_meta.to_table(
            columns=["doc_id", "n_tokens", "tiny_text", "first3", "first_word3"]
        )
        ids = tbl["doc_id"].to_numpy()
        order = np.argsort(ids)
        tiny = tbl["tiny_text"].to_pandas().fillna("\x00").to_numpy(dtype="<U3")
        first3 = tbl["first3"].to_pandas().fillna("").to_numpy(dtype="<U3")[order]
        self._sq_meta = {
            "ids": ids[order],
            "n_tokens": tbl["n_tokens"].to_numpy()[order],
            # NUL sentinel for null tiny_text: never equals a real query
            "tiny": tiny[order],
            "first3": first3,
            # truncated copy: startswith(q) for len-2 q is equality on it
            "first2": first3.astype("<U2"),
            "first_word3": tbl["first_word3"].to_pandas().fillna("").to_numpy(dtype="<U3")[order],
        }
        return self._sq_meta

    def _open_ps_store(self):
        """Memory-map pattern_scores.arrow once: (sorted pattern '<U4'
        array + its row permutation, flattened doc ids, (packed score
        bytes, per-row byte offsets, per-row bit widths), doc-id list
        offsets, n_docs) — rows are stored in arrival order (no build
        sort); the tiny pattern column is argsorted here, and a probe is
        one searchsorted, a zero-copy id slice and one row's unpack."""
        if self._ps_store is None:
            path = os.path.join(self.index_dir, "pattern_scores.arrow")
            if not os.path.isfile(path):
                self._ps_store = ()
            else:
                import pyarrow as pa

                tbl = pa.ipc.open_file(pa.memory_map(path)).read_all()
                tbl = tbl.combine_chunks()
                ids_col = tbl["doc_ids"].chunk(0)
                pats = tbl["pattern"].to_numpy().astype("<U4")
                order = np.argsort(pats, kind="stable")
                # CompactArray rows (n-bit packed scores): keep the
                # binary column's flat buffer + offsets; decode the
                # probed row's slice only
                pk = tbl["scores_packed"].chunk(0)
                bufs = pk.buffers()
                data = (
                    np.frombuffer(bufs[2], dtype=np.uint8)
                    if bufs[2] is not None
                    else np.zeros(0, dtype=np.uint8)
                )
                # binary array buffers: [validity, int32 offsets, data]
                poffs = np.frombuffer(bufs[1], dtype=np.int32)[
                    pk.offset : pk.offset + len(pk) + 1
                ]
                scores = (data, poffs, tbl["score_bits"].to_numpy())
                self._ps_store = (
                    pats[order],
                    order,
                    ids_col.values.to_numpy(),
                    scores,
                    ids_col.offsets.to_numpy(),
                    tbl["n_docs"].to_numpy(),
                )
        return self._ps_store or None

    def _open_doc_store(self):
        """Memory-map doc_store.arrow once (written doc_id-sorted).
        Returns (doc_id ndarray, text column) or None when absent."""
        if self._doc_store is None:
            path = os.path.join(self.index_dir, "doc_store.arrow")
            if not os.path.isfile(path):
                self._doc_store = ()
            else:
                import pyarrow as pa

                reader = pa.ipc.open_file(pa.memory_map(path))
                tbl = reader.read_all()  # zero-copy views over the mmap
                self._doc_store = (tbl["doc_id"].to_numpy(), tbl["text"])
        return self._doc_store or None

    def doc_texts(self, doc_ids: list[int]) -> dict[int, str]:
        """Prepped text per internal doc id. Served from the mmap'd
        doc_store (random .take — O(candidates) page touches, the
        reference's mmap'd IndexedText analogue) when present; falls
        back to a doc_meta parquet point fetch."""
        if not doc_ids:
            return {}
        store = self._open_doc_store()
        if store is not None:
            ids_sorted, texts = store
            want = np.asarray(doc_ids, dtype=np.int64)
            pos = np.searchsorted(ids_sorted, want)
            pos_c = np.clip(pos, 0, max(ids_sorted.size - 1, 0))
            ok = ids_sorted.size > 0
            hit = (ids_sorted[pos_c] == want) if ok else np.zeros(want.size, bool)
            got = texts.take(pos_c[hit]).to_pylist()
            return dict(zip(want[hit].tolist(), got))
        if self._doc_meta is None:
            return {}
        tbl = self._doc_meta.to_table(
            columns=["doc_id", "text"], filter=ds.field("doc_id").isin(doc_ids)
        )
        return dict(zip(tbl["doc_id"].to_pylist(), tbl["text"].to_pylist()))

    def doc_title_rows(
        self, doc_ids: list[int]
    ) -> tuple[dict[int, str], dict[int, str]]:
        """(text, words_text) per internal doc id held by this segment.
        words_text is the space-joined word stream with sentinel spaces.
        Slim indexes (doc_meta without the text columns — _slim_doc_meta)
        serve texts from the doc_store and re-derive words_text with the
        build's exact delimiter collapse."""
        if self._doc_meta is None or not doc_ids:
            return {}, {}
        if "text" not in self._doc_meta.schema.names:
            texts = self.doc_texts(doc_ids)
            if not texts:
                return {}, {}
            import pandas as pd

            from infidex_spark.build.tokenizer import _DELIM_SPLIT

            ser = pd.Series(list(texts.values()))
            joined = ser.str.replace(_DELIM_SPLIT, " ", regex=True).str.strip()
            wt = (" " + joined + " ").where(joined != "", " ")
            return texts, dict(zip(texts.keys(), wt.tolist()))
        tbl = self._doc_meta.to_table(
            columns=["doc_id", "text", "words_text"],
            filter=ds.field("doc_id").isin(doc_ids),
        )
        ids = tbl["doc_id"].to_pylist()
        return (
            dict(zip(ids, tbl["text"].to_pylist())),
            dict(zip(ids, tbl["words_text"].to_pylist())),
        )

    def ids_for_keys(self, keys: list[int]) -> dict[int, list[int]]:
        """doc_key -> sorted internal doc_ids (all segments of the doc).
        Bounded by |keys|: served from the in-memory doc_stats cache via a
        once-built key-sorted permutation, else a doc_key pushdown scan."""
        if not keys:
            return {}
        if self._dl_cache is not None:
            ids, dkeys, _ = self._dl_cache
            if self._key_order is None:
                # doc_stats is doc_id-ordered and keys ascend with ids in
                # the common dense mapping — an O(n) check dodges the
                # O(n log n) argsort on the cold path (~150 ms at 1M)
                if dkeys.size < 2 or np.all(dkeys[:-1] <= dkeys[1:]):
                    self._key_order = np.arange(dkeys.size, dtype=np.int64)
                else:
                    self._key_order = np.argsort(dkeys, kind="stable")
                # cache the key-sorted projection: an n_docs-sized gather
                # per call is new-page allocation on every search (8 MB at
                # 1M docs — first-touch faults dominate under memory
                # pressure); build it once with the permutation
                self._keys_sorted = dkeys[self._key_order]
            order = self._key_order
            keys_sorted = self._keys_sorted
            want = np.asarray(sorted(set(keys)), dtype=np.int64)
            lo = np.searchsorted(keys_sorted, want, "left")
            hi = np.searchsorted(keys_sorted, want, "right")
            out: dict[int, list[int]] = {}
            for k, a, b in zip(want.tolist(), lo.tolist(), hi.tolist()):
                if b > a:
                    # stable sort by key keeps doc_id ascending within key
                    out[k] = ids[order[a:b]].tolist()
            return out
        tbl = self._doc_stats.to_table(
            columns=["doc_id", "doc_key"], filter=ds.field("doc_key").isin(keys)
        )
        out = {}
        for k, i in sorted(
            zip(tbl["doc_key"].to_pylist(), tbl["doc_id"].to_pylist())
        ):
            out.setdefault(k, []).append(i)
        return out


class MultiReader:
    """Reader over a main segment plus delta segments (streaming ingest)
    with tombstone deletes. Same reader contract as IndexReader (see its
    docstring); an optional table counts as present only when every
    segment has it. Segment doc-id spaces are disjoint and ascending in
    segment order, so per-doc data concatenates: postings (global df =
    sum) and pattern aggregates stay sorted, and the short-query
    precedence columns (sq_meta) stitch into one doc-id-sorted set, so
    live short queries take the same numpy precedence path as one
    segment. Terms stopped in ANY segment are treated as stopped
    globally (their true df is unrecoverable there — conservative,
    matches the reference's permanent stop tombstones). Stored
    short-query answers are not merged (sq_topk is None): a stored row's
    scores anchor to its own segment's max."""

    def __init__(self, index_dir: str):
        from infidex_spark.streaming.incremental import (
            _segment_dirs,
            load_tombstones,
        )

        seg_dirs = _segment_dirs(index_dir)
        if not seg_dirs:
            raise FileNotFoundError(f"no index segments under {index_dir}")
        self.readers = [IndexReader(d) for d in seg_dirs]
        r0 = self.readers[0]
        self.total_docs = sum(r.total_docs for r in self.readers)
        sum_dl = sum(r.manifest.get("sum_dl", 0.0) for r in self.readers)
        self.avgdl = (
            np.float32(np.float32(sum_dl) / np.float32(self.total_docs))
            if self.total_docs
            else np.float32(0.0)
        )
        self.stop_term_limit = r0.stop_term_limit
        self.sizes, self.start_pad = r0.sizes, r0.start_pad
        self.stop_terms = frozenset().union(*(r.stop_terms for r in self.readers))
        self.tombstones = frozenset(load_tombstones(index_dir).tolist())
        self.synonym_map = r0.synonym_map
        self.has_short_query_tables = all(
            r.has_short_query_tables for r in self.readers
        )
        self._sq_meta: dict | None = None  # lazy stitched meta cache

    def prewarm_postings_meta(self) -> None:
        for r in self.readers:
            r.prewarm_postings_meta()
        self.sq_meta()

    def fetch_terms(self, terms: list[str]):
        """Per-term merge across segments via CompositeTermPostings —
        parts stay lazily encoded (no np.concatenate of decoded arrays),
        so the lazy block decode survives segmentation."""
        per: dict[str, list] = {}
        for r in self.readers:
            for term, tp in r.fetch_terms(terms).items():
                per.setdefault(term, []).append(tp)
        return {
            t: parts[0] if len(parts) == 1 else CompositeTermPostings(t, parts)
            for t, parts in per.items()
        }

    def fetch_prefix(self, prefix: str) -> tuple[int, np.ndarray | None]:
        total, parts = 0, []
        for r in self.readers:
            n, ids = r.fetch_prefix(prefix)
            total += n
            if ids is not None:
                parts.append(ids)
        if total == 0:
            return 0, None
        ids = np.concatenate(parts) if parts else None
        if ids is not None and ids.size < total:
            ids = None  # some segment withheld its (hot) list
        return total, ids

    def prefix_count(self, prefix: str) -> int:
        return sum(r.prefix_count(prefix) for r in self.readers)

    def short_query_rows(self, prefix: str):
        parts = [r.short_query_rows(prefix) for r in self.readers]
        if any(p is None for p in parts):
            # some segment is hot (rows withheld) -> champion path for all
            return None
        parts = [p for p in parts if p]  # drop segments without the prefix
        if not parts:
            return {}
        return {k: np.concatenate([p[k] for p in parts]) for k in parts[0]}

    def champion_list(self, prefix: str) -> list[tuple[int, float]]:
        merged: list[tuple[int, float]] = []
        for r in self.readers:
            merged.extend(r.champion_list(prefix))
        merged.sort(key=lambda t: (-t[1], t[0]))
        return merged

    def fetch_variant_terms(self, token: str) -> list[str]:
        out: set[str] = set()
        for r in self.readers:
            out.update(r.fetch_variant_terms(token))
        return sorted(out)

    def doc_lengths(self, doc_ids: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        dl = np.empty(doc_ids.size, dtype=np.float32)
        keys = np.empty(doc_ids.size, dtype=np.int64)
        done = np.zeros(doc_ids.size, dtype=bool)
        for r in self.readers:
            if r._dl_cache is None:
                continue
            ids, rkeys, rdls = r._dl_cache
            pos = np.searchsorted(ids, doc_ids)
            pos_c = np.clip(pos, 0, max(ids.size - 1, 0))
            hit = (ids.size > 0) & (ids[pos_c] == doc_ids) & ~done
            dl[hit] = rdls[pos_c[hit]]
            keys[hit] = rkeys[pos_c[hit]]
            done |= hit
        if not done.all():
            raise KeyError("doc_ids not found in any segment")
        return dl, keys

    def ids_for_keys(self, keys: list[int]) -> dict[int, list[int]]:
        out: dict[int, list[int]] = {}
        for r in self.readers:
            for k, ids in r.ids_for_keys(keys).items():
                out.setdefault(k, []).extend(ids)
        for ids in out.values():
            ids.sort()
        return out

    # --- aux structures for the rerank / short-query paths: per-segment
    # unions (doc-id spaces are disjoint, word stats sum across segments)

    def word_df_map(self, cap: int) -> dict[str, int] | None:
        out: dict[str, int] = {}
        for r in self.readers:
            m = r.word_df_map(cap)
            if m is None:
                return None
            for w, df in m.items():
                out[w] = out.get(w, 0) + df
            if len(out) > cap:
                return None
        return out

    def wm_word_docs(self, words: list[str]) -> dict[str, np.ndarray] | None:
        return self._merge_word_docs([r.wm_word_docs(words) for r in self.readers])

    def sq1_word_docs(self, words: list[str]) -> dict[str, np.ndarray] | None:
        return self._merge_word_docs([r.sq1_word_docs(words) for r in self.readers])

    @staticmethod
    def _merge_word_docs(per_segment: list) -> dict[str, np.ndarray] | None:
        if any(got is None for got in per_segment):
            return None
        out: dict[str, list[np.ndarray]] = {}
        for got in per_segment:
            for w, ids in got.items():
                out.setdefault(w, []).append(ids)
        return {
            w: np.sort(np.concatenate(parts)) for w, parts in out.items()
        }

    def close(self) -> None:
        for r in self.readers:
            r.close()

    def pattern_scores(self, pattern: str) -> tuple[np.ndarray, np.ndarray] | None:
        """Per-segment aggregates concatenate (doc-id spaces disjoint and
        ascending); None when any segment lacks the table or the row."""
        ids_l, sc_l = [], []
        for r in self.readers:
            got = r.pattern_scores(pattern)
            if got is None:
                return None
            ids_l.append(got[0])
            sc_l.append(got[1])
        return np.concatenate(ids_l), np.concatenate(sc_l)

    def sq_meta(self) -> dict | None:
        """The segments' sq_meta columns concatenated in segment order,
        built once. None when any segment has none (the caller then
        takes the doc_title_rows path); ValueError when the stitched ids
        are not strictly increasing, i.e. the segments' doc-id spaces
        overlap or are out of order."""
        if self._sq_meta is None:
            parts = [r.sq_meta() for r in self.readers]
            if any(p is None for p in parts):
                self._sq_meta = {}
            else:
                meta = {c: np.concatenate([p[c] for p in parts]) for c in parts[0]}
                ids = meta["ids"]
                if not bool(np.all(ids[1:] > ids[:-1])):
                    raise ValueError(
                        "segment doc ids are not disjoint and ascending: "
                        f"{[r.index_dir for r in self.readers]}"
                    )
                self._sq_meta = meta
        return self._sq_meta or None

    # stored champion rows are per segment (their scores anchor to one
    # segment's max), so a multi-segment index answers short queries live
    def sq_topk(self, q: str) -> list[tuple[int, float]] | None:
        return None

    def sq_topk_complete(self, q: str) -> bool:
        return False

    def char_terms(self, ch: str) -> tuple[np.ndarray, np.ndarray] | None:
        return None  # the caller scans the merged sorted_terms()

    def doc_texts(self, doc_ids: list[int]) -> dict[int, str]:
        out: dict[int, str] = {}
        for r in self.readers:
            out.update(r.doc_texts(doc_ids))
        return out

    def doc_title_rows(
        self, doc_ids: list[int]
    ) -> tuple[dict[int, str], dict[int, str]]:
        texts: dict[int, str] = {}
        wtexts: dict[int, str] = {}
        for r in self.readers:
            t, w = r.doc_title_rows(doc_ids)
            texts.update(t)
            wtexts.update(w)
        return texts, wtexts

    def terms_with_prefix(self, pattern: str, limit: int) -> list[str]:
        out: set[str] = set()
        for r in self.readers:
            out.update(r.terms_with_prefix(pattern, limit))
        return sorted(out)[:limit]

    def words_with_prefix(
        self, prefix: str, limit: int, min_len: int = 0
    ) -> list[str] | None:
        out: set[str] = set()
        for r in self.readers:
            got = r.words_with_prefix(prefix, limit, min_len)
            if got is None:
                return None
            out.update(got)
        return sorted(out)[:limit]

    def words_with_suffix(
        self, suffix: str, limit: int, min_len: int = 0
    ) -> list[str] | None:
        out: set[str] = set()
        for r in self.readers:
            got = r.words_with_suffix(suffix, limit, min_len)
            if got is None:
                return None
            out.update(got)
        return sorted(out, key=lambda x: x[::-1])[:limit]

    def word_variant_words(self, w: str) -> list[str] | None:
        out: set[str] = set()
        for r in self.readers:
            got = r.word_variant_words(w)
            if got is None:
                return None
            out.update(got)
        return sorted(out)

    def word_dfs(self, words: list[str]) -> dict[str, int]:
        out: dict[str, int] = {}
        for r in self.readers:
            for w, df in r.word_dfs(words).items():
                out[w] = out.get(w, 0) + df
        return out

    def sorted_terms(self) -> list[str] | None:
        out: set[str] = set()
        for r in self.readers:
            got = r.sorted_terms()
            if got is None:
                return None
            out.update(got)
        return sorted(out)


class QueryExecutor:
    """Stage-1 BM25 retrieval matching the kernel oracle rank-for-rank.

    high_resolution enables the A6 query-side joined-text shingle pass
    (default off, matching the reference's config 400)."""

    def __init__(self, reader, high_resolution: bool = False):
        self.r = reader
        self.high_resolution = high_resolution
        # short-query result cache: the non-ngram query space is tiny
        # (1-3 char strings / all-short-word combos) and results are a
        # pure function of the immutable reader state — the reference
        # precomputes champion lists for the same reason
        self._short_cache: dict[tuple[str, int], list] = {}
        self._terms_ser: tuple | None = None  # fuzzy-fallback term Series
        self._fuzzy_union_cache: dict[str, TermPostings | None] = {}

    def search(
        self, query: str, k: int = 10, use_wand: bool = True
    ) -> list[tuple[int, float]]:
        """Top-k (doc_key, score). use_wand=True routes scoring through the
        block-max MaxScore pruner (lossless — identical results, tested);
        False scores every candidate exhaustively."""
        q = normalize(query.strip()).lower()
        syn = self.r.synonym_map
        if syn is not None and syn.has_mappings:
            q = syn.canonicalize_text(q)
        if not q or self.r.total_docs == 0:
            return []
        # routing identical to the kernel (QueryAnalyzer semantics)
        min_size = self.r.sizes[0]
        words = word_tokens(q, min_size=1)
        long_words = [w for w in words if len(w) >= min_size]
        can_ngrams = bool(long_words) if words else len(q) >= min_size
        if not can_ngrams:
            # 1-char: positional-prefix champion path; longer non-ngram
            # queries: the FST-expansion short-query processor (D10),
            # falling back to the resolver when term_dict/doc_meta are
            # absent (aux=False builds; delta segments have both)
            ck = (q, k)
            got = self._short_cache.get(ck)
            if got is None:
                if len(q) > 1 and self.r.has_short_query_tables:
                    # champion lists (build-time full answers) first: one
                    # dict lookup when the query was precomputed and the
                    # stored depth covers k. Tombstones FILTER the stored
                    # row (the reference serves short queries from its
                    # in-RAM champion lists regardless of deletes,
                    # ShortQueryResolver.cs:18-31): scores anchor to the
                    # full-corpus max in the live path too, so surviving
                    # entries keep their stored order AND values — filter
                    # + truncate is bit-identical to live. A doc outside
                    # the stored depth scores below every stored entry,
                    # so the filtered row stays exact while it still
                    # covers k (complete rows cover any k).
                    got = None
                    row = self.r.sq_topk(q)
                    tomb = self.r.tombstones
                    if row is not None and tomb:
                        row = [(d, s) for d, s in row if d not in tomb]
                    if row is not None and (
                        k <= len(row) or self.r.sq_topk_complete(q)
                    ):
                        got = [(int(d), float(s)) for d, s in row[:k]]
                    if got is None:
                        got = self._search_short_query(q, k)
                else:
                    got = self._short_query(q, k)
                if len(self._short_cache) >= 10_000:
                    self._short_cache.clear()
                self._short_cache[ck] = got
            return list(got)
        if long_words and len(long_words) < len(words):
            q = " ".join(long_words)
        tokens = search_tokens(
            q, self.r.sizes, self.r.start_pad,
            high_resolution=self.high_resolution,
        )
        if not tokens:
            return []
        uniq = sorted(set(tokens))
        fetched = self.r.fetch_terms(uniq)

        active: list[TermPostings] = []
        seen: set[str] = set()
        for tok in uniq:
            if tok in seen:
                continue
            seen.add(tok)
            tp = fetched.get(tok)
            if tp is None and len(tok) >= 4 and tok not in self.r.stop_terms:
                tp = self._fuzzy_union(tok)
            if tp is None or tp.df <= 0 or tp.df > self.r.stop_term_limit:
                continue
            active.append(tp)
        if not active:
            return []

        avgdl = self.r.avgdl if self.r.avgdl > 0 else np.float32(1.0)
        idfs = np.array(
            [compute_idf(self.r.total_docs, t.df) for t in active], dtype=np.float32
        )
        max_scores = np.array(
            [term_max_score(idfs[i], avgdl) for i in range(len(active))],
            dtype=np.float32,
        )

        cand, carried_tf = self._select_candidates(active, idfs, k, q)
        if cand.size == 0:
            cand = np.unique(np.concatenate([t.doc_ids for t in active]))
            carried_tf = None
        if cand.size == 0:
            return []

        dl, keys = self.r.doc_lengths(cand)
        dl = np.where(dl <= 0, np.float32(1.0), dl)

        # soft deletes: tombstoned docs never reach scoring (reference:
        # Document.Deleted checked in the scoring loop)
        tomb = self.r.tombstones
        if tomb:
            live = ~np.isin(keys, np.fromiter(tomb, dtype=np.int64, count=len(tomb)))
            cand, dl, keys = cand[live], dl[live], keys[live]
            if carried_tf is not None:
                carried_tf = [a[live] for a in carried_tf]
            if cand.size == 0:
                return []

        from infidex_spark.build.segmenter import consolidate

        if use_wand:
            m = max(4 * k, 64)
            if carried_tf is not None:
                # full-AND candidates: every term hits every candidate
                # and the tfs rode out of the intersection — score
                # directly (same float32 accumulation order as WAND's
                # descending-max-score term walk, same (score desc,
                # candidate asc) top-m rule; WAND's pruning is lossless,
                # so results are identical)
                t_order = np.argsort(-max_scores, kind="stable")
                scores = np.zeros(cand.size, dtype=np.float32)
                for ti in t_order:
                    scores += term_score(carried_tf[ti], dl, avgdl, idfs[ti])
                if scores.size > m:
                    thr = np.partition(scores, scores.size - m)[scores.size - m]
                    pre = np.flatnonzero(scores >= thr)
                else:
                    pre = np.arange(scores.size)
                sub = np.lexsort((cand[pre], -scores[pre]))[:m]
                pos, sc = pre[sub], scores[pre][sub]
            else:
                from infidex_spark.query.wand import wand_topk

                # over-fetch so segment consolidation (best segment per
                # doc_key) can still fill k distinct keys; no-op when
                # keys are unique
                pos, sc = wand_topk(cand, active, idfs, max_scores, dl, avgdl, m)
            kk = keys[pos]
            order = np.lexsort((kk, -sc))
            hits = [(int(kk[i]), float(sc[i])) for i in order]
            return consolidate(hits, k)

        scores = np.zeros(cand.size, dtype=np.float32)
        for i, t in enumerate(active):
            hit, tf = t.lookup(cand)
            if hit.any():
                scores[hit] += term_score(tf, dl[hit], avgdl, idfs[i])

        nz = scores > 0
        keys, scores = keys[nz], scores[nz]
        order = np.lexsort((keys, -scores))
        hits = [(int(keys[i]), float(scores[i])) for i in order]
        return consolidate(hits, k)

    # --------------------------------------------------------------- parts

    def _search_short_query(
        self, q: str, k: int, min_matched: int = 0
    ) -> list[tuple[int, float]] | None:
        """D10 multi-char non-ngram queries — executor port of
        ShortQueryProcessor.SearchShortQuery, bit-identical to the
        kernel's _search_short_query (same pattern expansion under the
        4096-per-pattern cap, same fuzzy fallback and precedence
        scoring; title checks use the key's representative lowest-id
        document). This one function also writes the stored answers
        IndexReader.sq_topk serves: the build runs it over the finished
        index (indexer._build_sq_answers) and passes min_matched, so a
        query whose patterns match fewer keys than that, before the
        fuzzy fallback, returns None instead of an answer. Two
        interchangeable data paths per stage, both parity-tested equal:

        - pattern contributions come from the precomputed pattern_scores
          aggregates (a point fetch per pattern) when the table exists,
          else from live term_dict expansion + postings decode;
        - precedence bits come from the in-memory sq_meta columns +
          wm/sq1 word postings (pure numpy) when available, else from
          doc_meta point fetches over the representative docs."""
        from infidex_spark.kernel.engine import (
            MAX_FST_TERMS_PER_PREFIX,
            build_prefix_patterns,
        )

        r = self.r
        patterns = build_prefix_patterns(q, r.sizes[0], r.start_pad)
        ids_l: list[np.ndarray] = []
        # weights stay (raw tf array, scalar multiplier) pairs until
        # aggregation: the eager per-term float64 materialization was
        # ~1.3 s of copies on broad-fuzzy queries at 1M docs
        w_l: list[tuple[np.ndarray, float]] = []

        live_pats: list[str] = []
        base_pats: list[str] = []
        for pat in patterns:
            got = r.pattern_scores(pat)
            if got is None:
                live_pats.append(pat)
                continue
            if got[0].size:
                ids_l.append(got[0])
                w_l.append((got[1], 10.0))
            if len(pat) == 3 and not pat.startswith("￿"):
                # plen-3 rows are deltas — the base gram's own
                # postings (lazily decoded, term-cached) complete it.
                # Pad-prefixed pattern rows are stored complete.
                base_pats.append(pat)
        if base_pats:
            fetched = r.fetch_terms(base_pats)
            for pat in base_pats:
                tp = fetched.get(pat)
                if tp is None or tp.df <= 0 or tp.n_docs == 0:
                    continue
                ids_l.append(tp.doc_ids)
                w_l.append((tp.tfs, 10.0))
        if live_pats:
            expanded: list[str] = []
            for pat in live_pats:
                expanded.extend(r.terms_with_prefix(pat, MAX_FST_TERMS_PER_PREFIX))
            fetched = r.fetch_terms(expanded)
            for t in expanded:
                tp = fetched.get(t)
                if tp is None or tp.df <= 0 or tp.n_docs == 0:
                    continue
                ids_l.append(tp.doc_ids)
                w_l.append((tp.tfs, 10.0))

        def aggregate():
            # dense/sparse/chunked selection + exact float64 sums live in
            # aggregate_weighted_postings (module-level, unit-tested with
            # both paths forced at a synthetic 10M-doc id space)
            uids, iscores = aggregate_weighted_postings(
                ids_l, w_l, r.total_docs
            )
            if uids.size == 0:
                z = np.zeros(0, dtype=np.int64)
                return z, np.zeros(0, dtype=np.float64), z
            _, keys = r.doc_lengths(uids)
            return uids, iscores, keys

        uids, iscores, ukeys = aggregate()
        keys_sorted = bool(
            ukeys.size == 0 or np.all(ukeys[1:] > ukeys[:-1])
        )
        n_matched = (
            ukeys.size if keys_sorted else (np.unique(ukeys).size if ukeys.size else 0)
        )
        if n_matched < min_matched:
            return None
        if n_matched < SHORT_FUZZY_MIN_MATCHED:
            fuzzy = self._short_fuzzy_terms(q, patterns)
            if fuzzy:
                f_fetched = r.fetch_terms([t for t, _ in fuzzy])
                for t, mult in fuzzy:
                    tp = f_fetched.get(t)
                    if tp is None or tp.df <= 0 or tp.n_docs == 0:
                        continue
                    ids_l.append(tp.doc_ids)
                    w_l.append((tp.tfs, float(mult)))
                uids, iscores, ukeys = aggregate()
                keys_sorted = bool(
                    ukeys.size == 0 or np.all(ukeys[1:] > ukeys[:-1])
                )

        if uids.size == 0:
            return []
        if keys_sorted:
            # strictly increasing keys (the common 1-id-per-key case):
            # per-key grouping is the identity — skip two sorts and the
            # (slow) minimum.at scatter
            uk, scores, rep = ukeys, iscores, uids
        else:
            uk, kinv = np.unique(ukeys, return_inverse=True)
            scores = np.bincount(kinv, weights=iscores, minlength=uk.size)
            rep = np.full(uk.size, np.iinfo(np.int64).max, dtype=np.int64)
            np.minimum.at(rep, kinv, uids)

        # normalization anchors to the FULL corpus max, then deletes are
        # filtered — the reference's champion-list model (deleted docs
        # drop out of the served list; surviving scores do not move,
        # ShortQueryResolver.cs:18-31). This also makes stored champion
        # rows exactly servable under tombstones: filter + truncate is
        # bit-identical to this live path.
        max_score = float(scores.max())
        tomb = r.tombstones
        if tomb:
            live = ~np.isin(uk, np.fromiter(tomb, dtype=np.int64, count=len(tomb)))
            uk, scores, rep = uk[live], scores[live], rep[live]
            if uk.size == 0:
                return []
        prec = self._short_precedence(q, rep)
        norm = scores / max_score if max_score > 0 else scores / 255.0
        finals = (prec + norm).astype(np.float32)
        n = finals.size
        if n > 4096 and k < n:
            # top-k selection instead of a full lexsort: every entry with
            # finals >= the k-th largest value is kept (boundary ties
            # included), so ordering the selection by (-finals, key) is
            # identical to the full sort's first k
            thresh = np.partition(finals, n - k)[n - k]
            sel = np.flatnonzero(finals >= thresh)
            if sel.size <= 100_000:
                sub = np.lexsort((uk[sel], -finals[sel]))[:k]
                order = sel[sub]
            else:
                order = np.lexsort((uk, -finals))[:k]
        else:
            order = np.lexsort((uk, -finals))[:k]
        return [(int(uk[i]), float(finals[i])) for i in order]

    def _short_fuzzy_terms(self, q: str, patterns: list[str]):
        """Vectorized ProcessFuzzyFallback term scan: (term, mult) for
        every live dictionary term containing any query char (mult 2
        when a char matches at a word boundary), excluding
        pattern-prefixed terms. Preferred path: union of the build-time
        per-char term lists (char_terms table — O(candidate terms), no
        dictionary scan); falls back to pandas C string ops over a
        cached term Series when the table is absent or a char row was
        cap-withheld."""
        import pandas as pd

        per_char = [self.r.char_terms(ch) for ch in dict.fromkeys(q)]
        if all(got is not None for got in per_char):
            if not sum(len(got[0]) for got in per_char):
                return []
            tcat = np.concatenate([got[0] for got in per_char])
            wbcat = np.concatenate([got[1] for got in per_char])
            uniq, inv = np.unique(tcat, return_inverse=True)
            wb_any = np.bincount(inv, weights=wbcat.astype(np.float64)) > 0
            ser = pd.Series(uniq)
            excl = np.zeros(len(uniq), dtype=bool)
            for pat in patterns:
                excl |= ser.str.startswith(pat).to_numpy()
            sel = ~excl
            if not sel.any():
                return []
            mult = np.where(wb_any[sel], 2.0, 1.0)
            return list(zip(ser[sel].tolist(), mult.tolist()))
        all_terms = self.r.sorted_terms()
        if all_terms is None:
            return None

        cached = self._terms_ser
        if cached is None or cached[0] is not all_terms:
            ser = pd.Series(all_terms)
            self._terms_ser = (all_terms, ser)
        else:
            ser = cached[1]
        n = len(ser)
        mask_any = np.zeros(n, dtype=bool)
        wb = np.zeros(n, dtype=bool)
        for ch in dict.fromkeys(q):
            mask_any |= ser.str.contains(ch, regex=False).to_numpy()
            wb |= ser.str.contains(" " + ch, regex=False).to_numpy()
        excl = np.zeros(n, dtype=bool)
        for pat in patterns:
            excl |= ser.str.startswith(pat).to_numpy()
        sel = mask_any & ~excl
        if not sel.any():
            return []
        mult = np.where(wb[sel], 2.0, 1.0)
        return list(zip(ser[sel].tolist(), mult.tolist()))

    def _short_word_docs(self, tokens: list[str]) -> dict | None:
        """Internal doc-id lists per query token for the fast precedence
        path (sq_words1 for 1-char, wm_words for >= 2-char words). None
        when either table is absent or a list may be truncated (build
        cap reached) — callers then use the doc_meta point-fetch path."""
        r = self.r
        t1 = sorted({t for t in tokens if len(t) == 1})
        t2 = sorted({t for t in tokens if len(t) >= 2})
        out: dict[str, np.ndarray] = {}
        for toks, fetch in ((t1, r.sq1_word_docs), (t2, r.wm_word_docs)):
            if not toks:
                continue
            got = fetch(toks)
            if got is None:
                return None
            for t in toks:
                out[t] = got.get(t, np.zeros(0, dtype=np.int64))
        if any(v.size >= r.stop_term_limit for v in out.values()):
            return None
        return out

    def _short_precedence(self, q: str, rep: np.ndarray) -> np.ndarray:
        """ComputePrecedence over the representative docs. Fast path:
        pure numpy over the in-memory sq_meta columns + word postings
        (no per-query doc_meta fetch); falls back to the doc_meta
        point-fetch pandas path bit-identically."""
        import pandas as pd

        from infidex_spark.kernel.tokenize import DELIMITERS, word_tokens

        r = self.r
        qtokens = word_tokens(q, min_size=1)
        meta = r.sq_meta()
        fast = meta is not None
        if fast and len(qtokens) < 2 and len(q) > 3:
            # first3/tiny are 3-char columns: they cannot answer
            # startswith/equals for longer single-token queries
            fast = False
        q_is_word = not any(c in DELIMITERS for c in q)
        word_docs = None
        if fast:
            need = qtokens if len(qtokens) >= 2 else ([q] if q_is_word else [])
            if need:
                word_docs = self._short_word_docs(need)
                if word_docs is None:
                    fast = False
        if fast:
            pos = np.searchsorted(meta["ids"], rep)
            pos_c = np.clip(pos, 0, meta["ids"].size - 1)
            if meta["ids"].size == 0 or not np.array_equal(meta["ids"][pos_c], rep):
                fast = False  # rep doc missing from the cache: stay exact
            else:
                pos = pos_c
        def _member(arr: np.ndarray, probe: np.ndarray) -> np.ndarray:
            # membership via binary search when the postings list is
            # sorted (they are written doc-id ascending); falls back to
            # np.isin otherwise. Equal results either way.
            if arr.size == 0:
                return np.zeros(probe.size, dtype=bool)
            if np.all(arr[1:] >= arr[:-1]):
                pos = np.searchsorted(arr, probe)
                np.clip(pos, 0, arr.size - 1, out=pos)
                return arr[pos] == probe
            return np.isin(probe, arr)

        if fast:
            if len(qtokens) >= 2:
                n_match = np.zeros(rep.size, dtype=np.int64)
                for t in qtokens:
                    n_match += _member(word_docs[t], rep)
                all_present = n_match == len(qtokens)
                n_words = meta["n_tokens"][pos]
                return np.where(
                    all_present,
                    8 | np.where(n_words <= len(qtokens) + 1, 2, 0),
                    np.where(n_match > 0, 4, 0),
                ).astype(np.int64)
            prec = np.zeros(rep.size, dtype=np.int64)
            if q_is_word:
                any_exact = _member(word_docs[q], rep)
                first_exact = meta["first_word3"][pos] == q
                prec += any_exact * 1 + first_exact * 4
            # startswith(q) == equality on the len(q)-char prefix column
            if len(q) == 2:
                starts = meta["first2"][pos] == q
            elif len(q) == 3:
                starts = meta["first3"][pos] == q
            else:
                starts = np.char.startswith(meta["first3"][pos], q)
            prec += starts * 2
            prec += (meta["tiny"][pos] == q) * 8
            return prec
        texts_map, wtexts_map = r.doc_title_rows(sorted(set(rep.tolist())))
        rep_list = rep.tolist()
        titles = pd.Series([texts_map.get(int(i), "") for i in rep_list])
        wtexts = pd.Series([wtexts_map.get(int(i), " ") for i in rep_list])
        return _short_query_precedence_wtext(titles, wtexts, q)

    def _short_query(self, q: str, k: int) -> list[tuple[int, float]]:
        """1-3 char queries: positional-prefix resolution (D10) with the
        reference's precedence/base scoring; champion list fallback for
        hot prefixes whose full rows are not stored. The rows score and
        consolidate as arrays: kernel.engine.short_query_score per row
        and segmenter.consolidate over the hits, bit for bit (both stay
        the oracle, parity-tested)."""
        tomb = self.r.tombstones
        rows = self.r.short_query_rows(q)
        if rows is None:
            champs = self.r.champion_list(q)
            return [(d, s) for d, s in champs if d not in tomb][:k]
        if not rows or rows["doc_id"].size == 0:
            return []
        keys = rows["doc_key"]
        live = slice(None)
        if tomb:
            live = ~np.isin(keys, np.fromiter(tomb, dtype=np.int64, count=len(tomb)))
            keys = keys[live]
            if keys.size == 0:
                return []
        first_pos = rows["first_pos"][live].astype(np.int64)
        # null first_exact counts as False, as bool(None) does
        first_exact = np.asarray(rows["first_exact"][live], dtype=bool)
        prec = (
            128
            | np.where(first_pos == 0, 64, 0)
            | np.where((rows["n_exact"][live] > 0) | (rows["n_tokens"][live] <= 3), 32, 0)
            | np.where(first_exact, 16, 0)
            | np.where(rows["tiny_text"][live] == q, 8, 0)
        )
        pos_component = 255 - np.minimum(first_pos * 16, 240)
        density = np.minimum(rows["n_ws"][live].astype(np.int64) * 8, 32)
        scores = (prec << 8) | np.clip(pos_component + density, 0, 255)
        # consolidate: best score per key, then (score desc, key asc)
        order = np.lexsort((-scores, keys))
        keys, scores = keys[order], scores[order]
        first = np.ones(keys.size, dtype=bool)
        first[1:] = keys[1:] != keys[:-1]
        keys, scores = keys[first], scores[first]
        top = np.lexsort((keys, -scores))[:k]
        return [(int(keys[i]), float(scores[i])) for i in top]

    def _fuzzy_union(self, token: str) -> TermPostings | None:
        """LD1 virtual term: union of matching terms' doc lists, tf=1
        (VectorModel.ExpandMissingTerm semantics). The built union is
        cached per token — it is a pure function of the reader's
        immutable postings, and rebuilding it (concat + unique over the
        matched lists) was a per-call cost on every fuzzy query."""
        cache = self._fuzzy_union_cache
        if token in cache:
            return cache[token]
        tp = self._fuzzy_union_build(token)
        if len(cache) >= 2048:
            cache.clear()
        cache[token] = tp
        return tp

    def _fuzzy_union_build(self, token: str) -> TermPostings | None:
        matches = self.r.fetch_variant_terms(token)
        if not matches:
            return None
        posts = self.r.fetch_terms(matches)
        if not posts:
            return None
        union = np.unique(np.concatenate([p.doc_ids for p in posts.values()]))
        if union.size == 0:
            return None
        return TermPostings(
            term=token,
            df=int(union.size),
            doc_ids=union,
            tfs=np.ones(union.size, dtype=np.float32),
            block_last_doc=np.zeros(0, dtype=np.int64),
            block_max_w=np.zeros(0, dtype=np.int64),
        )

    def _select_candidates(
        self, active: list[TermPostings], idfs: np.ndarray, topk: int, q: str
    ) -> tuple[np.ndarray, list[np.ndarray] | None]:
        """TieredCandidateSelector semantics over fetched postings.

        Returns (candidates, carried_tf): when the candidates are the
        tier-0 FULL AND of every active term, carried_tf[i] is term i's
        tf aligned to the candidates — captured during the intersection
        probes, so the scorer needs no further postings lookups (a hot
        all-stop-level conjunction like 'the of and' at 1M docs paid a
        second full probe pass inside WAND for postings the intersection
        had just walked). None on every other tier."""
        # prefix precedence
        pc_docs = self._prefix_candidates(q, topk)
        if pc_docs is not None and pc_docs.size >= min(topk * 2, 100):
            return pc_docs, None

        max_idf = np.float32(idfs.max())
        if (np.array([t.df for t in active]) < 10).any() or len(active) == 1:
            return self._disjunctive(active, idfs, topk, max_idf), None

        order = sorted(range(len(active)), key=lambda i: (-idfs[i], i))
        terms_ord = [active[i] for i in order]
        out = np.zeros(0, dtype=np.int64)

        if len(terms_ord) >= 2:  # tier 0: AND of all
            out, tf_ord = _intersect_terms_tf(terms_ord)
            if out.size >= topk * 2:
                if tf_ord is not None:
                    carried: list[np.ndarray | None] = [None] * len(active)
                    for pos, i in enumerate(order):
                        carried[i] = tf_ord[pos]
                    return out, carried
                return out, None
        if len(terms_ord) >= 3 and out.size < topk * 3:  # tier 1: drop lowest idf
            out = np.union1d(out, _intersect_terms(terms_ord[:-1]))
        if out.size < topk * 5:  # tier 2: <=2 selective terms
            cutoff = max_idf * np.float32(0.3)
            picked = 0
            for i in order:
                if idfs[i] <= 0 or idfs[i] < cutoff:
                    continue
                out = np.union1d(out, active[i].doc_ids)
                picked += 1
                if out.size >= topk * 10 or picked == min(2, len(active)):
                    break
        return out, None

    def _prefix_candidates(self, q: str, topk: int) -> np.ndarray | None:
        for plen in range(min(len(q), 3), 0, -1):
            # cheap in-memory count first; fetch the doc list only when the
            # prefix actually qualifies
            n = self.r.prefix_count(q[:plen])
            if n == 0 or n > topk * 20:
                continue
            if n <= topk * 10:
                _, ids = self.r.fetch_prefix(q[:plen])
                if ids is not None:
                    return ids
        return None

    def _disjunctive(
        self, active: list[TermPostings], idfs: np.ndarray, topk: int, max_idf
    ) -> np.ndarray:
        order = sorted(range(len(active)), key=lambda i: (-idfs[i], i))
        low_cutoff = max_idf * np.float32(0.2)
        result = np.zeros(0, dtype=np.int64)
        has_selective = False
        for i in order:
            low_quality = idfs[i] < low_cutoff
            if len(active) > 1 and low_quality and has_selective:
                continue
            docs = active[i].doc_ids
            if docs.size == 0:
                continue
            result = np.union1d(result, docs)
            if not low_quality and result.size > 0:
                has_selective = True
            if result.size >= topk * 100:
                break
        return result


def _intersect_terms(terms: list) -> np.ndarray:
    """AND of TermPostings doc sets: the rarest term drives (full decode of
    the smallest list only); larger terms are probed via lookup, which
    block-decodes just the driver's blocks — a hot term in an AND with a
    rare term never pays its full decode."""
    out, _ = _intersect_terms_tf(terms)
    return out


def _intersect_terms_tf(terms: list) -> tuple[np.ndarray, list[np.ndarray] | None]:
    """_intersect_terms that also captures each term's tf aligned to the
    final result (every term hits every surviving doc in a full AND).
    The returned tf list is aligned to the INPUT `terms` order (the
    internal ascending-n_docs sort is undone before returning). tf
    arrays ride along the probes the intersection performs anyway;
    realignment after a shrink is a boolean-mask slice, not a
    re-search."""
    order = sorted(range(len(terms)), key=lambda i: terms[i].n_docs)
    t0 = terms[order[0]]
    out = t0.doc_ids
    tf_by_pos: dict[int, np.ndarray] = {0: t0.tfs}
    for step, oi in enumerate(order[1:], start=1):
        t = terms[oi]
        if out.size == 0:
            return out, None
        hit, tf = t.lookup(out)
        out = out[hit]
        if not hit.all():
            for p in tf_by_pos:
                tf_by_pos[p] = tf_by_pos[p][hit]
        tf_by_pos[step] = tf
    if out.size == 0:
        return out, None
    # re-order from ascending-n_docs positions back to `terms` order
    # sorted by the CALLER's key: emit aligned to the input list order
    tf_list: list[np.ndarray] = [np.zeros(0, dtype=np.float32)] * len(terms)
    for step, oi in enumerate(order):
        tf_list[oi] = tf_by_pos[step]
    return out, tf_list
