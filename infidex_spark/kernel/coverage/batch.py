"""Cross-candidate (batch) coverage evaluation — the vectorized executor
counterpart of the scalar matcher cascade in engine.CoverageEngine.

The scalar kernel (matchers.py / fusion.py, ports of
Coverage/WholeWordMatcher.cs, JoinedWordMatcher.cs, PrefixSuffixMatcher.cs,
FuzzyWordMatcher.cs, FusionSignalComputer.cs) stays the reference
implementation; this module produces BIT-IDENTICAL MatchState outputs and
FusionSignals for a whole candidate batch at once, exploiting two facts:

1. every pair decision (query token, doc word) is a pure function of the
   two texts — so it is computed ONCE PER UNIQUE WORD and reused across
   all candidates containing that word (the scalar path's per-query memo
   does this per pair lookup; here it becomes an array indexed by
   interned word id). A query's tables cover only the words its batches
   probe, and each batch's new words are filled in bulk per query token:
   Arrow string predicates for the affix/containment/fusion flags and one
   vectorized bit-parallel Levenshtein (Myers) pass for the edit
   distances. The scalar pair functions remain the oracle, and the
   fallback for query tokens longer than 63 chars;
2. the per-candidate cascade only needs the doc's token *code sequence*
   (plus char offsets for output fields), so candidate texts are
   tokenized in one vectorized pass (numpy delimiter mask for offsets +
   one C-level findall + one Arrow dictionary encode for codes) with no
   per-token Python objects, and the per-doc views (first-occurrence dedupe,
   length-desc order, long-token counts) are built with a handful of
   global numpy ops for the whole batch.

Inside the cascade, matches are RARE relative to (query token, doc word)
pairs, so each matcher first asks "any hit at all?" with one vectorized
table probe and only walks the short hit list when there is one — the
sequential active-flag semantics of the scalar cascade are replayed
exactly on that hit list.

Parity is enforced by tests/test_batch_coverage.py (randomized scalar ==
batch feature equality, every CoverageFeatures/FusionSignals field) and
by the executor-vs-kernel full-pipeline and golden tests, which run the
batch path end to end.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from infidex_spark.kernel.coverage.config import CoverageConfig
from infidex_spark.kernel.coverage.fusion import (
    ANCHOR_STEM_LENGTH,
    MAX_TRAILING_TERM_LENGTH_FOR_BONUS,
    FusionSignals,
)
from infidex_spark.kernel.coverage.matchers import _fuzzy_prefix_pair, _token_max_edits
from infidex_spark.kernel.coverage.metrics import damerau_restricted, levenshtein
from infidex_spark.kernel.coverage.scorer import CoverageFeatures, calculate_final_score
from infidex_spark.kernel.coverage.state import _WORD_RE
from infidex_spark.kernel.strings import factorize_strings
from infidex_spark.kernel.tokenize import DELIMITERS

# interner size cap. A query's fill work is set by its batches' words,
# not by the executor's age, but its tables are still arrays indexed by
# word id (a few float64/bool arrays of length n_words per query token),
# which beyond this would grow past ~100 MB; the caller clears interner +
# views + ctx tables and starts fresh
INTERNER_CAP = 2_000_000

# delimiter lookup table over the BMP (all 22 delimiters are < U+10000;
# astral chars are never delimiters)
_DELIM_TABLE = np.zeros(65536, dtype=bool)
for _c in DELIMITERS:
    _DELIM_TABLE[ord(_c)] = True


def _token_starts(blob: str) -> np.ndarray:
    """Char offsets of every token start in blob, vectorized (same
    boundaries as _WORD_RE: maximal runs of non-delimiters)."""
    if not blob:
        return np.zeros(0, dtype=np.int64)
    arr = np.frombuffer(blob.encode("utf-32-le"), dtype=np.uint32)
    nd = np.empty(len(arr), dtype=bool)
    bmp = arr < 65536
    nd[bmp] = ~_DELIM_TABLE[arr[bmp]]
    nd[~bmp] = True
    prev = np.empty_like(nd)
    prev[0] = False
    prev[1:] = nd[:-1]
    return np.flatnonzero(nd & ~prev)


class WordInterner:
    """Process-wide word <-> int32 code mapping shared by all batches of
    one RerankExecutor; word lengths live in a parallel numpy array."""

    __slots__ = ("ids", "words", "_lens")

    def __init__(self) -> None:
        self.ids: dict[str, int] = {}
        self.words: list[str] = []
        self._lens = np.zeros(0, dtype=np.int32)

    def __len__(self) -> int:
        return len(self.words)

    @property
    def lens(self) -> np.ndarray:
        n = len(self.words)
        if len(self._lens) < n:
            ext = np.fromiter(
                (len(w) for w in self.words[len(self._lens) :]),
                dtype=np.int32,
                count=n - len(self._lens),
            )
            self._lens = np.concatenate([self._lens, ext])
        return self._lens

    def intern_many(self, uniq_words) -> np.ndarray:
        """wid for each word (interning new ones)."""
        ids = self.ids
        words = self.words
        out = np.empty(len(uniq_words), dtype=np.int32)
        for k, w in enumerate(uniq_words):
            wid = ids.get(w)
            if wid is None:
                wid = len(words)
                ids[w] = wid
                words.append(w)
            out[k] = wid
        return out


class DocView:
    """Query-independent per-doc token view (columnar analogue of
    engine.doc_view). Arrays are slices of the batch-level build; the
    Python-list forms the cascade walks are materialized lazily — the
    probe gates skip most stages for most candidates, so most views
    never need them."""

    __slots__ = (
        "codes", "starts", "uniq", "mt_codes", "mt_pos", "_mt_l",
        "order_local", "raw_long_count", "_uset", "_jl_l", "_d_order_l",
        "_mt_do",
    )

    def __init__(self) -> None:
        self._uset = None
        self._jl_l = None
        self._d_order_l = None
        self._mt_do = None
        self._mt_l = None

    @property
    def mt_l(self) -> list:
        """Matcher-token codes as a list — lazy like the other walk
        forms (the probe gates skip the cascade walk for most views)."""
        if self._mt_l is None:
            self._mt_l = self.mt_codes.tolist()
        return self._mt_l

    @property
    def uset(self):
        if self._uset is None:
            self._uset = set(self.uniq.tolist())
        return self._uset

    def jl_l(self, lens: np.ndarray) -> list:
        """Matcher-token lengths as a list (joined doc-bigram scan)."""
        if self._jl_l is None:
            self._jl_l = (
                lens[self.mt_codes].tolist() if len(self.mt_codes) else []
            )
        return self._jl_l

    @property
    def d_order_l(self) -> list:
        """Stable length-desc walk order (prefix/suffix passes)."""
        if self._d_order_l is None:
            self._d_order_l = self.order_local.tolist()
        return self._d_order_l

    @property
    def mt_do(self) -> np.ndarray:
        if self._mt_do is None:
            self._mt_do = (
                self.mt_codes[self.order_local]
                if len(self.mt_codes)
                else self.mt_codes
            )
        return self._mt_do


def build_views(
    interner: WordInterner,
    texts: list[str],
    min_ws: int,
) -> list[DocView]:
    """Tokenize + view-build for a whole batch with global vectorized
    ops: one numpy pass for offsets, one findall for words, one
    factorize for codes, one np.unique for first-occurrence dedupe, one
    lexsort for the length-desc matcher order."""
    n_texts = len(texts)
    views = [DocView() for _ in range(n_texts)]
    blob = " ".join(texts)
    starts = _token_starts(blob)
    words = _WORD_RE.findall(blob)
    # factorize -> small unique set, then map through the interner once
    codes_local, uniq_words = factorize_strings(words)
    wid_of = interner.intern_many(uniq_words)
    codes = (
        wid_of[codes_local]
        if len(codes_local)
        else np.zeros(0, dtype=np.int32)
    )
    lens = interner.lens
    bounds = np.empty(n_texts + 1, dtype=np.int64)
    off = 0
    for k, t in enumerate(texts):
        bounds[k] = off
        off += len(t) + 1
    bounds[n_texts] = off
    tdoc = np.searchsorted(bounds, starts, side="right") - 1
    local = (starts - bounds[tdoc]).astype(np.int32)
    cuts = np.searchsorted(tdoc, np.arange(n_texts + 1))

    wl = lens[codes] if len(codes) else np.zeros(0, dtype=np.int32)
    long_mask = wl >= min_ws
    raw_long = np.bincount(
        tdoc[long_mask], minlength=n_texts
    ) if len(codes) else np.zeros(n_texts, dtype=np.int64)

    # first occurrence of each (doc, code) pair, in document order
    if len(codes):
        key = tdoc * np.int64(len(interner) + 1) + codes
        _, first = np.unique(key, return_index=True)
        first.sort()
    else:
        first = np.zeros(0, dtype=np.int64)
    fdoc = tdoc[first]
    fcuts = np.searchsorted(fdoc, np.arange(n_texts + 1))
    # matcher tokens: unique AND len >= min_ws
    mt_mask = long_mask[first]
    mt_global = first[mt_mask]
    mdoc = tdoc[mt_global]
    mcuts = np.searchsorted(mdoc, np.arange(n_texts + 1))
    mcodes_all = codes[mt_global]
    mpos_all = local[mt_global]
    # stable length-desc order per doc (lexsort keys: last is primary)
    if len(mt_global):
        order = np.lexsort(
            (np.arange(len(mt_global)), -lens[mcodes_all], mdoc)
        )
        local_rank = np.arange(len(mt_global)) - mcuts[mdoc]
        order_local = local_rank[order]
    else:
        order_local = np.zeros(0, dtype=np.int64)

    for k, v in enumerate(views):
        lo, hi = cuts[k], cuts[k + 1]
        v.codes = codes[lo:hi]
        v.starts = local[lo:hi]
        flo, fhi = fcuts[k], fcuts[k + 1]
        v.uniq = codes[first[flo:fhi]]
        mlo, mhi = mcuts[k], mcuts[k + 1]
        mc = mcodes_all[mlo:mhi]
        v.mt_codes = mc
        v.mt_pos = mpos_all[mlo:mhi]
        v.order_local = order_local[mlo:mhi]
        v.raw_long_count = int(raw_long[k])
    return views


def _find_code(mt_l: list, wid: int) -> int:
    """Index of wid in the (duplicate-free) matcher-token code list, -1
    when absent — the per-view dict this replaces cost more to build
    (O(nd) inserts per view) than a couple of C-level list scans."""
    if wid >= 0 and wid in mt_l:
        return mt_l.index(wid)
    return -1


def _seg_any(mat: np.ndarray, ptr: np.ndarray, n: int) -> np.ndarray:
    """Per-segment any() along axis 1: mat is (rows, T) bool, ptr is the
    n+1 segment offsets into T. Returns (n, rows) bool. Empty segments
    are False (reduceat is run on non-empty starts only; consecutive
    non-empty starts span exactly the intervening tokens)."""
    rows = mat.shape[0]
    out = np.zeros((n, rows), dtype=bool)
    nonempty = ptr[:-1] < ptr[1:]
    if mat.shape[1] and nonempty.any():
        starts = ptr[:-1][nonempty]
        red = np.bitwise_or.reduceat(mat, starts, axis=1)
        out[nonempty] = red.T
    return out


def _seg_sum(vec: np.ndarray, ptr: np.ndarray, n: int) -> np.ndarray:
    out = np.zeros(n, dtype=vec.dtype)
    nonempty = ptr[:-1] < ptr[1:]
    if len(vec) and nonempty.any():
        starts = ptr[:-1][nonempty]
        out[nonempty] = np.add.reduceat(vec, starts)
    return out


def _seg_max(vec: np.ndarray, ptr: np.ndarray, n: int) -> np.ndarray:
    out = np.zeros(n, dtype=vec.dtype)
    nonempty = ptr[:-1] < ptr[1:]
    if len(vec) and nonempty.any():
        starts = ptr[:-1][nonempty]
        out[nonempty] = np.maximum.reduceat(vec, starts)
    return out


class _Probes:
    """Per-(query, batch) hit probes: for each candidate and each table
    row, does ANY of the candidate's tokens hit? Computed with one fancy
    index + one reduceat per table over the batch's concatenated token
    codes; the cascade walks a candidate's tokens only when its probe
    row says there is something to find. Building the probes first fills
    T for the batch's words."""

    __slots__ = (
        "ex", "fp", "fu", "fus", "trail", "ss", "segp", "segs", "jd",
        "mtcat", "mt_ptr",
    )

    def __init__(self, T: QueryTables, views: list[DocView]):
        n = len(views)
        mtcat = (
            np.concatenate([v.mt_codes for v in views])
            if n
            else np.zeros(0, dtype=np.int32)
        )
        mt_ptr = np.zeros(n + 1, dtype=np.int64)
        np.cumsum([len(v.mt_codes) for v in views], out=mt_ptr[1:])
        self.mtcat = mtcat
        self.mt_ptr = mt_ptr
        uqcat = (
            np.concatenate([v.uniq for v in views])
            if n
            else np.zeros(0, dtype=np.int32)
        )
        uq_ptr = np.zeros(n + 1, dtype=np.int64)
        np.cumsum([len(v.uniq) for v in views], out=uq_ptr[1:])
        # every table read below and in the cascade/fusion replays is
        # indexed by a code of these views, and uqcat holds them all
        T.ensure(uqcat)

        self.ex = _seg_any(T.ex_m[:, mtcat], mt_ptr, n)
        self.fp = _seg_any(T.fp_m[:, mtcat], mt_ptr, n)
        # doc-bigram join possible for candidate k iff for some query
        # token both a proper prefix AND a proper suffix of it occur
        # among the candidate's matcher tokens (conservative: alignment
        # and activity are re-checked by the exact scan)
        self.jd = (
            _seg_any(T.jp_m[:, mtcat], mt_ptr, n)
            & _seg_any(T.js_m[:, mtcat], mt_ptr, n)
        ).any(axis=1)
        self.fu = [
            _seg_any(T.fu_d[t][:, mtcat] <= (t + 1), mt_ptr, n)
            for t in range(T.fu_global_max)
        ]
        self.fus = _seg_any(T.fstack[:, uqcat], uq_ptr, n)
        if T.do_trail:
            rawcat = (
                np.concatenate([v.codes for v in views])
                if n
                else np.zeros(0, dtype=np.int32)
            )
            raw_ptr = np.zeros(n + 1, dtype=np.int64)
            np.cumsum([len(v.codes) for v in views], out=raw_ptr[1:])
            self.trail = _seg_sum(
                T.trail[rawcat].astype(np.int32), raw_ptr, n
            )
        else:
            self.trail = None
        if T.do_ss:
            self.ss = _seg_max(T.ss_score[uqcat], uq_ptr, n)
            if T.seg is not None:
                self.segp = _seg_any(T.seg_p[None, uqcat], uq_ptr, n)[:, 0]
                self.segs = _seg_any(T.seg_s[None, uqcat], uq_ptr, n)[:, 0]
            else:
                self.segp = self.segs = None
        else:
            self.ss = None
            self.segp = self.segs = None


def _pos_of_wid(mtcat: np.ndarray, mt_ptr: np.ndarray, n: int, wid: int) -> np.ndarray:
    """Per-candidate flat position of wid in the concatenated matcher
    codes (-1 when absent). Matcher codes are duplicate-free per view, so
    each candidate has at most one position."""
    out = np.full(n, -1, dtype=np.int64)
    if wid < 0:
        return out
    fp = np.flatnonzero(mtcat == wid)
    if len(fp):
        cand = np.searchsorted(mt_ptr, fp, side="right") - 1
        out[cand] = fp
    return out


def _first_hit(hit: np.ndarray, ptr: np.ndarray, n: int) -> np.ndarray:
    """Per-candidate FLAT position of the first True in hit within the
    candidate's [ptr[k], ptr[k+1]) span, -1 when none. Empty spans use
    the _seg_any reduceat pattern (consecutive non-empty starts span
    exactly the intervening tokens)."""
    L = len(hit)
    out = np.full(n, -1, dtype=np.int64)
    ne = ptr[:-1] < ptr[1:]
    if L and ne.any():
        pos = np.where(hit, np.arange(L, dtype=np.int64), L)
        firsts = np.minimum.reduceat(pos, ptr[:-1][ne])
        out[np.flatnonzero(ne)] = np.where(firsts < L, firsts, -1)
    return out


def _cascade_all(views: list, T: QueryTables, setup: CoverageConfig,
                 term_idf: list[float], djoin_memo: dict, P: "_Probes"
                 ) -> list["_StateShim"]:
    """Candidate-vectorized replay of _cascade for a whole batch: each
    phase walks the m query words in the scalar order (preserving the
    cross-word consumption semantics exactly — consumed-flag updates
    between word iterations replace the scalar d_active list) while every
    per-word step runs as numpy ops over all candidates at once. The
    rare candidates where the doc-bigram joined scan may fire (P.jd, a
    conservative prescreen) are routed through the scalar _cascade
    unchanged — that scan walks adjacent ACTIVE doc pairs, a sequential
    dependence not worth vectorizing at its hit rate. Accumulation
    order per candidate (phase order, word order within phase) matches
    the scalar exactly, so float64 sums are bit-identical."""
    n = len(views)
    m = T.m
    mtcat = P.mtcat
    mt_ptr = P.mt_ptr
    L = len(mtcat)
    nd_arr = np.diff(mt_ptr)
    pcat = (
        np.concatenate([v.mt_pos for v in views])
        if n
        else np.zeros(0, dtype=np.int64)
    )
    # length-desc walk order of the concatenated codes (E5 passes)
    goidx = (
        np.concatenate(
            [mt_ptr[k] + views[k].order_local for k in range(n)]
        ).astype(np.int64)
        if n
        else np.zeros(0, dtype=np.int64)
    )
    q_texts = T.q_texts
    qlens = np.array([len(t) for t in q_texts], dtype=np.int64)

    consumed = np.zeros(L, dtype=bool)
    Qact = np.ones((n, m), dtype=bool)
    TMC = np.zeros((n, m), dtype=np.float64)
    HW = np.zeros((n, m), dtype=bool)
    HJ = np.zeros((n, m), dtype=bool)
    HPm = np.zeros((n, m), dtype=bool)
    FPOS = np.full((n, m), -1, dtype=np.int64)
    word_hits = np.zeros(n, dtype=np.int64)
    num_whole = np.zeros(n, dtype=np.float64)
    num_joined = np.zeros(n, dtype=np.float64)
    num_fuzzy = np.zeros(n, dtype=np.float64)
    num_ps = np.zeros(n, dtype=np.float64)
    penalty = np.zeros(n, dtype=np.int64)
    nq = np.full(n, m, dtype=np.int64)

    def fpos_min(i: int, ok: np.ndarray, p: np.ndarray) -> None:
        cur = FPOS[ok, i]
        FPOS[ok, i] = np.where((cur == -1) | (p < cur), p, cur)

    # ---- E3 whole words ----
    if setup.cover_whole_words and L:
        for i in range(m):
            wid = T.q_wids[i]
            jflat = _pos_of_wid(mtcat, mt_ptr, n, wid)
            ok = (jflat >= 0) & ~consumed[jflat.clip(0)]
            if not ok.any():
                continue
            qlen = int(qlens[i])
            word_hits[ok] += 1
            num_whole[ok] += qlen
            TMC[ok, i] += qlen
            HW[ok, i] = True
            HPm[ok, i] = True
            fpos_min(i, ok, pcat[jflat[ok]])
            # penalty: doc has no i-th matcher token, or it differs
            code_at_i = mtcat[np.minimum(mt_ptr[:-1] + i, L - 1)]
            pen = np.where(nd_arr > i, code_at_i != wid, True)
            penalty[ok] += pen[ok]
            if m > 1 and i < m - 1:
                num_whole[ok] += 1
            Qact[ok, i] = False
            nq[ok] -= 1
            consumed[jflat[ok]] = True

    # ---- E4 joined words, query-bigram == doc token ----
    if setup.cover_joined_words and m >= 2 and L:
        entry4 = nq >= 2
        for i in range(m - 1):
            wid = T.qjoin_wids[i]
            jflat = _pos_of_wid(mtcat, mt_ptr, n, wid)
            ok = (
                entry4
                & Qact[:, i]
                & Qact[:, i + 1]
                & (jflat >= 0)
                & ~consumed[jflat.clip(0)]
            )
            if not ok.any():
                continue
            l1 = int(qlens[i])
            l2 = int(qlens[i + 1])
            num_joined[ok] += l1 + l2
            word_hits[ok] += 2
            p = pcat[jflat[ok]]
            TMC[ok, i] += l1
            HJ[ok, i] = True
            HPm[ok, i] = True
            fpos_min(i, ok, p)
            TMC[ok, i + 1] += l2
            HJ[ok, i + 1] = True
            fpos_min(i + 1, ok, p)
            Qact[ok, i] = False
            Qact[ok, i + 1] = False
            nq[ok] -= 2
            consumed[jflat[ok]] = True
    # (doc-bigram == query token scan: P.jd candidates take the scalar
    # path below; for everyone else the prescreen proves no pair exists)

    # ---- E5 prefix/suffix ----
    if setup.cover_prefix_suffix and L:
        entry5 = nq > 0
        ocat = mtcat[goidx]
        # pass 1: exact affix
        for i in T.q_order_full:
            hit_o = T.ex_m[i][ocat] & ~consumed[goidx]
            first_o = _first_hit(hit_o, mt_ptr, n)
            ok = entry5 & Qact[:, i] & (first_o >= 0)
            if not ok.any():
                continue
            flat = goidx[first_o[ok]]
            c = mtcat[flat]
            score = T.ex_s[i][c]
            num_ps[ok] += score
            word_hits[ok] += 1
            TMC[ok, i] += score
            HPm[ok, i] |= T.ex_p[i][c]
            fpos_min(i, ok, pcat[flat])
            Qact[ok, i] = False
            nq[ok] -= 1
            consumed[flat] = True
        # pass 2: fuzzy prefix
        entry5b = nq > 0
        for i in T.q_order_full:
            hit_o = T.fp_m[i][ocat] & ~consumed[goidx]
            first_o = _first_hit(hit_o, mt_ptr, n)
            ok = entry5b & Qact[:, i] & (first_o >= 0)
            if not ok.any():
                continue
            flat = goidx[first_o[ok]]
            c = mtcat[flat]
            score = T.fp_s[i][c]
            num_ps[ok] += score
            word_hits[ok] += 1
            TMC[ok, i] += score
            fpos_min(i, ok, pcat[flat])
            Qact[ok, i] = False
            nq[ok] -= 1
            consumed[flat] = True

    # ---- E6 fuzzy words ----
    if setup.cover_fuzzy_words and T.fu_global_max and L:
        fully = ~((qlens[None, :] > 0) & (TMC < qlens[None, :])).any(axis=1)
        act6 = (nq > 0) & ~fully
        if act6.any():
            max_active = np.where(Qact, qlens[None, :], 0).max(axis=1)
            gm_lookup = np.array(
                [0]
                + [
                    _token_max_edits(l, setup)[0]
                    for l in range(1, int(qlens.max()) + 1)
                ],
                dtype=np.int64,
            )
            gm = gm_lookup[max_active]
            for tier in range(1, int(gm.max(initial=0)) + 1):
                du_all = T.fu_d[tier - 1]
                for i in range(m):
                    tick = act6 & (gm >= tier) & (nq > 0) & Qact[:, i]
                    if not tick.any():
                        continue
                    vals_flat = du_all[i][mtcat]
                    hit = (vals_flat <= tier) & ~consumed
                    first = _first_hit(hit, mt_ptr, n)
                    ok = tick & (first >= 0)
                    if not ok.any():
                        continue
                    flat = first[ok]
                    dist = vals_flat[flat].astype(np.int64)
                    credit = int(qlens[i]) - dist
                    word_hits[ok] += 1
                    num_fuzzy[ok] += credit
                    TMC[ok, i] += credit
                    fpos_min(i, ok, pcat[flat])
                    Qact[ok, i] = False
                    nq[ok] -= 1
                    consumed[flat] = True

    term_max = [len(t) for t in q_texts]
    shims: list[_StateShim] = []
    for k in range(n):
        st = _StateShim()
        st.q_count = m
        st.word_hits = int(word_hits[k])
        st.doc_token_count = views[k].raw_long_count
        st.num_whole = float(num_whole[k])
        st.num_joined = float(num_joined[k])
        st.num_fuzzy = float(num_fuzzy[k])
        st.num_prefix_suffix = float(num_ps[k])
        st.penalty = int(penalty[k])
        st.term_matched_chars = TMC[k].tolist()
        st.term_max_chars = term_max
        st.term_has_whole = HW[k].tolist()
        st.term_has_joined = HJ[k].tolist()
        st.term_has_prefix = HPm[k].tolist()
        st.term_first_pos = FPOS[k].tolist()
        st.term_idf = term_idf
        shims.append(st)
    # doc-bigram-eligible candidates: exact scalar replay
    for k in np.flatnonzero(P.jd):
        shims[k] = _cascade(
            views[k], T, setup, term_idf, djoin_memo,
            P.ex[k], P.fp[k], P.fu, k, True,
        )
    return shims


class _StateShim:
    """Minimal MatchState stand-in accepted by calculate_final_score."""

    __slots__ = (
        "q_count", "word_hits", "doc_token_count", "num_whole", "num_joined",
        "num_fuzzy", "num_prefix_suffix", "penalty", "term_matched_chars",
        "term_max_chars", "term_has_whole", "term_has_joined",
        "term_has_prefix", "term_first_pos", "term_idf",
    )


# longest query token one uint64 Myers mask holds; longer tokens take the
# scalar pair functions (over the few words their length gates admit)
_MYERS_MAX = 63
# char-matrix padding: above every code point, so it never equals a
# query char (reads stop at the row's length anyway)
_PAD = np.uint32(0xFFFFFFFF)
_ONE = np.uint64(1)


def _char_matrix(words: list[str], lens: np.ndarray, width: int) -> np.ndarray:
    """(len(words), width) uint32 code points, _PAD past each word's end:
    one utf-32 encode of the joined words plus offsets, no per-word loop."""
    n = len(words)
    flat = np.frombuffer("".join(words).encode("utf-32-le"), dtype=np.uint32)
    if not len(flat) or width <= 0:
        return np.full((n, max(width, 0)), _PAD, dtype=np.uint32)
    offs = np.zeros(n, dtype=np.int64)
    np.cumsum(lens[:-1], out=offs[1:])
    col = np.arange(width)
    inside = col[None, :] < lens[:, None]
    idx = np.where(inside, offs[:, None] + col[None, :], 0)
    return np.where(inside, flat[idx], _PAD)


def _myers(qa: np.ndarray, C: np.ndarray) -> np.ndarray:
    """S[r, j] = levenshtein(q, first j chars of row r) for j in
    0..C.shape[1]: Myers' bit-parallel edit distance (JACM 1999) in its
    global form (row 0 of the DP grows by one per column, so Ph shifts in
    a 1), vectorized across rows. qa holds q's code points, len 1..63."""
    m = len(qa)
    n, width = C.shape
    uq, inv = np.unique(qa, return_inverse=True)
    masks = np.zeros(len(uq), dtype=np.uint64)
    np.bitwise_or.at(
        masks, inv, np.left_shift(_ONE, np.arange(m, dtype=np.uint64))
    )
    at = np.minimum(np.searchsorted(uq, C), len(uq) - 1)
    peq = np.where(uq[at] == C, masks[at], np.uint64(0)).T.copy()
    top = np.uint64(m - 1)
    vp = np.full(n, (1 << m) - 1, dtype=np.uint64)
    vn = np.zeros(n, dtype=np.uint64)
    score = np.full(n, m, dtype=np.int32)
    S = np.empty((n, width + 1), dtype=np.int32)
    S[:, 0] = m
    for j in range(width):
        eq = peq[j]
        xv = eq | vn
        xh = (((eq & vp) + vp) ^ vp) | eq
        ph = vn | ~(xh | vp)
        mh = vp & xh
        score += ((ph >> top) & _ONE).astype(np.int32)
        score -= ((mh >> top) & _ONE).astype(np.int32)
        S[:, j + 1] = score
        ph = (ph << _ONE) | _ONE
        mh = mh << _ONE
        vp = mh | ~(xv | ph)
        vn = ph & xv
    return S


def _restricted(L, tl, qa, q, Cr, K, words, r) -> np.ndarray:
    """metrics.damerau_restricted(q, t, K) per row, t = the row's first tl
    chars, from L = levenshtein(q, t) (exact). Only rows at distance K+1
    try the reference's one swap at the first mismatch: on the char
    matrix Cr, and for a remaining budget of 0 the rests must be equal;
    a budget of >= 1 runs the scalar levenshtein on those few survivors
    (words[r[k]] is row k's word)."""
    ql = len(qa)
    d = np.where(L <= K, L, K + 1)
    cand = np.flatnonzero((L == K + 1) & (np.abs(tl - ql) <= K))
    if not len(cand):
        return d
    X = Cr[cand]
    t = tl[cand]
    w = min(ql, X.shape[1])
    col = np.arange(w)
    mism = (X[:, :w] != qa[None, :w]) & (col[None, :] < t[:, None])
    # the scalar scan looks for the first mismatch at i < len(q) - 1
    scan = mism & (col[None, :] < ql - 1)
    p = scan.argmax(axis=1)
    rr = np.arange(len(cand))
    ok = (
        scan.any(axis=1)
        & (p + 1 < t)
        & (qa[p] == X[rr, np.minimum(p + 1, X.shape[1] - 1)])
        & (qa[np.minimum(p + 1, ql - 1)] == X[rr, p])
    )
    if K == 1:
        rest_eq = (t == ql) & ~(mism & (col[None, :] >= (p + 2)[:, None])).any(axis=1)
        d[cand[ok & rest_eq]] = 1
        return d
    for k in np.flatnonzero(ok).tolist():
        pk = int(p[k])
        rest = levenshtein(q[pk + 2 :], words[r[cand[k]]][pk + 2 : int(t[k])], K - 1)
        if rest <= K - 1:
            d[cand[k]] = 1 + rest
    return d


def _bool(a) -> np.ndarray:
    return a.to_numpy(zero_copy_only=False).astype(bool, copy=False)


def _isin(warr, values: list[str]) -> np.ndarray:
    return _bool(pc.is_in(warr, value_set=pa.array(values, pa.string())))


def _affixes(q: str, lens: list[int], lo: int, hi: int, suffix: bool = False) -> list[str]:
    """q's prefixes (suffixes) of the lengths in lens within [lo, hi] —
    only the word lengths the batch has, so a long q costs no more than
    its batch's words."""
    n = len(q)
    ks = [k for k in lens if lo <= k <= hi]
    return [q[n - k :] for k in ks] if suffix else [q[:k] for k in ks]


class QueryTables:
    """Per-(query, word-id) decision tables, filled per batch: ensure()
    fills them for the batch's words this query has not met yet, in bulk
    per query token (Arrow string predicates for the affix, containment
    and fusion flags; one vectorized Myers pass for every edit distance).
    The scalar pair functions (matchers.py / fusion.py / metrics.py) stay
    the oracle, and the fallback for query tokens too long for one
    uint64 mask."""

    def __init__(self, ctx: dict, setup: CoverageConfig, interner: WordInterner):
        self.setup = setup
        self.interner = interner
        self.n = 0  # words covered so far
        tokens = ctx["tokens"]
        self.q_texts = [t.text for t in tokens]
        self.m = m = len(self.q_texts)
        q_raw = ctx["q_raw"]
        self.qr_texts = [t.text for t in q_raw]
        # matcher-token constants
        self.q_order_full = sorted(range(m), key=lambda i: -len(self.q_texts[i]))
        self.q_len_set = {len(t) for t in self.q_texts}
        self.qjoin_texts = [
            self.q_texts[i] + self.q_texts[i + 1] for i in range(m - 1)
        ]
        self.q_index = {t: i for i, t in enumerate(self.q_texts)}
        # fuzzy gates per (query token, tier)
        max_q_len = max((len(t) for t in self.q_texts), default=0)
        self.fu_global_max = (
            _token_max_edits(max_q_len, setup)[0] if max_q_len else 0
        )
        # FuzzyWordMatcher gates: the (tier, min word len, max word len)
        # each token takes part in
        self.fu_gates: list[list[tuple[int, int, int]]] = []
        self.fu_special: list[bool] = []
        for t in self.q_texts:
            q_len = len(t)
            tm, sp = _token_max_edits(q_len, setup)
            self.fu_special.append(sp)
            self.fu_gates.append([
                (
                    tier,
                    max(setup.min_word_size, q_len - tier),
                    min(setup.levenshtein_max_word_size, q_len + tier, 63),
                )
                for tier in range(1, self.fu_global_max + 1)
                if q_len >= setup.min_word_size
                and tier <= tm
                and not (sp and tier != 1)
            ])
        # affix eligibility for pass 2 (fuzzy prefix): len>=4, or the
        # final query term with len>=2
        self.fp_eligible = [
            len(t) >= 4 or (i == m - 1 and len(t) >= 2)
            for i, t in enumerate(self.q_texts)
        ]
        # fusion constants (over RAW query tokens)
        self.qr_count = len(self.qr_texts)
        self.last_raw = self.qr_texts[-1] if self.qr_texts else ""
        first_raw = self.qr_texts[0] if self.qr_texts else ""
        self.anchor_stem = (
            first_raw[:ANCHOR_STEM_LENGTH]
            if len(first_raw) >= ANCHOR_STEM_LENGTH
            else None
        )
        self.min_stem = setup.min_word_size
        self.query_text = ctx["query"]
        self.q_len = len(self.query_text)
        # single-term similarity operates on the FIRST RAW TOKEN text
        # (fusion.compute_fusion_signals passes q_tokens[0].text)
        self.ss_query = self.qr_texts[0] if self.qr_texts else ""
        self.ss_len = len(self.ss_query)
        # single-term two-segment fragments (MIN_SEG = 3)
        self.seg = None
        if self.qr_count == 1 and self.ss_len >= 6:
            seg_len = min(6, self.ss_len // 2)
            self.seg = (self.ss_query[:seg_len], self.ss_query[self.ss_len - seg_len :])
        self.do_trail = (
            self.qr_count >= 2
            and 1 <= len(self.last_raw) <= MAX_TRAILING_TERM_LENGTH_FOR_BONUS
        )
        self.do_ss = self.qr_count == 1 and self.ss_len >= 3
        self.sc_applicable = (
            self.qr_count >= 2
            and len(self.last_raw) == 1
            and self.last_raw.isalpha()
        )
        # stem-evidence applies per raw token with len >= min_stem
        self.stem_rows = [
            i for i, t in enumerate(self.qr_texts) if len(t) >= self.min_stem
        ]
        self.q_wids: list[int] = []
        self.qjoin_wids: list[int] = []
        self.qr_wids: list[int] = []
        self._alloc(0)

    def _alloc(self, n: int) -> None:
        m = self.m
        self.ex_m = np.zeros((m, n), dtype=bool)
        self.ex_s = np.zeros((m, n), dtype=np.float64)
        self.ex_p = np.zeros((m, n), dtype=bool)
        self.fp_m = np.zeros((m, n), dtype=bool)
        self.fp_s = np.zeros((m, n), dtype=np.float64)
        # joined doc-bigram prescreen: word is a PROPER prefix/suffix of
        # query token i (a doc-pair join w1+w2 == q_i needs one of each)
        self.jp_m = np.zeros((m, n), dtype=bool)
        self.js_m = np.zeros((m, n), dtype=bool)
        # fuzzy distance per tier: 255 = gated out or > tier
        self.fu_d = [
            np.full((m, n), 255, dtype=np.uint8)
            for _ in range(self.fu_global_max)
        ]
        # fusion tables stacked for one-probe candidate evaluation:
        # row 0: startswith(last raw token)
        # row 1: NOT perfect-doc-ok (so any() == not all(ok))
        # row 2: anchor-stem prefix
        # rows 3..3+s:   sw (word prefixes stem row's q token) per stem row
        # rows 3+s..3+2s: st (stem evidence pair) per stem row
        s = len(self.stem_rows)
        self.fstack = np.zeros((3 + 2 * s, n), dtype=bool)
        self.eq_last = np.zeros(n, dtype=bool)
        self.trail = np.zeros(n, dtype=bool)
        self.contains_q = np.zeros((self.qr_count, n), dtype=bool)
        self.ss_score = np.zeros(n, dtype=np.float64)
        self.seg_p = np.zeros(n, dtype=bool)
        self.seg_s = np.zeros(n, dtype=bool)
        # word ids whose entries are computed (the rest hold the fill)
        self.filled = np.zeros(n, dtype=bool)

    def ensure(self, wids: np.ndarray) -> None:
        """Fill every table for the word ids in wids (a batch's view
        codes) that this query has not filled yet. Each entry is a pure
        function of (query token, word), so filling only the words a
        batch probes is exact."""
        if len(self.interner) > self.n:
            self._grow()
        new = np.unique(wids[~self.filled[wids]])
        if len(new):
            self._fill(new)
            self.filled[new] = True
        # resolve interned ids for query-side exact/joined lookups
        ids = self.interner.ids
        self.q_wids = [ids.get(t, -1) for t in self.q_texts]
        self.qjoin_wids = [ids.get(t, -1) for t in self.qjoin_texts]
        self.qr_wids = [ids.get(t, -1) for t in self.qr_texts]

    def _grow(self) -> None:
        """Extend every table to the interner's size (new ids unfilled)."""
        W = len(self.interner)
        n0 = self.n

        def grow(a, fill=0):
            if a.ndim == 1:
                b = np.full(W, fill, dtype=a.dtype)
                b[:n0] = a
            else:
                b = np.full((a.shape[0], W), fill, dtype=a.dtype)
                b[:, :n0] = a
            return b

        self.ex_m = grow(self.ex_m)
        self.ex_s = grow(self.ex_s)
        self.ex_p = grow(self.ex_p)
        self.fp_m = grow(self.fp_m)
        self.fp_s = grow(self.fp_s)
        self.jp_m = grow(self.jp_m)
        self.js_m = grow(self.js_m)
        self.fu_d = [grow(a, 255) for a in self.fu_d]
        self.fstack = grow(self.fstack)
        self.eq_last = grow(self.eq_last)
        self.trail = grow(self.trail)
        self.contains_q = grow(self.contains_q)
        self.ss_score = grow(self.ss_score)
        self.seg_p = grow(self.seg_p)
        self.seg_s = grow(self.seg_s)
        self.filled = grow(self.filled)
        self.n = W

    def _fill(self, c: np.ndarray) -> None:
        """Compute every table entry for the word ids c, in bulk."""
        words = list(map(self.interner.words.__getitem__, c.tolist()))
        wl = self.interner.lens[c].astype(np.int64)
        warr = pa.array(words, pa.string())
        ulens = np.unique(wl).tolist()
        # one char matrix, cut at the widest prefix a distance reads:
        # len(q) + 1 (fuzzy prefix), a tier's max word length, 32 (sts)
        need = [0]
        for i, q in enumerate(self.q_texts):
            if len(q) <= _MYERS_MAX:
                if self.fp_eligible[i]:
                    need.append(len(q) + 1)
                need += [hi for _, _, hi in self.fu_gates[i]]
        if self.do_ss:
            need.append(min(32, self.ss_len + 2))
        C = _char_matrix(words, wl, min(max(need), int(wl.max())))
        for i in range(self.m):
            self._fill_token(i, c, words, wl, warr, ulens, C)
        self._fill_fusion(c, words, wl, warr, ulens, C)

    def _fill_token(self, i, c, words, wl, warr, ulens, C) -> None:
        """Matcher tables of query token i: exact affix, doc-bigram
        prescreen, fuzzy prefix and fuzzy tiers."""
        q = self.q_texts[i]
        ql = len(q)
        n = len(c)
        longer = wl > ql
        sw = _bool(pc.starts_with(warr, pattern=q))
        ew = _bool(pc.ends_with(warr, pattern=q))
        # matchers._exact_affix_pair, branch by branch
        pre = longer & sw
        suf = longer & ~sw & ew
        con = longer & ~sw & ~ew
        con &= (
            _bool(pc.match_substring(warr, pattern=q))
            if ql >= 4
            else np.zeros(n, dtype=bool)
        )
        q_ends = _isin(warr, _affixes(q, ulens, 0, ql - 1, suffix=True))
        self.ex_m[i, c] = pre | suf | con | q_ends
        self.ex_s[i, c] = np.select(
            [pre, suf, con, q_ends],
            [float(ql), float(max(1, ql // 2)), ql * 0.6, wl],
            0.0,
        )
        self.ex_p[i, c] = pre
        self.jp_m[i, c] = _isin(warr, _affixes(q, ulens, 1, ql - 1))
        self.js_m[i, c] = _isin(warr, _affixes(q, ulens, 1, ql - 1, suffix=True))

        fp = longer if self.fp_eligible[i] else np.zeros(n, dtype=bool)
        first_ok = (
            _bool(pc.starts_with(warr, pattern=q[0]))
            if self.fu_special[i]
            else np.ones(n, dtype=bool)
        )
        tiers = [
            (tier, (wl >= lo) & (wl <= hi) & first_ok)
            for tier, lo, hi in self.fu_gates[i]
        ]
        in_tier = np.zeros(n, dtype=bool)
        for _, g in tiers:
            in_tier |= g
        rows = np.flatnonzero(fp | in_tier)
        if not len(rows):
            return
        if ql > _MYERS_MAX:
            # too long for one uint64 mask: the scalar pair functions,
            # over the words the length gates admit
            for x in np.flatnonzero(fp).tolist():
                self.fp_m[i, c[x]], self.fp_s[i, c[x]] = _fuzzy_prefix_pair(q, words[x])
            for tier, g in tiers:
                for x in np.flatnonzero(g).tolist():
                    self.fu_d[tier - 1][i, c[x]] = damerau_restricted(q, words[x], tier)
            return
        qa = np.frombuffer(q.encode("utf-32-le"), dtype=np.uint32)
        # widest read: w[:ql+1] (fuzzy prefix), a whole word (tiers)
        width = max(ql + 1 if fp.any() else 0, int(wl[in_tier].max(initial=0)))
        S = _myers(qa, C[rows, :width])
        at = np.zeros(n, dtype=np.int64)
        at[rows] = np.arange(len(rows))

        def dist(r, tl, K):
            return _restricted(S[at[r], tl], tl, qa, q, C[r], K, words, r)

        r = np.flatnonzero(fp)
        if len(r):
            # matchers._fuzzy_prefix_pair: w[:ql], then w[:ql+1], w[:ql-1]
            tl = np.full(len(r), ql, dtype=np.int64)
            d0 = dist(r, tl, 1)
            d1 = dist(r, tl + 1, 1)
            hit0 = d0 <= 1
            hit1 = ~hit0 & (d1 <= 1)
            score = np.where(hit0, np.maximum(ql - d0, 0.1), np.maximum(ql - d1, 0.1))
            hit = hit0 | hit1
            if ql > 1:
                d2 = dist(r, tl - 1, 1)
                hit2 = ~hit & (d2 <= 1)
                score = np.where(hit2, np.maximum(ql - 1 - d2, 0.1), score)
                hit |= hit2
            self.fp_m[i, c[r]] = hit
            self.fp_s[i, c[r]] = np.where(hit, score, 0.0)
        for tier, g in tiers:
            r = np.flatnonzero(g)
            if len(r):
                self.fu_d[tier - 1][i, c[r]] = dist(r, wl[r], tier)

    def _fill_fusion(self, c, words, wl, warr, ulens, C) -> None:
        """Fusion tables over the raw query tokens (fusion.py semantics)."""
        n = len(c)
        last = self.last_raw
        qr_texts = self.qr_texts
        if last:
            sw_last = _bool(pc.starts_with(warr, pattern=last))
            self.fstack[0, c] = sw_last
            self.eq_last[c] = _bool(pc.equal(warr, last))
        # perfect-doc: some raw q is a prefix of w, or w a prefix of q
        pd = np.zeros(n, dtype=bool)
        for q in qr_texts:
            pd |= _bool(pc.starts_with(warr, pattern=q))
            pd |= _isin(warr, _affixes(q, ulens, 0, len(q)))
        self.fstack[1, c] = ~pd
        if self.anchor_stem is not None:
            self.fstack[2, c] = _bool(pc.starts_with(warr, pattern=self.anchor_stem))
        s = len(self.stem_rows)
        min_stem = self.min_stem
        for k, i in enumerate(self.stem_rows):
            q = qr_texts[i]
            self.fstack[3 + k, c] = (wl > 0) & _bool(pc.starts_with(warr, pattern=q))
            # fusion._stem_pair: with len(q) >= min_stem, "q starts with
            # w" or "common prefix >= min_stem" is "w starts with
            # q[:min_stem]" for any w of length >= min_stem
            self.fstack[3 + s + k, c] = (wl >= min_stem) & _bool(
                pc.starts_with(warr, pattern=q[:min_stem])
            )
        if self.sc_applicable:
            for i, q in enumerate(qr_texts):
                self.contains_q[i, c] = _bool(pc.match_substring(warr, pattern=q))
        if self.do_trail:
            self.trail[c] = sw_last | (
                (wl > len(last)) & _bool(pc.match_substring(warr, pattern=last))
            )
        if self.do_ss:
            self.ss_score[c] = self._sts_scores(words, wl, warr, ulens, C)
        if self.seg is not None:
            pf, sf = self.seg
            long3 = wl >= 3
            self.seg_p[c] = long3 & (
                _bool(pc.starts_with(warr, pattern=pf))
                | _isin(warr, _affixes(pf, ulens, 0, len(pf)))
            )
            self.seg_s[c] = long3 & (
                _bool(pc.ends_with(warr, pattern=sf))
                | _isin(warr, _affixes(sf, ulens, 0, len(sf), suffix=True))
            )

    def _sts_scores(self, words, wl, warr, ulens, C) -> np.ndarray:
        """fusion._sts_token(ss_query, w, ss_len) per word (0 when len(w) < 2)."""
        qs = self.ss_query
        Q = self.ss_len
        # query.find(w): first start of each of qs's substrings
        first: dict[str, int] = {}
        for k in ulens:
            if 2 <= k <= Q:
                for st in range(Q - k + 1):
                    first.setdefault(qs[st : st + k], st)
        ix = pc.index_in(warr, value_set=pa.array(list(first), pa.string()))
        ix = ix.fill_null(-1).to_numpy().astype(np.int64)
        found = ix >= 0
        idx = np.array([*first.values(), 0], dtype=np.int64)[ix]  # -1 -> 0
        # longest k >= 2 with qs's k-suffix == w's k-prefix
        best = np.zeros(len(words), dtype=np.int64)
        for k in range(min(Q, int(wl.max())), 1, -1):
            hit = (best == 0) & (wl >= k)
            if hit.any():
                hit &= _bool(pc.starts_with(warr, pattern=qs[Q - k :]))
                best[hit] = k
        fuzzy = np.zeros(len(words), dtype=np.float64)
        r = np.flatnonzero((wl >= 2) & (wl <= 32) & (np.abs(wl - Q) <= 2))
        if len(r):
            qa = np.frombuffer(qs.encode("utf-32-le"), dtype=np.uint32)
            S = _myers(qa, C[r, : int(wl[r].max())])
            d = _restricted(S[np.arange(len(r)), wl[r]], wl[r], qa, qs, C[r], 2, words, r)
            fuzzy[r] = np.where(d <= 2, (Q - d) / Q, 0.0)
        score = np.where(
            found,
            (wl / Q) * (1.0 - idx / Q),
            np.maximum(best / Q, fuzzy),
        )
        return np.where(wl >= 2, score, 0.0)


def _cascade(view: DocView, T: QueryTables, setup: CoverageConfig,
             term_idf: list[float], djoin_memo: dict,
             ex_any, fp_any, fu_rows, krow: int, jd_any: bool) -> _StateShim:
    """Table-driven replay of the scalar matcher cascade (whole -> joined
    -> prefix/suffix -> fuzzy) for one candidate. Mutation order, match
    order, credit values and tie rules are identical to matchers.py.
    Each table scan is gated on one vectorized "any hit?" probe; the
    short hit list is then walked in the scalar order."""
    m = T.m
    mt_l = view.mt_l
    nd = len(mt_l)
    pos_l = view.mt_pos
    q_active = [True] * m
    d_active = [True] * nd
    tmc = [0.0] * m
    has_whole = [False] * m
    has_joined = [False] * m
    has_prefix = [False] * m
    first_pos = [-1] * m
    word_hits = 0
    num_whole = 0.0
    num_joined = 0.0
    num_fuzzy = 0.0
    num_ps = 0.0
    penalty = 0
    q_texts = T.q_texts
    n_q_active = m

    # ---- E3 whole words (WholeWordMatcher.Match) ----
    if setup.cover_whole_words and nd:
        p_increment = 1 if m > 1 else 0
        for i in range(m):
            wid = T.q_wids[i]
            j = _find_code(mt_l, wid)
            if j < 0 or not d_active[j]:
                continue
            qlen = len(q_texts[i])
            word_hits += 1
            num_whole += qlen
            tmc[i] += qlen
            has_whole[i] = True
            has_prefix[i] = True
            p = pos_l[j]
            if first_pos[i] == -1 or p < first_pos[i]:
                first_pos[i] = p
            if nd > i:
                if mt_l[i] != wid:
                    penalty += 1
            else:
                penalty += 1
            if i < m - 1:
                num_whole += p_increment
            q_active[i] = False
            n_q_active -= 1
            d_active[j] = False

    # ---- E4 joined words (JoinedWordMatcher.Match) ----
    if setup.cover_joined_words and nd:
        # query bigram == doc token (adjacent active pairs only: the
        # scalar scan's next-active is always i+1 given q_active[i+1])
        if n_q_active >= 2:
            for i in range(m - 1):
                if not (q_active[i] and q_active[i + 1]):
                    continue
                j = _find_code(mt_l, T.qjoin_wids[i])
                if j < 0 or not d_active[j]:
                    continue
                l1, l2 = len(q_texts[i]), len(q_texts[i + 1])
                num_joined += l1 + l2
                word_hits += 2
                p = pos_l[j]
                tmc[i] += l1
                has_joined[i] = True
                has_prefix[i] = True
                if first_pos[i] == -1 or p < first_pos[i]:
                    first_pos[i] = p
                tmc[i + 1] += l2
                has_joined[i + 1] = True
                if first_pos[i + 1] == -1 or p < first_pos[i + 1]:
                    first_pos[i + 1] = p
                q_active[i] = False
                q_active[i + 1] = False
                n_q_active -= 2
                d_active[j] = False
        # doc bigram == query token (skipped when the vectorized
        # prescreen proves no (prefix, suffix) token pair exists — the
        # O(nd) scan below was the dominant per-candidate cost)
        if n_q_active and jd_any:
            q_len_set = T.q_len_set
            jl = view.jl_l(T.interner.lens)
            words = T.interner.words
            q_index = T.q_index
            for i in range(nd - 1):
                if not d_active[i]:
                    continue
                next_idx = -1
                for k in range(i + 1, nd):
                    if d_active[k]:
                        next_idx = k
                        break
                if next_idx == -1:
                    break
                joined_len = jl[i] + jl[next_idx]
                if joined_len not in q_len_set:
                    continue
                c1, c2 = mt_l[i], mt_l[next_idx]
                key = (c1, c2)
                mi = djoin_memo.get(key)
                if mi is None:
                    mi = q_index.get(words[c1] + words[c2], -1)
                    djoin_memo[key] = mi
                if mi < 0 or not q_active[mi]:
                    continue
                num_joined += joined_len
                word_hits += 1
                tmc[mi] += joined_len
                has_joined[mi] = True
                has_prefix[mi] = True
                p = pos_l[i]
                if first_pos[mi] == -1 or p < first_pos[mi]:
                    first_pos[mi] = p
                q_active[mi] = False
                n_q_active -= 1
                d_active[i] = False
                d_active[next_idx] = False

    # ---- E5 prefix/suffix (PrefixSuffixMatcher.Match) ----
    if setup.cover_prefix_suffix and nd and n_q_active:
        d_order = view.d_order_l
        mt_do = view.mt_do
        # pass 1: exact affix
        for i in T.q_order_full:
            if not q_active[i] or not ex_any[i]:
                continue
            hits = T.ex_m[i][mt_do]
            ex_s = T.ex_s[i]
            ex_p = T.ex_p[i]
            for k in np.flatnonzero(hits).tolist():
                j = d_order[k]
                if not d_active[j]:
                    continue
                c = mt_l[j]
                score = float(ex_s[c])
                num_ps += score
                word_hits += 1
                tmc[i] += score
                if ex_p[c]:
                    has_prefix[i] = True
                p = pos_l[j]
                if first_pos[i] == -1 or p < first_pos[i]:
                    first_pos[i] = p
                q_active[i] = False
                n_q_active -= 1
                d_active[j] = False
                break
        # pass 2: fuzzy prefix (tables already encode len(q) < len(d)
        # and the eligibility rule)
        if n_q_active:
            for i in T.q_order_full:
                if not q_active[i] or not fp_any[i]:
                    continue
                hits = T.fp_m[i][mt_do]
                fp_s = T.fp_s[i]
                for k in np.flatnonzero(hits).tolist():
                    j = d_order[k]
                    if not d_active[j]:
                        continue
                    c = mt_l[j]
                    score = float(fp_s[c])
                    num_ps += score
                    word_hits += 1
                    tmc[i] += score
                    p = pos_l[j]
                    if first_pos[i] == -1 or p < first_pos[i]:
                        first_pos[i] = p
                    q_active[i] = False
                    n_q_active -= 1
                    d_active[j] = False
                    break

    # ---- E6 fuzzy words (FuzzyWordMatcher.Match) ----
    if setup.cover_fuzzy_words and nd and n_q_active and T.fu_global_max:
        fully = True
        for i in range(m):
            mx = len(q_texts[i])
            if mx > 0 and tmc[i] < mx:
                fully = False
                break
        if not fully:
            # the scalar global gate uses the max ACTIVE query-token
            # length at entry
            max_active = max(
                (len(q_texts[i]) for i in range(m) if q_active[i]), default=0
            )
            global_max = _token_max_edits(max_active, setup)[0] if max_active else 0
            mt_arr = view.mt_codes
            for tier in range(1, global_max + 1):
                if not n_q_active:
                    break
                du_all = T.fu_d[tier - 1]
                tier_any = fu_rows[tier - 1][krow]
                for i in range(m):
                    if not q_active[i] or not tier_any[i]:
                        continue
                    vals = du_all[i][mt_arr]
                    hm = vals <= tier
                    q_len = len(q_texts[i])
                    for j in np.flatnonzero(hm).tolist():
                        if not d_active[j]:
                            continue
                        dist = int(vals[j])
                        word_hits += 1
                        credit = q_len - dist
                        num_fuzzy += credit
                        tmc[i] += credit
                        p = pos_l[j]
                        if first_pos[i] == -1 or p < first_pos[i]:
                            first_pos[i] = p
                        q_active[i] = False
                        n_q_active -= 1
                        d_active[j] = False
                        break

    st = _StateShim()
    st.q_count = m
    st.word_hits = word_hits
    st.doc_token_count = view.raw_long_count
    st.num_whole = num_whole
    st.num_joined = num_joined
    st.num_fuzzy = num_fuzzy
    st.num_prefix_suffix = num_ps
    st.penalty = penalty
    st.term_matched_chars = tmc
    st.term_max_chars = [len(t) for t in q_texts]
    st.term_has_whole = has_whole
    st.term_has_joined = has_joined
    st.term_has_prefix = has_prefix
    st.term_first_pos = first_pos
    st.term_idf = term_idf
    return st


def _fusion_signals(view: DocView, T: QueryTables, doc_text: str,
                    anys, trail_cnt, ss_max, seg_pa, seg_sa) -> FusionSignals:
    """Vectorized replay of fusion.compute_fusion_signals for one
    candidate (FusionSignalComputer.cs semantics, table-driven). anys is
    this candidate's precomputed fstack probe row; trail_cnt / ss_max /
    seg_pa / seg_sa are the precomputed trailing-match count, single-term
    similarity max and two-segment any-flags (None when not applicable)."""
    q_count = T.qr_count
    d_count = len(view.codes)
    sig = FusionSignals(unfiltered_query_token_count=q_count)
    if q_count == 0 or d_count == 0:
        return sig
    uniq = view.uniq

    # lexical_prefix_last / all_preceding_exact (_check_prefix_last)
    if q_count == 1:
        if anys[0]:
            first_hit = int(np.argmax(T.fstack[0][uniq]))
            sig.lexical_prefix_last = True
            sig.all_preceding_exact = bool(T.eq_last[uniq[first_hit]])
    else:
        ok = True
        uset = view.uset
        for i in range(q_count - 1):
            t = T.qr_texts[i]
            if not t:
                continue
            wid = T.qr_wids[i]
            if wid < 0 or wid not in uset:
                ok = False
                break
        if ok:
            if not T.last_raw:
                sig.lexical_prefix_last = True
                sig.all_preceding_exact = True
            elif anys[0]:
                sig.lexical_prefix_last = True
                sig.all_preceding_exact = True

    sig.is_perfect_doc_lexical = not bool(anys[1])

    if q_count >= 2:
        # stem evidence over raw q tokens with len >= min_stem
        s = len(T.stem_rows)
        unmatched = 0
        evidence = 0
        for r in range(s):
            if anys[3 + r]:
                continue
            unmatched += 1
            if anys[3 + s + r]:
                evidence += 1
        sig.has_stem_evidence = unmatched > 0 and evidence == unmatched

    if T.anchor_stem is not None:
        sig.has_anchor_stem = bool(anys[2])

    if T.do_trail:
        matchable = int(trail_cnt)
        if matchable > 0:
            density = matchable / d_count
            sig.trailing_match_density = int(min(max(density * 255.0, 0.0), 255.0))

    if q_count == 1:
        sim = 0.0
        if T.ss_len >= 3:
            sim = float(ss_max)
            if T.seg is not None and seg_pa and seg_sa:
                # both fragments hit somewhere: resolve the (rare)
                # first-index tie rule on the candidate's own words
                sp = T.seg_p[uniq]
                ss = T.seg_s[uniq]
                p_idx = int(np.argmax(sp))
                s_idx = int(np.argmax(ss))
                if p_idx != s_idx:
                    pf, sf = T.seg
                    sim = max(sim, min(1.0, (len(pf) + len(sf)) / T.ss_len))
        sig.single_term_lexical_sim = int(min(max(sim * 255.0, 0.0), 255.0))

    if T.sc_applicable:
        sig.single_char_last_token_boost = _single_char_last(view, T, doc_text)
    return sig


def _single_char_last(view: DocView, T: QueryTables, doc_text: str) -> int:
    """fusion._single_char_last_token over the columnar view (caller has
    checked T.sc_applicable: len(last)==1 and isalpha)."""
    codes = view.codes
    nd = len(codes)
    C = T.contains_q[:, codes] if nd else None
    d_index = 0
    first_match_index = -1
    for i in range(T.qr_count - 1):
        row = np.flatnonzero(C[i])
        k = np.searchsorted(row, d_index)
        if k >= len(row):
            return 0
        d_index = int(row[k])
        if first_match_index == -1:
            first_match_index = d_index
    if d_index + 1 < nd:
        cnxt = int(codes[d_index + 1])
        nxt_text = T.interner.words[cnxt]
        last = T.last_raw
        if nxt_text and nxt_text[0] == last:
            cur = int(codes[d_index])
            end_of_last = int(view.starts[d_index]) + len(T.interner.words[cur])
            between = doc_text[end_of_last : int(view.starts[d_index + 1])]
            if all(c.isspace() for c in between):
                boost = 8 + max(0, 16 - first_match_index)
                if len(nxt_text) == 1:
                    boost += 4
                return boost
    return 0


def _batch_final_scores(
    shims: list[_StateShim],
    q_len: int,
    lcs_list: list[float],
    cover_whole_query: bool,
    word_level_term_idf: list[float] | None,
) -> list[CoverageFeatures]:
    """Vectorized calculate_final_score over the whole batch — the same
    arithmetic in the same order (per-term accumulation loops run
    sequentially over the <=8 query terms, elementwise across
    candidates), so results are bit-identical to the scalar scorer."""
    n = len(shims)
    if n == 0:
        return []
    s0 = shims[0]
    m = s0.q_count
    maxc = s0.term_max_chars  # query-constant
    idfs = s0.term_idf  # query-constant
    TMC = np.array([s.term_matched_chars for s in shims], dtype=np.float64)
    HW = np.array([s.term_has_whole for s in shims], dtype=bool)
    HJ = np.array([s.term_has_joined for s in shims], dtype=bool)
    HP = np.array([s.term_has_prefix for s in shims], dtype=bool)
    FP = np.array([s.term_first_pos for s in shims], dtype=np.int64)
    word_hits = np.fromiter((s.word_hits for s in shims), np.int64, n)
    dtc = np.fromiter((s.doc_token_count for s in shims), np.int64, n)
    num11 = np.fromiter(
        (
            s.num_joined + s.num_whole + s.num_fuzzy + s.num_prefix_suffix - s.penalty
            for s in shims
        ),
        np.float64,
        n,
    )
    lcs = np.asarray(lcs_list, dtype=np.float64)
    if not cover_whole_query:
        lcs = np.zeros(n, dtype=np.float64)
    num11 = np.where((num11 == 0.0) & (lcs > 2.0), lcs - 2.0, num11)
    if q_len:
        cov = np.minimum(num11 / q_len * 255.0, 255.0).astype(np.int64)
        cov = np.maximum(cov, 0)
    else:
        cov = np.zeros(n, dtype=np.int64)

    sum_ci = np.zeros(n)
    weighted_sum = np.zeros(n)
    idf_weighted = np.zeros(n)
    missing_idf = np.zeros(n)
    twa = np.zeros(n, dtype=np.int64)
    tfm = np.zeros(n, dtype=np.int64)
    tsm = np.zeros(n, dtype=np.int64)
    tpm = np.zeros(n, dtype=np.int64)
    first_match = np.full(n, -1, dtype=np.int64)
    min_pos = np.full(n, np.inf)
    max_pos = np.full(n, -1.0)
    total_weight = 0.0
    total_idf = 0.0
    last_ci = np.zeros(n)
    last_idf = 0.0
    term_ci = (
        np.zeros((n, m)) if (word_level_term_idf is not None and m > 0) else None
    )
    for i in range(m):
        if maxc[i] <= 0:
            continue
        ci = np.minimum(1.0, TMC[:, i] / maxc[i])
        sum_ci = sum_ci + ci
        if term_ci is not None:
            term_ci[:, i] = ci
        twa += ci > 0
        w = float(maxc[i])
        total_weight += w
        weighted_sum = weighted_sum + ci * w
        idf = idfs[i]
        total_idf += idf
        idf_weighted = idf_weighted + ci * idf
        missing_idf = missing_idf + np.where(ci < 1.0, (1.0 - ci) * idf, 0.0)
        if i == m - 1:
            last_ci = ci
            last_idf = idf
        fully = TMC[:, i] >= (maxc[i] - 0.01)
        tfm += fully
        tsm += (HW[:, i] | HJ[:, i]) & fully
        tpm += HP[:, i]
        p = FP[:, i]
        has = p >= 0
        first_match = np.where(
            has & ((first_match == -1) | (p < first_match)), p, first_match
        )
        min_pos = np.where(has, np.minimum(min_pos, p), min_pos)
        max_pos = np.where(has, np.maximum(max_pos, p), max_pos)

    weighted_coverage = weighted_sum / total_weight if total_weight > 0 else np.zeros(n)
    idf_coverage = idf_weighted / total_idf if total_idf > 0 else np.zeros(n)
    type_ahead = bool(
        m > 0 and total_idf > 0 and (last_idf / total_idf) <= (1.0 / (m + 1))
    )
    if m == 1 and q_len > 0:
        ci_lcs = np.minimum(1.0, lcs / q_len)
        boost = (lcs > 0.0) & (ci_lcs > sum_ci)
        sum_ci = np.where(boost, ci_lcs, sum_ci)

    run = np.zeros(n, dtype=np.int64)
    lpr = np.zeros(n, dtype=np.int64)
    hits_im = []
    for i in range(m):
        hit = HP[:, i] & (maxc[i] > 0) & (TMC[:, i] > 0)
        hits_im.append(hit)
        run = np.where(hit, run + 1, 0)
        lpr = np.maximum(lpr, run)
    suffix = np.zeros(n, dtype=np.int64)
    alive = np.ones(n, dtype=bool)
    for i in range(m - 1, -1, -1):
        hit = hits_im[i]
        suffix += (alive & hit)
        alive = alive & hit
    span_mask = (max_pos >= 0) & np.isfinite(min_pos) & (max_pos >= min_pos) & (twa >= 2)
    span_f = np.where(span_mask, max_pos - min_pos, 0.0)
    span = span_f.astype(np.int64) + span_mask
    if m >= 1:
        ltp = HP[:, m - 1] & (TMC[:, m - 1] > 0)
    else:
        ltp = np.zeros(n, dtype=bool)
    psc = np.zeros(n, dtype=np.int64)
    if m >= 2:
        for i in range(m - 1):
            psc += (HW[:, i] | HJ[:, i]) & (TMC[:, i] >= (maxc[i] - 0.01))

    out = []
    ti = word_level_term_idf
    for r in range(n):
        f = CoverageFeatures(
            coverage_score=int(cov[r]),
            terms_count=m,
            word_hits=int(word_hits[r]),
            doc_token_count=int(dtc[r]),
        )
        f.terms_with_any_match = int(twa[r])
        f.terms_fully_matched = int(tfm[r])
        f.terms_strict_matched = int(tsm[r])
        f.terms_prefix_matched = int(tpm[r])
        f.first_match_index = int(first_match[r])
        f.sum_ci = float(sum_ci[r])
        f.longest_prefix_run = int(lpr[r])
        f.suffix_prefix_run = int(suffix[r])
        f.phrase_span = int(span[r])
        f.preceding_strict_count = int(psc[r])
        f.last_token_has_prefix = bool(ltp[r])
        f.last_term_ci = float(last_ci[r])
        f.weighted_coverage = float(weighted_coverage[r])
        f.last_term_is_type_ahead = type_ahead
        f.idf_coverage = float(idf_coverage[r])
        f.total_idf = total_idf
        f.missing_idf = float(missing_idf[r])
        f.term_idf = ti
        f.term_ci = term_ci[r].tolist() if term_ci is not None else None
        out.append(f)
    return out


class BatchCoverage:
    """Batch feature computation for RerankExecutor: holds the shared
    interner + per-doc views; computes (CoverageFeatures incl. fusion)
    for many candidates of one query at once."""

    def __init__(self, setup: CoverageConfig):
        self.setup = setup
        self.interner = WordInterner()
        self.views: dict[int, DocView] = {}

    def _maybe_reset(self) -> None:
        if len(self.interner) > INTERNER_CAP:
            self.interner = WordInterner()
            self.views.clear()

    def compute(
        self,
        engine,
        ctx: dict,
        items: list[tuple[int, str, float]],
    ) -> dict[int, CoverageFeatures]:
        """items: (internal_id, doc_text, lcs) per candidate, in process
        order. Returns id -> CoverageFeatures with fusion filled (same
        values as engine.calculate_features)."""
        tokens = ctx["tokens"]
        out: dict[int, CoverageFeatures] = {}
        if not tokens:
            for i, _, _ in items:
                out[i] = CoverageFeatures()
            return out
        self._maybe_reset()
        if len(self.views) > 1_000_000:
            self.views.clear()
        min_ws = self.setup.min_word_size
        need = [(i, t) for i, t, _ in items if i not in self.views]
        if need:
            built = build_views(self.interner, [t for _, t in need], min_ws)
            for (i, _), v in zip(need, built):
                self.views[i] = v
        T = ctx.get("btables")
        if T is None or T.interner is not self.interner:
            T = QueryTables(ctx, self.setup, self.interner)
            ctx["btables"] = T
        djoin = ctx.setdefault("bdjoin", {})
        idfs = ctx["idfs"]
        word_level = ctx["word_level"]
        q_len = len(ctx["query"])
        cover_wq = self.setup.cover_whole_query
        batch_views = [self.views[i] for i, _, _ in items]
        P = _Probes(T, batch_views)
        shims = _cascade_all(batch_views, T, self.setup, idfs, djoin, P)
        feats_list = _batch_final_scores(
            shims, q_len, [lcs for _, _, lcs in items], cover_wq, word_level
        )
        for k, (internal_id, text, lcs) in enumerate(items):
            feats = feats_list[k]
            feats.fusion = _fusion_signals(
                batch_views[k], T, text, P.fus[k],
                P.trail[k] if P.trail is not None else 0,
                P.ss[k] if P.ss is not None else 0.0,
                bool(P.segp[k]) if P.segp is not None else False,
                bool(P.segs[k]) if P.segs is not None else False,
            )
            out[internal_id] = feats
        return out
