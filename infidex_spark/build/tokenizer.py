"""Arrow-batch tokenizer: vectorized n-gram + word extraction over a
pandas Series of documents.

Produces per-document term occurrence counts — identical multisets to the
kernel tokenizer (kernel/tokenize.py::index_tokens, itself mirroring
Tokenizer.cs:75-139) but computed with numpy over the whole Arrow batch:

- all documents in a batch are padded and concatenated into one codepoint
  array; n-grams are overlapping windows packed into uint64 keys
  (21 bits/codepoint), counted with a single lexsort + run-length pass;
- words of exactly n-gram length are packed into the same key space and
  counted together with the grams (a 3-char word IS its own 3-gram term);
- longer words are counted with one pandas groupby;
- gram term columns are emitted as pandas Categorical so they stay
  dictionary-encoded through Arrow — no per-occurrence Python strings.

This is the map stage of the index build; the only Python-interpreter
work per batch is O(unique terms), not O(characters).
"""

from __future__ import annotations

from itertools import product
from typing import Iterator

import numpy as np
import pandas as pd

from infidex_spark.kernel.normalize import normalize_series
from infidex_spark.kernel.strings import factorize_strings
from infidex_spark.kernel.tokenize import (
    DEFAULT_INDEX_SIZES,
    DEFAULT_START_PAD,
    DELIMITERS,
    START_PAD,
    STOP_PAD,
)

_DELIM_SPLIT = "[" + "".join("\\" + c for c in DELIMITERS) + "]+"
_PAD_CPS = (ord(START_PAD), ord(STOP_PAD))


def _pack_keys(cps: np.ndarray, pos: np.ndarray, size: int) -> np.ndarray:
    """uint64 keys for windows of `size` codepoints starting at pos."""
    key = np.zeros(pos.size, dtype=np.uint64)
    for j in range(size):
        key = (key << np.uint64(21)) | cps[pos + j].astype(np.uint64)
    return key


def _pack_strings(strings: pd.Series, size: int) -> np.ndarray:
    """uint64 keys for strings of exactly `size` chars (vectorized)."""
    blob = "".join(strings.tolist())
    cps = np.frombuffer(blob.encode("utf-32-le"), dtype=np.uint32)
    pos = np.arange(0, cps.size, size)
    return _pack_keys(cps, pos, size)


def _pad_keys(size: int) -> np.ndarray:
    out = []
    for combo in product(_PAD_CPS, repeat=size):
        k = 0
        for c in combo:
            k = (k << 21) | c
        out.append(k)
    return np.array(out, dtype=np.uint64)


def _key_to_str(keys: np.ndarray, size: int) -> list[str]:
    chars = np.empty((keys.size, size), dtype=np.uint32)
    k = keys.copy()
    for j in range(size - 1, -1, -1):
        chars[:, j] = (k & np.uint64((1 << 21) - 1)).astype(np.uint32)
        k = k >> np.uint64(21)
    flat = chars.reshape(-1).astype("<u4").tobytes()
    s = flat.decode("utf-32-le")
    return [s[i * size : (i + 1) * size] for i in range(keys.size)]


def _count_pairs(doc_of: np.ndarray, key: np.ndarray):
    """run-length count of (doc, key) pairs -> (docs, keys, counts)."""
    order = np.lexsort((key, doc_of))
    key, doc_of = key[order], doc_of[order]
    boundary = np.empty(key.size, dtype=bool)
    boundary[0] = True
    boundary[1:] = (key[1:] != key[:-1]) | (doc_of[1:] != doc_of[:-1])
    idx = np.flatnonzero(boundary)
    counts = np.diff(np.append(idx, key.size))
    return doc_of[idx], key[idx], counts


def tokenize_batch_frames(
    texts: pd.Series,
    sizes: tuple[int, ...] = DEFAULT_INDEX_SIZES,
    start_pad: int = DEFAULT_START_PAD,
    prenormalized: bool = False,
) -> Iterator[pd.DataFrame]:
    """Yield DataFrames (doc_idx int64, term, occ int64); term columns are
    Categorical for gram-size frames, object for long words. Frames are
    disjoint on (doc_idx, term) across yields."""
    if not prenormalized:
        texts = normalize_series(texts.fillna("")).str.lower()
    texts = texts.reset_index(drop=True)
    if len(texts) == 0:
        return

    min_size = sizes[0]
    padded = (START_PAD * start_pad) + texts
    blob = "".join(padded.tolist())
    cps = np.frombuffer(blob.encode("utf-32-le"), dtype=np.uint32)
    lengths = padded.str.len().to_numpy(dtype=np.int64)
    ends = np.cumsum(lengths)
    padded_len = lengths  # == text len + start_pad

    # words = maximal non-delimiter runs in the codepoint array — the
    # same vectorized run detection as tokenize_fields_batch, replacing
    # the former per-row regex split + .str.len() passes (they were
    # ~30% of the tokenize stage). Only the synthetic per-doc PREFIX
    # pads break runs (so runs never span documents); a literal pad
    # character inside a text stays part of its word, exactly as the
    # regex split (which only splits on delimiters) behaved.
    if start_pad >= 1:
        doc_starts_pad = ends - lengths
        prefix_pad = np.zeros(cps.size, dtype=bool)
        prefix_pad[
            (
                doc_starts_pad[:, None] + np.arange(start_pad)
            ).ravel()
        ] = True
        w_starts, w_lens = _word_runs(cps, extra_break=prefix_pad)
        sel = w_lens >= min_size
        w_starts, w_lens = w_starts[sel], w_lens[sel]
        w_doc = np.searchsorted(ends, w_starts, side="right")
    else:
        # start_pad == 0: runs could span adjacent docs in the blob, so
        # keep the per-row split for this (non-default) configuration
        words = texts.str.split(_DELIM_SPLIT, regex=True).explode()
        words = words[words.str.len() >= min_size]
        wl = words.str.len().to_numpy(np.int64)
        w_doc = words.index.to_numpy(np.int64)
        w_strs = words.to_numpy()
        w_lens = wl
        w_starts = None

    max_size = sizes[-1]
    for size in sizes:
        # multi-size rule: docs with padded length <= min size only use min
        if size == sizes[0]:
            doc_mask = None
        else:
            doc_mask = padded_len > sizes[0]
        n = cps.size
        if n >= size:
            pos = np.arange(n - size + 1)
            doc_of = np.searchsorted(ends, pos, side="right")
            valid = pos + size <= ends[doc_of]
            if doc_mask is not None:
                valid &= doc_mask[doc_of]
            pos, doc_of = pos[valid], doc_of[valid]
            key = _pack_keys(cps, pos, size)
            mask = ~np.isin(key, _pad_keys(size))
            key, doc_of = key[mask], doc_of[mask]
        else:
            key = np.zeros(0, dtype=np.uint64)
            doc_of = np.zeros(0, dtype=np.int64)

        # words of exactly this length live in the same key space
        lsel = w_lens == size
        if lsel.any():
            wkeys = (
                _pack_keys(cps, w_starts[lsel], size)
                if w_starts is not None
                else _pack_strings(pd.Series(w_strs[lsel]), size)
            )
            key = np.concatenate([key, wkeys])
            doc_of = np.concatenate([doc_of, w_doc[lsel]])

        if key.size:
            d, k, c = _count_pairs(doc_of, key)
            uniq, inv = np.unique(k, return_inverse=True)
            yield pd.DataFrame(
                {
                    "doc_idx": d,
                    "term": pd.Categorical.from_codes(inv, categories=_key_to_str(uniq, size)),
                    "occ": c,
                }
            )
        if size == max_size:
            break

    lsel = w_lens > max_size
    if lsel.any():
        lw_strs = (
            _strings_of_runs(cps, w_starts[lsel], w_lens[lsel])
            if w_starts is not None
            else w_strs[lsel]
        )
        codes, uniq = factorize_strings(lw_strs)
        d, k, c = _count_pairs(w_doc[lsel], codes.astype(np.uint64))
        yield pd.DataFrame(
            {
                "doc_idx": d,
                "term": np.asarray(uniq, dtype=object)[k.astype(np.int64)],
                "occ": c,
            }
        )


_DELIM_CPS = np.array(sorted(ord(c) for c in DELIMITERS), dtype=np.uint32)


def _word_runs(
    cps: np.ndarray, extra_break: np.ndarray | None = None
) -> tuple[np.ndarray, np.ndarray]:
    """(starts, lengths) of maximal non-delimiter runs in a codepoint
    array. extra_break marks additional positions that break runs (e.g.
    synthetic per-doc padding)."""
    is_break = np.isin(cps, _DELIM_CPS)
    if extra_break is not None:
        is_break |= extra_break
    keep = ~is_break
    prev_break = np.empty(cps.size, dtype=bool)
    prev_break[0] = True
    prev_break[1:] = is_break[:-1]
    next_break = np.empty(cps.size, dtype=bool)
    next_break[-1] = True
    next_break[:-1] = is_break[1:]
    starts = np.flatnonzero(keep & prev_break)
    lens = np.flatnonzero(keep & next_break) - starts + 1
    return starts, lens


def _strings_of_runs(cps: np.ndarray, starts: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """Materialize substrings cps[s:s+l] for (starts, lens) pairs as an
    object array, vectorized by grouping runs of equal length (one
    utf-32 decode per distinct length instead of one slice per word)."""
    out = np.empty(starts.size, dtype=object)
    for L in np.unique(lens):
        sel = lens == L
        pos = starts[sel]
        idx = pos[:, None] + np.arange(L)
        flat = cps[idx.reshape(-1)].astype("<u4").tobytes()
        s = flat.decode("utf-32-le")
        vals = [s[i * L : (i + 1) * L] for i in range(pos.size)]
        out[np.flatnonzero(sel)] = vals
    return out


def tokenize_fields_batch(
    raw_texts: pd.Series,
    bpos: np.ndarray,
    widxs: list[int],
    sizes: tuple[int, ...] = DEFAULT_INDEX_SIZES,
    start_pad: int = DEFAULT_START_PAD,
    synonym_map=None,
) -> pd.DataFrame:
    """Vectorized multi-field tokenize + byte-saturating tf fold.

    raw_texts: the '§'-concatenated RAW field values per doc (one batch);
    bpos: (n_docs, n_fields) field boundary offsets in the raw text
    (kernel.engine.field_boundaries semantics); widxs: weight index per
    field. Returns (doc_idx, term, tf, dfc) — bit-identical to folding
    kernel.tokenize.index_tokens occurrences through the reference's
    Term.FirstCycleAdd (round-half-even at every accumulate, saturation
    at 255, df contribution = occurrences - successful accumulates), but
    with no per-row Python:

    - occurrences (grams per size, then words) are generated as numpy
      arrays with padded-text positions, exactly in index_tokens'
      emission order (order matters: the fold is order-dependent);
    - per-occurrence field weights come from one vectorized boundary
      comparison per field (reference VectorModel.DetermineFieldWeight,
      including the raw-offset-vs-padded-position quirk);
    - the fold itself runs in "rounds": round r advances every (doc,
      term) group with > r occurrences at once (numpy rint + saturation
      mask), so total work is O(total occurrences) vectorized and the
      loop count is the max per-doc term multiplicity, not the corpus.
    """
    from infidex_spark.kernel.engine import FIELD_WEIGHTS
    from infidex_spark.kernel.normalize import normalize_series

    if sizes and max(sizes) > 3:
        # _pack_keys packs one codepoint per 21 bits next to the gram
        # size: 4+-char grams would overflow uint64 and silently collide
        # with the factorized long-word space (ADVICE r3 #3). The fields
        # fold currently supports gram sizes <= 3 only — fail loudly
        # instead of producing wrong groups.
        raise ValueError(
            "tokenize_fields_batch supports index sizes <= 3 "
            f"(got sizes={tuple(sizes)}); build multi-field indexes with "
            "3-gram configs or extend _pack_keys first"
        )
    texts = normalize_series(raw_texts.fillna("")).str.lower()
    if synonym_map is not None and synonym_map.has_mappings:
        texts = synonym_map.canonicalize_series(texts)
    texts = texts.reset_index(drop=True)
    n_docs = len(texts)
    empty = pd.DataFrame(
        {
            "doc_idx": pd.array([], dtype="int64"),
            "term": pd.array([], dtype="object"),
            "tf": pd.array([], dtype="int64"),
            "dfc": pd.array([], dtype="int64"),
        }
    )
    if n_docs == 0:
        return empty
    if start_pad < 1:
        raise ValueError("vectorized fields tokenizer requires start_pad >= 1")

    padded = (START_PAD * start_pad) + texts
    blob = "".join(padded.tolist())
    cps = np.frombuffer(blob.encode("utf-32-le"), dtype=np.uint32)
    lengths = padded.str.len().to_numpy(dtype=np.int64)
    ends = np.cumsum(lengths)
    doc_starts = ends - lengths
    padded_len = lengths

    min_size = sizes[0]
    max_size = sizes[-1]

    # --- occurrence streams: (doc, char-length group, packed key or word
    # string, padded position, emission stage)
    occ_doc: list[np.ndarray] = []
    occ_pos: list[np.ndarray] = []
    occ_stage: list[np.ndarray] = []
    occ_keys: list[np.ndarray] = []  # parallel: packed uint64 per occurrence
    occ_len: list[np.ndarray] = []  # char length of the term (0 = long word)
    long_words: np.ndarray | None = None  # object array aligned with its entry

    for stage, size in enumerate(sizes):
        n = cps.size
        if n < size:
            continue
        pos = np.arange(n - size + 1)
        doc_of = np.searchsorted(ends, pos, side="right")
        valid = pos + size <= ends[doc_of]
        if size != sizes[0]:
            # multi-size rule: docs with padded length <= min size only
            # use the min size (Tokenizer.cs:288-298)
            valid &= padded_len[doc_of] > sizes[0]
        pos, doc_of = pos[valid], doc_of[valid]
        key = _pack_keys(cps, pos, size)
        mask = ~np.isin(key, _pad_keys(size))
        key, pos, doc_of = key[mask], pos[mask], doc_of[mask]
        occ_doc.append(doc_of)
        occ_pos.append(pos - doc_starts[doc_of])  # padded-text position
        occ_stage.append(np.full(key.size, stage, dtype=np.int64))
        occ_keys.append(key)
        occ_len.append(np.full(key.size, size, dtype=np.int64))
        if size == max_size:
            break

    # --- words: maximal non-delimiter runs inside each doc's text region.
    # Pad codepoints act as run breakers (docs always begin with
    # start_pad >= 1 pads, so runs never span documents).
    is_break = (
        np.isin(cps, _DELIM_CPS)
        | (cps == ord(START_PAD))
        | (cps == ord(STOP_PAD))
    )
    keep = ~is_break
    prev_break = np.empty(cps.size, dtype=bool)
    prev_break[0] = True
    prev_break[1:] = is_break[:-1]
    next_break = np.empty(cps.size, dtype=bool)
    next_break[-1] = True
    next_break[:-1] = is_break[1:]
    w_starts = np.flatnonzero(keep & prev_break)
    w_ends = np.flatnonzero(keep & next_break)  # inclusive
    w_lens = w_ends - w_starts + 1
    sel = w_lens >= min_size
    w_starts, w_lens = w_starts[sel], w_lens[sel]
    if w_starts.size:
        w_doc = np.searchsorted(ends, w_starts, side="right")
        w_pos = w_starts - doc_starts[w_doc]  # == start_pad + text offset
        word_stage = len(sizes)
        packable = w_lens <= 3  # 3 x 21 bits fits uint64 alongside grams
        for L in np.unique(w_lens[packable]):
            lsel = packable & (w_lens == L)
            occ_doc.append(w_doc[lsel])
            occ_pos.append(w_pos[lsel])
            occ_stage.append(np.full(int(lsel.sum()), word_stage, dtype=np.int64))
            occ_keys.append(_pack_keys(cps, w_starts[lsel], int(L)))
            occ_len.append(np.full(int(lsel.sum()), int(L), dtype=np.int64))
        lsel = ~packable
        if lsel.any():
            occ_doc.append(w_doc[lsel])
            occ_pos.append(w_pos[lsel])
            occ_stage.append(np.full(int(lsel.sum()), word_stage, dtype=np.int64))
            occ_keys.append(np.zeros(int(lsel.sum()), dtype=np.uint64))
            occ_len.append(np.zeros(int(lsel.sum()), dtype=np.int64))
            long_words = _strings_of_runs(cps, w_starts[lsel], w_lens[lsel])

    if not occ_doc:
        return empty
    doc = np.concatenate(occ_doc)
    pos = np.concatenate(occ_pos)
    stage = np.concatenate(occ_stage)
    keys = np.concatenate(occ_keys)
    klen = np.concatenate(occ_len)

    # --- term codes: one id space per char length (identical strings of
    # the same length share a packed key, so a len-3 word and the len-3
    # gram at its position unify exactly as in index_tokens), plus a
    # factorized space for words longer than 3 chars.
    code = np.empty(doc.size, dtype=np.int64)
    categories: list[str] = []
    offset = 0
    for L in np.unique(klen):
        lsel = klen == L
        if L == 0:
            w_codes, uniq_w = factorize_strings(long_words)
            code[lsel] = offset + w_codes
            categories.extend(uniq_w.tolist())
            offset += len(uniq_w)
        else:
            uniq, inv = np.unique(keys[lsel], return_inverse=True)
            code[lsel] = offset + inv
            categories.extend(_key_to_str(uniq, int(L)))
            offset += uniq.size

    # --- per-occurrence field weight (DetermineFieldWeight): the last
    # boundary whose RAW offset <= the PADDED token position wins.
    nf = bpos.shape[1]
    widx_arr = np.asarray(widxs, dtype=np.int64)
    bidx = np.zeros(doc.size, dtype=np.int64)
    for j in range(nf):
        bidx += bpos[doc, j] <= pos
    wsel = np.where(bidx > 0, widx_arr[np.maximum(bidx - 1, 0)], 0)
    weights_tab = np.array(list(FIELD_WEIGHTS), dtype=np.float64)
    w = np.where(
        (bidx > 0) & (wsel < weights_tab.size),
        weights_tab[np.minimum(wsel, weights_tab.size - 1)],
        1.0,
    )

    # --- order-preserving fold per (doc, term): sort by (doc, code) with
    # emission order (stage, then position) as the tiebreaker
    seq = stage << np.int64(32) | pos
    order = np.lexsort((seq, code, doc))
    doc_s, code_s, w_s = doc[order], code[order], w[order]
    grp = np.empty(doc_s.size, dtype=bool)
    grp[0] = True
    grp[1:] = (doc_s[1:] != doc_s[:-1]) | (code_s[1:] != code_s[:-1])
    gstart = np.flatnonzero(grp)
    glen = np.diff(np.append(gstart, doc_s.size))

    tf = np.minimum(np.rint(w_s[gstart]), 255.0)
    succ = np.zeros(gstart.size, dtype=np.int64)
    max_len = int(glen.max())
    if max_len > 1:
        # groups in multiplicity-desc order: round r touches exactly the
        # first k[r] groups (a prefix), so total fold work is O(total
        # occurrences) instead of O(groups x max multiplicity)
        order_g = np.argsort(-glen, kind="stable")
        tf_o = tf[order_g]
        succ_o = succ[order_g]
        gstart_o = gstart[order_g]
        counts = np.bincount(glen, minlength=max_len + 1)
        k = glen.size - np.cumsum(counts)  # k[r] = #groups with glen > r
        for r in range(1, max_len):
            kr = int(k[r])
            if kr == 0:
                break
            nw = tf_o[:kr] + w_s[gstart_o[:kr] + r]
            ok = nw <= 255.0
            tf_o[:kr] = np.where(ok, np.rint(nw), tf_o[:kr])
            succ_o[:kr] += ok
        tf[order_g] = tf_o
        succ[order_g] = succ_o

    return pd.DataFrame(
        {
            "doc_idx": doc_s[gstart],
            "term": pd.Categorical.from_codes(code_s[gstart], categories=categories),
            "tf": tf.astype(np.int64),
            "dfc": glen - succ,
        }
    )


def tokenize_batch(
    texts: pd.Series,
    sizes: tuple[int, ...] = DEFAULT_INDEX_SIZES,
    start_pad: int = DEFAULT_START_PAD,
    prenormalized: bool = False,
) -> pd.DataFrame:
    """Materialized variant (tests / small inputs): one DataFrame with a
    plain-object term column."""
    frames = [
        f.assign(term=f["term"].astype(str))
        for f in tokenize_batch_frames(texts, sizes, start_pad, prenormalized)
    ]
    if not frames:
        return pd.DataFrame(
            {
                "doc_idx": pd.array([], dtype="int64"),
                "term": pd.array([], dtype="object"),
                "occ": pd.array([], dtype="int64"),
            }
        )
    return pd.concat(frames, ignore_index=True)
