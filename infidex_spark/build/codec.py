"""Posting-list payload codec: delta + varint docIDs, uint8 weights,
fixed-size blocks with per-block max-weight metadata for block-max WAND.

The reference stores postings in variable-size blocks with per-block
minDoc/maxDoc/offset/maxWeight (Segments/BlockPostingsWriter.cs:7-160) and
Group-VarInt compression (Compression/GroupVarInt.cs). Our format is
self-consistent rather than byte-compatible (the reference format is an
internal detail): plain LEB128 varints over gap-encoded docIDs, fixed
128-doc blocks, parallel metadata arrays. Encoding and decoding are
numpy-vectorized — no per-element Python in the hot path.
"""

from __future__ import annotations

import numpy as np

BLOCK_SIZE = 128

# On-disk index layout version: build_index writes it into MANIFEST.json
# and IndexReader refuses any other value. Bump it whenever build_index
# changes a table's layout, so readers never carry old-layout branches.
FORMAT_VERSION = 6


def encode_varints(values: np.ndarray) -> bytes:
    """LEB128-encode a uint64 array, fully vectorized.

    Each value emits ceil(bits/7) bytes; we compute per-value byte counts,
    scatter the 7-bit groups into a flat buffer, and set continuation bits.
    """
    v = np.asarray(values, dtype=np.uint64)
    if v.size == 0:
        return b""
    # bytes per value = ceil(bitlength/7), min 1 (one searchsorted pass)
    nbytes = _varint_sizes(v)
    total = int(nbytes.sum())
    out = np.zeros(total, dtype=np.uint8)
    ends = np.cumsum(nbytes)
    starts = ends - nbytes
    # scatter 7-bit groups; max 10 groups for 64-bit
    max_groups = int(nbytes.max())
    for g in range(max_groups):
        sel = nbytes > g
        idx = starts[sel] + g
        chunk = (v[sel] >> np.uint64(7 * g)) & np.uint64(0x7F)
        cont = (nbytes[sel] - 1 > g).astype(np.uint8) << 7
        out[idx] = chunk.astype(np.uint8) | cont
    return out.tobytes()


def decode_varints(buf: bytes, count: int) -> np.ndarray:
    """Decode `count` LEB128 varints from buf. Vectorized: classifies bytes
    by continuation bit, assigns group positions by cumulative counting."""
    if count == 0:
        return np.zeros(0, dtype=np.uint64)
    raw = np.frombuffer(buf, dtype=np.uint8)
    is_end = (raw & 0x80) == 0
    if raw.size == count:
        # every value is a single byte (dense postings: gap < 128)
        if not is_end.all():
            raise ValueError("truncated varint stream")
        return raw.astype(np.uint64)
    ends_idx = np.flatnonzero(is_end)
    if ends_idx.size < count:
        raise ValueError("truncated varint stream")
    ends_idx = ends_idx[:count]
    value_start = np.empty(count, dtype=np.int64)
    value_start[0] = 0
    value_start[1:] = ends_idx[:-1] + 1
    # value-level passes: pass g gathers byte g of every value that has
    # one (LSB-first). All arrays are count-sized — the former byte-level
    # formulation (per-byte value ids + np.add.at scatter) touched ~3x
    # the memory and was the decode hot path's top cost.
    nbytes = ends_idx - value_start
    out = (raw[value_start] & np.uint8(0x7F)).astype(np.uint64)
    for g in range(1, int(nbytes.max()) + 1):
        sel = np.flatnonzero(nbytes >= g)
        byte = raw[value_start[sel] + g] & np.uint8(0x7F)
        out[sel] |= byte.astype(np.uint64) << np.uint64(7 * g)
    return out


# LEB128 byte-count thresholds: values < 2^(7k) need k bytes. One
# searchsorted over this 10-entry table replaces the former shift loop
# (which allocated a full-size temporary per 7-bit group — the top cost
# of the encode pass under profiling).
_VARINT_THRESHOLDS = (np.uint64(1) << (np.uint64(7) * np.arange(1, 10, dtype=np.uint64))).astype(np.uint64)


def _varint_sizes(v: np.ndarray) -> np.ndarray:
    """Per-value LEB128 byte counts (vectorized, one pass)."""
    return np.searchsorted(_VARINT_THRESHOLDS, v, side="right") + 1


def encode_postings(doc_ids: np.ndarray, weights: np.ndarray) -> dict:
    """Encode one term's postings (sorted unique doc_ids + uint8 weights).

    Returns dict with:
      payload        : bytes — varint gaps (first value absolute)
      weights        : bytes — raw uint8 per posting
      block_last_doc : int64[] — last docID of each 128-doc block
      block_max_w    : int64[] — max weight within each block
      block_counts   : int64[] — postings per block (last may be short)
      block_offsets  : int64[] — byte offset of each block in payload
                       (enables decoding any block range independently)
    """
    doc_ids = np.asarray(doc_ids, dtype=np.int64)
    weights = np.asarray(weights, dtype=np.uint8)
    assert doc_ids.ndim == 1 and doc_ids.shape == weights.shape
    if doc_ids.size and (np.diff(doc_ids) <= 0).any():
        raise ValueError("doc_ids must be strictly increasing")
    gaps = np.empty_like(doc_ids)
    if doc_ids.size:
        gaps[0] = doc_ids[0]
        np.subtract(doc_ids[1:], doc_ids[:-1], out=gaps[1:])
    n = doc_ids.size
    nblocks = (n + BLOCK_SIZE - 1) // BLOCK_SIZE
    pad = nblocks * BLOCK_SIZE - n
    if pad and n:
        w_padded = np.concatenate([weights, np.zeros(pad, dtype=np.uint8)])
        d_padded = np.concatenate([doc_ids, np.repeat(doc_ids[-1], pad)])
    else:
        w_padded, d_padded = weights, doc_ids
    if n:
        block_max_w = w_padded.reshape(nblocks, BLOCK_SIZE).max(axis=1).astype(np.int64)
        block_last = d_padded.reshape(nblocks, BLOCK_SIZE)[:, -1].astype(np.int64)
        counts = np.full(nblocks, BLOCK_SIZE, dtype=np.int64)
        counts[-1] = n - (nblocks - 1) * BLOCK_SIZE
        sizes = _varint_sizes(gaps.astype(np.uint64))
        byte_starts = np.cumsum(sizes) - sizes
        block_offsets = byte_starts[np.arange(0, n, BLOCK_SIZE)]
    else:
        block_max_w = np.zeros(0, dtype=np.int64)
        block_last = np.zeros(0, dtype=np.int64)
        counts = np.zeros(0, dtype=np.int64)
        block_offsets = np.zeros(0, dtype=np.int64)
    return {
        "payload": encode_varints(gaps.astype(np.uint64)),
        "weights": weights.tobytes(),
        "block_last_doc": block_last,
        "block_max_w": block_max_w,
        "block_counts": counts,
        "block_offsets": block_offsets,
    }


def encode_postings_flat(
    allp: np.ndarray,
    lens: np.ndarray,
    reuse_payload: list | None = None,
) -> dict:
    """Encode many terms' postings from one flat int64 array of
    (doc_id << 8 | tf) values plus per-term lengths. Returns parallel
    lists: payload bytes, weights bytes, block_last_doc / block_max_w /
    block_offsets / n_docs / max_tf per term. Equivalent to calling
    encode_postings per term (tested); the varint encode, gap
    computation AND the per-block metadata all run as single vectorized
    passes over the concatenation — per-term Python work is only the
    final slicing into row values.

    reuse_payload: optional per-term list where a non-None entry is this
    term's already-encoded payload bytes (known identical to what this
    function would produce — e.g. a single-partial merge); the varint
    scatter then skips those values (metadata is still computed from the
    flat array, so outputs are bit-identical either way).
    """
    n_terms = int(lens.size)
    lens = np.asarray(lens, dtype=np.int64)
    if n_terms == 0 or int(lens.sum()) == 0:
        return {
            "payload": [b""] * n_terms,
            "weights": [b""] * n_terms,
            "block_last_doc": [[] for _ in range(n_terms)],
            "block_max_w": [[] for _ in range(n_terms)],
            "block_offsets": [[] for _ in range(n_terms)],
            "n_docs": lens.tolist(),
            "max_tf": [0] * n_terms,
        }
    allp = np.asarray(allp, dtype=np.int64)
    doc_ids = allp >> 8
    tfs = (allp & 0xFF).astype(np.uint8)
    ends = np.cumsum(lens)
    starts = ends - lens
    nz = lens > 0
    # gaps with resets at term starts
    gaps = doc_ids.copy()
    gaps[1:] -= doc_ids[:-1]
    gaps[starts[nz]] = doc_ids[starts[nz]]
    interior = np.ones(allp.size, dtype=bool)
    interior[starts[nz]] = False
    if (gaps[interior] <= 0).any():
        raise ValueError("doc_ids must be strictly increasing within a term")
    # one varint pass over everything + per-value byte counts for slicing
    v = gaps.astype(np.uint64)
    nbytes = _varint_sizes(v)
    byte_ends = np.cumsum(nbytes)
    byte_starts = byte_ends - nbytes
    scatter_sel = None
    if reuse_payload is not None:
        # skip the scatter for values whose term's payload is reused
        keep_term = np.fromiter(
            (p is None for p in reuse_payload), dtype=bool, count=n_terms
        )
        scatter_sel = np.repeat(keep_term, lens)
    buf = np.zeros(int(byte_ends[-1]), dtype=np.uint8)
    for g in range(int(nbytes.max())):
        sel = nbytes > g
        if scatter_sel is not None:
            sel &= scatter_sel
        idx = byte_starts[sel] + g
        chunk = (v[sel] >> np.uint64(7 * g)) & np.uint64(0x7F)
        cont = (nbytes[sel] - 1 > g).astype(np.uint8) << 7
        buf[idx] = chunk.astype(np.uint8) | cont
        if scatter_sel is not None and not sel.any():
            break
    raw = buf.tobytes()
    wraw = tfs.tobytes()

    # ---- block metadata, globally vectorized: every term's 128-doc
    # block starts laid out in one flat index array, then ONE reduceat /
    # gather per metric instead of a numpy-call cluster per term
    nblocks = (lens + (BLOCK_SIZE - 1)) // BLOCK_SIZE
    total_blocks = int(nblocks.sum())
    blk_cum = np.cumsum(nblocks)
    blk_first = blk_cum - nblocks  # first global block index per term
    # ordinal of each block within its term
    ordinal = np.arange(total_blocks, dtype=np.int64) - np.repeat(
        blk_first, nblocks
    )
    blk_start = np.repeat(starts, nblocks) + ordinal * BLOCK_SIZE
    term_end_rep = np.repeat(ends, nblocks)
    blk_last_idx = np.minimum(blk_start + BLOCK_SIZE - 1, term_end_rep - 1)
    if total_blocks:
        bl_max_all = np.maximum.reduceat(tfs, blk_start).astype(np.int64)
        # reduceat quirk: for a start index equal to the next start
        # (impossible here: block starts are strictly increasing within
        # the flat array because every block is non-empty)
        bl_last_all = doc_ids[blk_last_idx]
        # per-term payload byte base (index clamped only so empty
        # trailing terms don't index past the array; their 0 blocks make
        # the repeated value unused)
        term_byte_base = byte_starts[np.minimum(starts, allp.size - 1)]
        bl_off_all = byte_starts[blk_start] - np.repeat(term_byte_base, nblocks)
        max_tf_all = (
            np.maximum.reduceat(bl_max_all, blk_first[nz])
            if nz.any()
            else np.zeros(0, np.int64)
        )
    else:
        bl_max_all = bl_last_all = bl_off_all = np.zeros(0, np.int64)
        max_tf_all = np.zeros(0, np.int64)

    # split points between terms (in block space / posting space)
    payloads: list = [b""] * n_terms
    weights_out: list = [b""] * n_terms
    bl_last: list = [[]] * n_terms
    bl_max: list = [[]] * n_terms
    bl_off: list = [[]] * n_terms
    max_tf = np.zeros(n_terms, dtype=np.int64)
    max_tf[nz] = max_tf_all
    bl_last_split = np.split(bl_last_all, blk_cum[:-1])
    bl_max_split = np.split(bl_max_all, blk_cum[:-1])
    bl_off_split = np.split(bl_off_all, blk_cum[:-1])
    nz_idx = np.flatnonzero(nz)
    b_lo = byte_starts[starts[nz]]
    b_hi = byte_ends[ends[nz] - 1]
    for j, i in enumerate(nz_idx.tolist()):
        reused = reuse_payload[i] if reuse_payload is not None else None
        payloads[i] = raw[b_lo[j]:b_hi[j]] if reused is None else reused
        weights_out[i] = wraw[starts[i]:ends[i]]
        bl_last[i] = bl_last_split[i].tolist()
        bl_max[i] = bl_max_split[i].tolist()
        bl_off[i] = bl_off_split[i].tolist()
    return {
        "payload": payloads,
        "weights": weights_out,
        "block_last_doc": bl_last,
        "block_max_w": bl_max,
        "block_offsets": bl_off,
        "n_docs": lens.tolist(),
        "max_tf": max_tf.tolist(),
    }


def encode_postings_batch(
    packed_lists: list[np.ndarray],
) -> dict:
    """Encode many terms' postings in one vectorized pass.

    packed_lists: per-term int64 arrays of (doc_id << 8 | tf), each sorted
    by doc_id. Thin wrapper over encode_postings_flat (concatenate +
    per-term lengths); equivalent to calling encode_postings per term
    (tested)."""
    n_terms = len(packed_lists)
    lens = np.fromiter((len(x) for x in packed_lists), dtype=np.int64, count=n_terms)
    if n_terms == 0 or int(lens.sum()) == 0:
        return {
            "payload": [b""] * n_terms,
            "weights": [b""] * n_terms,
            "block_last_doc": [[] for _ in range(n_terms)],
            "block_max_w": [[] for _ in range(n_terms)],
            "block_offsets": [[] for _ in range(n_terms)],
            "n_docs": lens.tolist(),
            "max_tf": [0] * n_terms,
        }
    allp = np.concatenate([np.asarray(x, dtype=np.int64) for x in packed_lists])
    return encode_postings_flat(allp, lens)


def decode_postings(payload: bytes, weights: bytes, n: int) -> tuple[np.ndarray, np.ndarray]:
    """Inverse of encode_postings: (doc_ids int64[], weights uint8[])."""
    gaps = decode_varints(payload, n)
    # same-dtype cumsum (a cross-dtype cumsum casts per element — slow),
    # then a free int64 view: doc ids are < 2^63 so values are unchanged
    doc_ids = np.cumsum(gaps).view(np.int64)
    w = np.frombuffer(weights, dtype=np.uint8)[:n]
    return doc_ids, w


def decode_posting_blocks(
    payload: bytes,
    weights: bytes,
    n: int,
    block_offsets: np.ndarray,
    block_last_doc: np.ndarray,
    b0: int,
    b1: int,
) -> tuple[np.ndarray, np.ndarray]:
    """Decode only blocks [b0, b1) of a term's postings.

    Gap encoding never resets at block boundaries, so block b0's first
    value rebases on block_last_doc[b0-1]; byte offsets make the slice
    independently decodable. Returns (doc_ids int64[], weights uint8[])
    for exactly those blocks.
    """
    nblocks = len(block_offsets)
    b0 = max(0, b0)
    b1 = min(nblocks, b1)
    if b1 <= b0:
        return np.zeros(0, dtype=np.int64), np.zeros(0, dtype=np.uint8)
    p0 = int(block_offsets[b0])
    p1 = int(block_offsets[b1]) if b1 < nblocks else len(payload)
    s = b0 * BLOCK_SIZE
    e = min(b1 * BLOCK_SIZE, n)
    count = e - s
    gaps = decode_varints(payload[p0:p1], count)
    base = int(block_last_doc[b0 - 1]) if b0 > 0 else 0
    doc_ids = np.cumsum(gaps).view(np.int64)
    doc_ids += base
    w = np.frombuffer(weights, dtype=np.uint8)[s:e]
    return doc_ids, w


# ---- CompactArray (C4): n-bit packed unsigned integers ----------------
# Reference: src/Infidex/Compression/CompactArray.cs:12-46 — fixed-width
# bit packing chosen per array from the max value. Used for the pattern
# store's per-doc score sums (typical width ~8-12 bits vs int32 storage).


def nbit_width(values: np.ndarray) -> int:
    """Bits needed for the max value (>= 1 so empty/zero arrays stay
    round-trippable)."""
    if values.size == 0:
        return 1
    return max(1, int(values.max()).bit_length())


def pack_nbit(values: np.ndarray, bits: int) -> bytes:
    """Pack unsigned ints (< 2^bits, bits <= 32) MSB-first into
    ceil(n*bits/8) bytes. Fully vectorized (unpackbits/packbits)."""
    if values.size == 0:
        return b""
    v = np.ascontiguousarray(values.astype(">u4")).view(np.uint8).reshape(-1, 4)
    allbits = np.unpackbits(v, axis=1)
    return np.packbits(allbits[:, 32 - bits :].ravel()).tobytes()


def unpack_nbit(buf, n: int, bits: int) -> np.ndarray:
    """Inverse of pack_nbit -> int64 array of length n."""
    if n == 0:
        return np.zeros(0, dtype=np.int64)
    raw = np.frombuffer(buf, dtype=np.uint8)
    b = np.unpackbits(raw, count=n * bits).reshape(n, bits)
    out = np.zeros((n, 32), dtype=np.uint8)
    out[:, 32 - bits :] = b
    return (
        np.packbits(out, axis=1).reshape(n, 4).view(">u4").astype(np.int64).ravel()
    )
