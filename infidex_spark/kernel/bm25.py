"""BM25+ scoring math, float32 like the reference
(/root/reference/src/Infidex/Indexing/Bm25Scorer.cs:21-23,643-652,686-695).

score(t, d) = idf(t) * ( tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl)) + delta )
idf(t)      = ln( (N - df + 0.5) / (df + 0.5) + 1 )       [0 if ratio <= 0]

tf is the byte-quantized accumulated field weight (1..255), dl the sum of a
document's posting byte weights, avgdl their corpus mean. All arithmetic in
float32 so scores match the reference bit-for-bit on the same inputs.
"""

from __future__ import annotations

import numpy as np

K1 = np.float32(1.2)
B = np.float32(0.75)
DELTA = np.float32(1.0)
MAX_TF = np.float32(255.0)
_ONE = np.float32(1.0)
_HALF = np.float32(0.5)


def compute_idf(total_docs: int, df: int) -> np.float32:
    """Reference ComputeIdf (Bm25Scorer.cs:686-695), float32 throughout."""
    if df <= 0 or total_docs <= 0:
        return np.float32(0.0)
    dff = np.float32(df)
    n = np.float32(total_docs)
    ratio = (n - dff + _HALF) / (dff + _HALF)
    if ratio <= 0:
        return np.float32(0.0)
    return np.float32(np.log(ratio + _ONE, dtype=np.float32))


def compute_idf_array(total_docs: int, dfs: np.ndarray) -> np.ndarray:
    """compute_idf over an array of dfs in one float32 numpy expression,
    bit-identical to it elementwise (parity-tested; compute_idf stays
    the oracle)."""
    dff = np.asarray(dfs).astype(np.float32)
    n = np.float32(total_docs)
    ratio = (n - dff + _HALF) / (dff + _HALF)
    ok = (np.asarray(dfs) > 0) & (total_docs > 0) & (ratio > 0)
    idf = np.log(np.where(ok, ratio, _ONE) + _ONE, dtype=np.float32)
    return np.where(ok, idf, np.float32(0.0))


def term_score(tf, dl, avgdl, idf):
    """Per-(term, doc) BM25+ contribution. Works on scalars or numpy arrays
    (float32 in, float32 out)."""
    tf = np.float32(tf) if np.isscalar(tf) else tf.astype(np.float32)
    dl = np.float32(dl) if np.isscalar(dl) else dl.astype(np.float32)
    avgdl = np.float32(avgdl)
    idf = np.float32(idf)
    norm = K1 * (_ONE - B + B * (dl / avgdl))
    denom = tf + norm
    core = (tf * (K1 + _ONE)) / denom
    return idf * (core + DELTA)


def term_max_score(idf, avgdl) -> np.float32:
    """Per-term score upper bound used for WAND pruning and candidate tiers
    (VectorModel.cs:523-531): tf capped at 255, dl at its minimum (1)."""
    avgdl = np.float32(avgdl) if avgdl > 0 else _ONE
    min_dl_norm = _ONE - B + B * (_ONE / avgdl)
    max_core = (MAX_TF * (K1 + _ONE)) / (MAX_TF + K1 * min_dl_norm)
    return np.float32(idf) * (max_core + DELTA)


def tf_accumulate(occurrences: int, field_weight: float = 1.25) -> tuple[int, int]:
    """Replicates Term.FirstCycleAdd byte-saturating tf accumulation
    (/root/reference/src/Infidex/Core/Term.cs:71-122) for a constant
    per-occurrence field weight, returning (tf_byte, df_contribution).

    - first occurrence stores round(w) (banker's rounding, as C# Math.Round);
    - each later occurrence sets weight = round(weight + w) unless that
      would exceed 255, in which case the occurrence is dropped AND the
      df counter is NOT decremented — so df contribution =
      occurrences - successful_accumulates.
    """
    if occurrences <= 0:
        return 0, 0
    # numpy rint == round-half-to-even == C# Math.Round default
    w = float(np.rint(field_weight))
    w = min(w, 255.0)
    successful = 0
    for _ in range(occurrences - 1):
        nxt = w + field_weight
        if nxt <= 255.0:
            w = float(np.rint(nxt))
            successful += 1
    return int(w), occurrences - successful


def tf_df_fast(occurrences, field_weight: float = 1.25):
    """Vectorized closed form of tf_accumulate, valid for field weights w
    with round(w) == 1 and fractional part < 0.5 (each accumulate step adds
    exactly +1). The default Med weight 1.25 qualifies.

    The byte cap depends on w: an accumulate at weight k succeeds only if
    k + w <= 255, so tf saturates at floor(255 - w) + 1 (254 for w=1.25,
    255 for w=1.0). df contribution = occ - successful_accumulates.

    Validated against tf_accumulate in tests; used on the Spark side.
    """
    frac = field_weight - int(field_weight)
    if not (float(np.rint(field_weight)) == 1.0 and frac < 0.5):
        raise ValueError(
            f"closed form invalid for field_weight={field_weight}; "
            "use tf_accumulate"
        )
    cap = int(np.floor(255.0 - field_weight)) + 1
    occ = np.asarray(occurrences, dtype=np.int64)
    tf = np.minimum(occ, cap)
    df = occ - (tf - 1)
    return tf, df
