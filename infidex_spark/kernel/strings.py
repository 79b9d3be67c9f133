"""NUL-safe string factorization.

pandas' object-string hashtable compares strings only up to the first
NUL, so ``pd.factorize(["a\\x00b", "a\\x00c"])`` returns one code for
both. ``normalize`` keeps NUL (as the reference does), so indexed text
and query text can carry it. Arrow's dictionary encoder hashes the full
UTF-8 bytes.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa


def factorize_strings(values) -> tuple[np.ndarray, np.ndarray]:
    """(int64 codes, object-array uniques) for a sequence of str, in
    first-appearance order — pd.factorize's contract, NUL-safe."""
    enc = pa.array(values, pa.string()).dictionary_encode()
    codes = enc.indices.to_numpy().astype(np.int64)
    return codes, enc.dictionary.to_numpy(zero_copy_only=False)
