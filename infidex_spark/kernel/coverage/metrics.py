"""String metrics for the coverage stage.

- lcs_tolerant: Metrics/StringMetrics.cs:12-36 — containment else common
  prefix + tolerance (capped by the shorter string).
- levenshtein: plain edit distance with an early-exit budget, banded
  like the reference's Calculate (only cells within budget of the
  diagonal are computed, so a 500-char token costs O(500 * budget)).
  This exact-below-budget DP is also the oracle
  for the vectorized Myers pass in batch.QueryTables, which tests compare
  against it table by table.
- damerau_restricted: Metrics/LevenshteinDistance.cs:281-341 — NOT full
  Damerau: Levenshtein with budget+1, and if exactly one over budget, try
  repairing the FIRST mismatch with a single adjacent swap plus the
  Levenshtein of the remainders. Ported exactly (the quirk is part of the
  reference's observable ranking behavior).
"""

from __future__ import annotations


def lcs_tolerant(q: str, r: str, error_tolerance: int) -> int:
    if not q or not r:
        return 0
    if q == r:
        return len(q)
    if q in r:
        return len(q)
    prefix_len = 0
    for a, b in zip(q, r):
        if a != b:
            break
        prefix_len += 1
    if prefix_len == 0:
        return 0
    return min(prefix_len + error_tolerance, min(len(q), len(r)))


def levenshtein(a: str, b: str, budget: int) -> int:
    """Exact Levenshtein if <= budget, else any value > budget.

    Banded DP: only the cells with |i - j| <= budget are computed (an
    alignment of cost <= budget never leaves that band), and cells just
    outside it read as budget + 1. Cost O(len * budget), not
    O(len(a) * len(b)), so long near-identical strings stay cheap."""
    la, lb = len(a), len(b)
    if abs(la - lb) > budget:
        return budget + 1
    if la == 0:
        return lb
    if lb == 0:
        return la
    big = budget + 1
    # row 0 over its band [0, budget]. A column right of a row's band has
    # never been written (the band moves right one column per row), so
    # it still reads big in both buffers.
    prev = list(range(min(lb, budget) + 1)) + [big] * (lb - min(lb, budget))
    cur = [big] * (lb + 1)
    for i in range(1, la + 1):
        lo = max(1, i - budget)
        hi = min(lb, i + budget)
        cur[lo - 1] = i if lo == 1 else big
        row_min = cur[lo - 1]
        ca = a[i - 1]
        for j in range(lo, hi + 1):
            v = prev[j - 1] + (ca != b[j - 1])
            x = prev[j] + 1
            if x < v:
                v = x
            x = cur[j - 1] + 1
            if x < v:
                v = x
            cur[j] = v
            if v < row_min:
                row_min = v
        if row_min > budget:
            return big
        prev, cur = cur, prev
    return min(prev[lb], big)


def damerau_restricted(source: str, target: str, max_distance: int) -> int:
    """Reference CalculateDamerau (ignoreCase folded away: call with
    lowercased strings). Returns distance if <= max_distance, else
    max_distance + 1."""
    if abs(len(source) - len(target)) > max_distance:
        return max_distance + 1
    dist = levenshtein(source, target, max_distance + 1)
    if dist <= max_distance:
        return dist
    if dist <= max_distance + 1:
        # try one adjacent transposition at the FIRST mismatch only
        for i in range(len(source) - 1):
            if i >= len(target):
                break
            if source[i] != target[i]:
                if i + 1 >= len(target):
                    break
                if source[i] == target[i + 1] and source[i + 1] == target[i]:
                    remaining = max_distance - 1
                    if remaining < 0:
                        return max_distance + 1
                    s_rest = source[i + 2 :]
                    t_rest = target[i + 2 :]
                    rest = levenshtein(s_rest, t_rest, remaining)
                    if rest <= remaining:
                        return 1 + rest
                break
    return min(dist, max_distance + 1)
