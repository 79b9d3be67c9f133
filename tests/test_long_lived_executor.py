"""One long-lived QueryExecutor against fresh ones and the kernel.

A reader's caches (term rows, decoded row groups, prefix and variant
lookups, short-query answers) fill as a seeded stream of queries runs
through one executor: typos, 1-3 char queries, 'X Y' pairs, type-ahead
prefixes, single and multi-word queries, with repeats. Every answer must
equal the answer of a fresh executor over a fresh reader and the
kernel's (rank, and score to rtol 1e-5), on one segment and on main +
two deltas with a tombstone in each segment (there the kernel's
surviving hits lead the answer, the perfbench ingest rule). A failure
names the seed.
"""

from __future__ import annotations

import random

import pytest

from infidex_spark.kernel.engine import KernelIndex
from infidex_spark.query.executor import IndexReader, MultiReader, QueryExecutor
from tests.conftest import BATCH3, REFERENCE_DOCS, TWO_DELTA_DELETED

SEED = 1011
N_QUERIES = 200


def _typo(rng: random.Random, w: str) -> str:
    i = rng.randrange(len(w))
    c = rng.choice("abcdefghijklmnopqrstuvwxyz")
    edit = rng.randrange(4)
    if edit == 0:
        return w[:i] + c + w[i + 1 :]
    if edit == 1:
        return w[:i] + w[i + 1 :]
    if edit == 2:
        return w[:i] + c + w[i:]
    i = min(i, len(w) - 2)
    return w[:i] + w[i + 1] + w[i] + w[i + 2 :]


def query_stream(seed: int, docs, n: int) -> list[tuple[str, int]]:
    """(query, k) pairs; about a third repeat an earlier query."""
    rng = random.Random(seed)
    words = sorted({w.strip(",.").lower() for _, t in docs for w in t.split()} - {""})
    long_words = [w for w in words if len(w) >= 4]
    out: list[tuple[str, int]] = []
    while len(out) < n:
        if out and rng.random() < 0.35:
            out.append(rng.choice(out))
            continue
        kind = rng.randrange(6)
        w, v = rng.choice(words), rng.choice(words)
        if kind == 0:
            q = _typo(rng, rng.choice(long_words))
            if rng.random() < 0.3:
                q += " " + v
        elif kind == 1:
            q = w[: rng.randint(1, 3)] if rng.random() < 0.8 else rng.choice("abcxyz")
        elif kind == 2:
            q = f"{w[: rng.randint(1, 2)]} {v[:1]}"
        elif kind == 3:
            q = f"{w} {v[: rng.randint(2, 4)]}"
        elif kind == 4:
            q = w
        else:
            q = " ".join(rng.sample(words, rng.randint(2, 3)))
        out.append((q, rng.choice((1, 5, 10))))
    return out


@pytest.mark.parametrize("case", ["one_segment", "two_deltas"])
def test_long_lived_executor_matches_fresh_and_kernel(case, built, two_delta_index):
    if case == "one_segment":
        index, reader_cls, docs, deleted = built, IndexReader, REFERENCE_DOCS, ()
    else:
        index, reader_cls = two_delta_index, MultiReader
        docs, deleted = REFERENCE_DOCS + BATCH3, TWO_DELTA_DELETED
    kernel = KernelIndex()
    kernel.index_documents(docs)
    reader = reader_cls(index)
    reader.prewarm_postings_meta()
    long_lived = QueryExecutor(reader)
    try:
        for n, (q, k) in enumerate(query_stream(SEED, docs, N_QUERIES)):
            ctx = f"seed={SEED} query #{n} {q!r} k={k} on {case}"
            got = long_lived.search(q, k)
            fresh = QueryExecutor(reader_cls(index)).search(q, k)
            assert got == fresh, (ctx, got, fresh)
            # the kernel has no tombstones, and candidate selection
            # depends on k: its surviving top-k hits must lead the
            # answer, which equals its top k when none was deleted
            full = kernel.search(q, k)
            want = [(d, s) for d, s in full if d not in deleted]
            assert len(got) >= len(want), (ctx, got, want)
            lead = got if len(want) == len(full) else got[: len(want)]
            assert [d for d, _ in lead] == [d for d, _ in want], (ctx, got, want)
            for (_, gs), (_, ws) in zip(lead, want):
                assert gs == pytest.approx(ws, rel=1e-5), (ctx, got, want)
    finally:
        reader.close()
