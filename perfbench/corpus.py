"""Seeded inputs: the base corpus, ingest batches and query streams.

The base corpus and the ingest batches are pure functions of
``CORPUS_SEED`` so that the Spark base index and the kernel oracle (also
after the ingest batch) are built once per checkout (see fixture.py). What the engine is asked at run time -- which queries, in
which order, and which keys are deleted -- comes from the run's
``--seed``.
"""

from __future__ import annotations

import numpy as np

CORPUS_SEED = 20251017
BASE_DOCS = 20_000
BATCH_DOCS = 1_000
KEY_STRIDE = 7  # doc_key = KEY0 + KEY_STRIDE * doc_id: keys never equal ids
KEY0 = 1_000_000
# Share of the BM25 stream that repeats a small hot set. No measured query
# log backs it; it is an assumption. search_p50_ms is taken over the fresh
# queries only, so this share shapes the cache state they meet, not the
# metric's mix of hits and misses.
HOT = 16
HOT_SHARE = 0.5

# The corpus follows the shape FIXTURES.md section 1 asks of webtext: a
# Zipfian vocabulary and ~10% of rows with Czech diacritics. The vocabulary
# size (~6 000 words) and the Zipf exponent (1.05) are assumptions, chosen
# so that the index has a long tail of rare terms as web text does.
# infidex_spark.webtext draws from 158 words (132 English, 26 Czech); over 20k pages every one of
# them is a hot term, which leaves the term dictionary, prefix and fuzzy
# tables and WAND's skipping over rare terms next to no work.
#
# Zipf head: real function words, so multi-term queries carry stop words
# and hot postings lists exist (the engine's stop/WAND paths key off them).
_FUNCTION_WORDS = (
    "the of and to in a is that for it was on are as with be at by this "
    "have from or had not but what all were when we there can an your which "
    "their said if do will each about how up out them then she many some so"
).split()
# Czech words keep the diacritics-folding path busy (normalize()).
_CS_WORDS = (
    "příliš žluťoučký kůň úpěl ďábelské ódy mateřská škola březnice praha "
    "gymnázium základní umělecká čeština řeka hora město vesnice národní "
    "knihovna divadlo muzeum zámek hrad náměstí ulice třebíč"
).split()
# English-like word lengths (mean ~6 letters): short syllables, 1-3 each
_ONSETS = "b c d f g h j k l m n p r s t v w z b d l m n r s t br st tr ch".split()
_VOWELS = "a e i o u a e i o ea".split()
_CODAS = ["", "", "", "", "n", "r", "s", "t", "l", "nd"]
_N_SYNTH = 6000


def vocabulary() -> list[str]:
    """Function words, then seeded synthetic words, then Czech words,
    in Zipf rank order."""
    rng = np.random.default_rng(CORPUS_SEED)
    seen = set(_FUNCTION_WORDS) | set(_CS_WORDS)
    synth: list[str] = []
    while len(synth) < _N_SYNTH:
        n_syl = int(rng.choice([1, 2, 3], p=[0.2, 0.55, 0.25]))
        w = "".join(
            _ONSETS[rng.integers(len(_ONSETS))]
            + _VOWELS[rng.integers(len(_VOWELS))]
            + _CODAS[rng.integers(len(_CODAS))]
            for _ in range(n_syl)
        )
        if w not in seen:
            seen.add(w)
            synth.append(w)
    # interleave the Czech words into the mid ranks so ~every tenth
    # document carries diacritics
    words = list(_FUNCTION_WORDS) + synth
    for i, w in enumerate(_CS_WORDS):
        words.insert(80 + 40 * i, w)
    return words


_VOCAB = vocabulary()
_P = 1.0 / np.arange(1, len(_VOCAB) + 1) ** 1.05
_P /= _P.sum()


def _texts(rng: np.random.Generator, n: int) -> list[str]:
    vocab = np.array(_VOCAB)
    lens = rng.integers(30, 120, size=n)
    words = vocab[rng.choice(len(vocab), size=int(lens.sum()), p=_P)]
    ends = np.cumsum(lens)
    return [" ".join(words[e - ln : e]) for e, ln in zip(ends, lens)]


def base_docs() -> list[tuple[int, str]]:
    """(doc_key, text) of the base corpus; position = doc_id."""
    rng = np.random.default_rng(CORPUS_SEED + 1)
    texts = _texts(rng, BASE_DOCS)
    return [(KEY0 + KEY_STRIDE * i, t) for i, t in enumerate(texts)]


def batch_docs() -> tuple[list[tuple[int, str]], str]:
    """The ingest batch, its doc ids continuing the base corpus and its
    keys ascending (so append_delta's doc_key-ordered id assignment equals
    list order), and a probe query that only its marked documents match."""
    rng = np.random.default_rng([CORPUS_SEED, 0, 7])
    first_id = BASE_DOCS
    texts = _texts(rng, BATCH_DOCS)
    marker = "zx" + "".join(rng.choice(list("qkvjwy"), size=6))
    for j in rng.choice(BATCH_DOCS, size=5, replace=False):
        texts[j] = f"{marker} {texts[j]}"
    docs = [(KEY0 + KEY_STRIDE * (first_id + i), t) for i, t in enumerate(texts)]
    return docs, marker


def _typo(rng: np.random.Generator, w: str) -> str:
    i = int(rng.integers(1, len(w) - 1))
    op = int(rng.integers(3))
    if op == 0:  # substitution
        return w[:i] + "aeiourstn"[rng.integers(9)] + w[i + 1 :]
    if op == 1:  # deletion
        return w[:i] + w[i + 1 :]
    return w[: i - 1] + w[i] + w[i - 1] + w[i + 1 :]  # transposition


# Query kinds, weighted by how often each occurs in the reference query set
# (FIXTURES.md section 5): single "Shawshank", "batman"; typo "Shaaawshank",
# "Shaa awashank", "qick fux"; multi "redemption shank", "quick fox";
# prefix "redemption sh"; short "f", "fo", "two fo". That set has no
# diacritic query; those get weight 1, about the ~10% share of Czech rows
# that FIXTURES.md section 1 gives the webtext corpus.
QUERY_KINDS = {"single": 2, "typo": 3, "multi": 2, "prefix": 1, "short": 3, "diacritics": 1}


def query_pool(n: int, seed: int, rerank: bool = False) -> list[str]:
    """Distinct queries drawn from base documents, of the QUERY_KINDS
    (the rerank pool has no 1-3 character short queries)."""
    rng = np.random.default_rng([seed, 11, int(rerank)])
    docs = base_docs()
    kinds = list(QUERY_KINDS)
    weights = [QUERY_KINDS[k] for k in kinds]
    if rerank:
        kinds.remove("short")
        weights = [QUERY_KINDS[k] for k in kinds]
    weights = np.array(weights) / sum(weights)
    out: list[str] = []
    seen: set[str] = set()
    while len(out) < n:
        words = docs[int(rng.integers(len(docs)))][1].split()
        kind = kinds[int(rng.choice(len(kinds), p=weights))]
        content = [w for w in words if w not in _FUNCTION_WORDS]
        if not content:
            continue
        w = content[int(rng.integers(len(content)))]
        if kind == "single":
            q = w
        elif kind == "multi":
            i = int(rng.integers(max(1, len(words) - 3)))
            q = " ".join(words[i : i + int(rng.integers(2, 4))])
        elif kind == "typo":
            q = _typo(rng, w) if len(w) >= 5 else w
            if rng.random() < 0.4:
                q += " " + content[int(rng.integers(len(content)))]
        elif kind == "prefix":
            q = content[int(rng.integers(len(content)))] + " " + w[: int(rng.integers(2, 5))]
        elif kind == "diacritics":
            q = _CS_WORDS[int(rng.integers(len(_CS_WORDS)))]
            if rng.random() < 0.5:
                import unicodedata

                q = "".join(
                    c for c in unicodedata.normalize("NFD", q)
                    if unicodedata.category(c) != "Mn"
                )
        else:  # short
            q = w[: int(rng.integers(1, 4))]
        if q not in seen:
            seen.add(q)
            out.append(q)
    return out


class QueryStream:
    """Seeded closed-loop stream over a query pool: HOT_SHARE of the
    operations repeat a hot set of HOT queries (served from the per-reader
    caches), the rest walk a seeded permutation of the pool (cache misses
    until it wraps). ``next()`` returns the query and whether it is hot."""

    def __init__(self, pool: list[str], seed: int):
        self.rng = np.random.default_rng([seed, 23, len(pool)])
        order = self.rng.permutation(len(pool))
        self.hot = [pool[i] for i in order[:HOT]]
        self.fresh = [pool[i] for i in order[HOT:]]
        self.i = 0

    def next(self) -> tuple[str, bool]:
        if self.rng.random() < HOT_SHARE:
            return self.hot[int(self.rng.integers(len(self.hot)))], True
        q = self.fresh[self.i % len(self.fresh)]
        self.i += 1
        return q, False
