"""Shared match state + coverage tokenizer.

Port of Coverage/MatchState.cs and Coverage/CoverageTokenizer.cs. Texts
are pre-lowercased by the caller (the reference compares with
OrdinalIgnoreCase throughout; lowering once is equivalent for the corpora
this engine handles — documented delta for exotic case-fold pairs).

Token Position is the CHARACTER OFFSET of the token in its text (the
reference's CoverageTokenizer sets Position = currentPos).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from infidex_spark.kernel.tokenize import DELIMITERS

_DELIMS = frozenset(DELIMITERS)
_WORD_RE = re.compile("[^" + re.escape(DELIMITERS) + "]+")


@dataclass(slots=True)
class Token:
    text: str
    position: int  # char offset


def _raw_tokens(text: str, min_word_size: int) -> list[Token]:
    # regex scan (C speed) over non-delimiter runs; identical output to
    # the per-char loop (delimiter set is a fixed char class)
    if min_word_size <= 1:
        return [Token(m.group(), m.start()) for m in _WORD_RE.finditer(text)]
    return [
        Token(g, m.start())
        for m in _WORD_RE.finditer(text)
        if len(g := m.group()) >= min_word_size
    ]


def tokenize_coverage(
    text: str, min_word_size: int, dedupe: bool = True
) -> tuple[list[Token], int]:
    """(unique tokens in first-occurrence order, raw token count)."""
    raw = _raw_tokens(text, min_word_size)
    if not dedupe:
        return raw, len(raw)
    seen: set[str] = set()
    uniq: list[Token] = []
    for t in raw:
        if t.text not in seen:
            seen.add(t.text)
            uniq.append(t)
    return uniq, len(raw)


@dataclass
class MatchState:
    """Mutable state threaded through the matchers (MatchState.cs)."""

    query_tokens: list[Token]
    doc_tokens: list[Token]  # unique
    doc_token_count: int  # raw count
    q_active: list[bool] = field(default_factory=list)
    d_active: list[bool] = field(default_factory=list)
    term_matched_chars: list[float] = field(default_factory=list)
    term_max_chars: list[int] = field(default_factory=list)
    term_has_whole: list[bool] = field(default_factory=list)
    term_has_joined: list[bool] = field(default_factory=list)
    term_has_prefix: list[bool] = field(default_factory=list)
    term_first_pos: list[int] = field(default_factory=list)
    term_idf: list[float] = field(default_factory=list)
    memo: dict = field(default_factory=dict)  # per-query pair-metric memo
    # optional precomputed lookup structures (engine.doc_view /
    # prepare_query); matchers fall back to building them on demand
    d_index: dict | None = None  # doc token text -> index (unique)
    d_order_full: list | None = None  # all doc indexes, length-desc stable
    q_index: dict | None = None  # query token text -> index (unique)
    word_hits: int = 0
    num_whole: float = 0.0
    num_joined: float = 0.0
    num_fuzzy: float = 0.0
    num_prefix_suffix: float = 0.0
    penalty: int = 0

    def __post_init__(self) -> None:
        q = len(self.query_tokens)
        d = len(self.doc_tokens)
        self.q_active = [True] * q
        self.d_active = [True] * d
        self.term_matched_chars = [0.0] * q
        self.term_max_chars = [len(t.text) for t in self.query_tokens]
        self.term_has_whole = [False] * q
        self.term_has_joined = [False] * q
        self.term_has_prefix = [False] * q
        self.term_first_pos = [-1] * q
        self.term_idf = [0.0] * q
        # precomputed query-token length set (cheap precheck for the
        # doc-joined matcher: a doc bigram can only match a q token of
        # exactly the joined length)
        self.q_len_set = {len(t.text) for t in self.query_tokens}

    @property
    def q_count(self) -> int:
        return len(self.query_tokens)

    @property
    def d_count(self) -> int:
        return len(self.doc_tokens)
