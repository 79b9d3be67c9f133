"""Coverage-stage foundations: metrics, tokenizer, matchers (E3/E4/E6)."""

import pytest

from infidex_spark.kernel.coverage import CoverageConfig, lcs_tolerant, damerau_restricted
from infidex_spark.kernel.coverage.matchers import (
    all_terms_fully_matched,
    match_fuzzy_words,
    match_joined_words,
    match_whole_words,
)
from infidex_spark.kernel.coverage.state import MatchState, tokenize_coverage


def _state(query: str, doc: str, min_word: int = 2) -> MatchState:
    q, _ = tokenize_coverage(query, min_word)
    d, raw = tokenize_coverage(doc, min_word)
    return MatchState(query_tokens=q, doc_tokens=d, doc_token_count=raw)


# ---------------------------------------------------------------- metrics


def test_lcs_tolerant_reference_examples():
    # examples documented in StringMetrics.cs comments
    assert lcs_tolerant("battamam", "batman", 1) == 4  # prefix 'bat'(3)+tol
    assert lcs_tolerant("speeding", "speeds", 1) == 6  # prefix 'speed'(5)+tol
    assert lcs_tolerant("abc", "xabcx", 0) == 3  # containment
    assert lcs_tolerant("abc", "abc", 5) == 3
    assert lcs_tolerant("xyz", "abc", 2) == 0
    assert lcs_tolerant("", "abc", 2) == 0
    # tolerance capped by shorter string
    assert lcs_tolerant("abcdef", "abc", 4) == 3


def test_damerau_restricted():
    assert damerau_restricted("abc", "abc", 2) == 0
    assert damerau_restricted("abc", "abd", 2) == 1
    # reference quirk: the swap repair only fires when plain Levenshtein
    # is exactly one over budget, so the result depends on the budget
    assert damerau_restricted("abcd", "abdc", 1) == 1  # swap repair fires
    assert damerau_restricted("abcd", "abdc", 2) == 2  # plain lev within budget
    assert damerau_restricted("ab", "ba", 1) == 1
    assert damerau_restricted("abc", "cab", 2) == 2
    assert damerau_restricted("abcdef", "xyzdef", 2) == 3  # over budget -> cap+1
    assert damerau_restricted("a", "abcde", 2) == 3  # length gap


def _full_levenshtein(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def test_banded_levenshtein_matches_full_dp():
    """The banded levenshtein keeps its contract against a plain full DP:
    exact when the distance is <= budget, else any value > budget. Random
    pairs over small alphabets (so distances spread around the budget),
    edited copies of long strings, and empty strings."""
    import random

    from infidex_spark.kernel.coverage.metrics import levenshtein

    rng = random.Random(20261018)

    def rand_str(n: int, alpha: str) -> str:
        return "".join(rng.choice(alpha) for _ in range(n))

    def edited(s: str, n_edits: int, alpha: str) -> str:
        t = list(s)
        for _ in range(n_edits):
            op = rng.randrange(3)
            pos = rng.randrange(len(t) + 1)
            if op == 0:
                t.insert(pos, rng.choice(alpha))
            elif t and op == 1:
                del t[min(pos, len(t) - 1)]
            elif t:
                t[min(pos, len(t) - 1)] = rng.choice(alpha)
        return "".join(t)

    cases = []
    for _ in range(3000):
        alpha = rng.choice(["ab", "abc", "abcdefgh", "aáčř"])
        a = rand_str(rng.randrange(0, 14), alpha)
        b = rand_str(rng.randrange(0, 14), alpha) if rng.random() < 0.5 else edited(a, rng.randrange(0, 5), alpha)
        cases.append((a, b))
    for _ in range(60):
        a = rand_str(rng.randrange(60, 300), "abcd")
        cases.append((a, edited(a, rng.randrange(0, 6), "abcd")))
    cases += [("", ""), ("", "abc"), ("abc", ""), ("a" * 500, "a" * 501)]
    for a, b in cases:
        full = _full_levenshtein(a, b)
        for budget in range(0, 7):
            got = levenshtein(a, b, budget)
            if full <= budget:
                assert got == full, (a, b, budget, got, full)
            else:
                assert got > budget, (a, b, budget, got, full)


def test_tokenizer_positions_and_dedupe():
    toks, raw = tokenize_coverage("the quick the fox", 2)
    assert [t.text for t in toks] == ["the", "quick", "fox"]
    assert [t.position for t in toks] == [0, 4, 14]
    assert raw == 4
    toks, _ = tokenize_coverage("a bb ccc", 2)
    assert [t.text for t in toks] == ["bb", "ccc"]  # min word size 2


# ---------------------------------------------------------------- matchers


def test_whole_word_match_and_penalty():
    st = _state("quick fox", "quick brown fox")
    match_whole_words(st)
    assert st.word_hits == 2
    # 'quick'(5) + phrase increment(1) + 'fox'(3) = 9
    assert st.num_whole == 9
    assert st.term_has_whole == [True, True]
    assert st.term_first_pos == [0, 12]
    # 'fox' is doc token 2, not 1 -> positional mismatch penalty
    assert st.penalty == 1
    assert all_terms_fully_matched(st)


def test_whole_word_exact_order_no_penalty():
    st = _state("quick fox", "quick fox runs")
    match_whole_words(st)
    assert st.penalty == 0


def test_joined_query_words():
    st = _state("new york", "newyork city")
    match_joined_words(st)
    assert st.word_hits == 2
    assert st.num_joined == 7
    assert st.term_has_joined == [True, True]
    assert not st.q_active[0] and not st.q_active[1]


def test_joined_doc_words():
    st = _state("newyork", "new york city")
    match_joined_words(st)
    assert st.word_hits == 1
    assert st.num_joined == 7
    assert st.term_matched_chars[0] == 7


def test_fuzzy_one_typo():
    setup = CoverageConfig()
    st = _state("qick", "the quick fox")
    match_fuzzy_words(st, setup)
    assert st.word_hits == 1
    assert st.term_matched_chars[0] == 3  # len 4 - dist 1
    assert st.num_fuzzy == 3


def test_fuzzy_two_typos_requires_length_7():
    setup = CoverageConfig()
    st = _state("batman", "bottmon")  # len 6, dist 2 -> NOT allowed
    match_fuzzy_words(st, setup)
    assert st.word_hits == 0
    st = _state("shawshank", "shawshonkx")  # len 9 >= 7 -> 2 typos allowed
    match_fuzzy_words(st, setup)
    assert st.word_hits == 1


def test_fuzzy_short_word_special_rule():
    setup = CoverageConfig()
    st = _state("te", "the cat")
    match_fuzzy_words(st, setup)
    assert st.word_hits == 1  # te -> the (first char matches)
    st = _state("at", "it is")
    match_fuzzy_words(st, setup)
    assert st.word_hits == 0  # first char must match for len-2


def test_fuzzy_distance_tiers_prefer_closer():
    setup = CoverageConfig()
    # both docs tokens: 'shawshank~' (dist1) should be taken before 'shawshonkx' (dist2)
    st = _state("shawshank", "shawshonkx shawshanks")
    match_fuzzy_words(st, setup)
    assert st.word_hits == 1
    assert st.term_matched_chars[0] == 8  # 9 - dist 1 (matched shawshanks)


def test_prefix_suffix_exact():
    from infidex_spark.kernel.coverage.matchers import match_prefix_suffix

    # prefix: full credit, marks TermHasPrefix
    st = _state("shaw", "shawshank redemption")
    match_prefix_suffix(st)
    assert st.word_hits == 1 and st.num_prefix_suffix == 4.0
    assert st.term_has_prefix[0]
    # suffix: half credit
    st = _state("shank", "shawshank")
    match_prefix_suffix(st)
    assert st.num_prefix_suffix == 2.0  # max(1, 5//2)
    assert not st.term_has_prefix[0]
    # contains (len>=4): 0.6x
    st = _state("awsh", "shawshank")
    match_prefix_suffix(st)
    assert st.num_prefix_suffix == pytest.approx(4 * 0.6)
    # query ends with doc token
    st = _state("megashark", "shark tales")
    match_prefix_suffix(st)
    assert st.num_prefix_suffix == 5.0


def test_prefix_suffix_fuzzy_prefix():
    from infidex_spark.kernel.coverage.matchers import match_prefix_suffix

    # 'shaaw' vs slices of 'shawshank': [:5]='shaws' dist 2, [:6] dist 2,
    # [:4]='shaw' dist 1 -> credit = qlen-1-dist = 3 (reference cascade)
    st = _state("shaaw", "shawshank")
    match_prefix_suffix(st)
    assert st.word_hits == 1
    assert st.term_matched_chars[0] == pytest.approx(3.0)
    # last query term may fuzzy-prefix at len >= 2
    st = _state("redemption sh", "the shawshank redemption")
    from infidex_spark.kernel.coverage.matchers import match_whole_words

    match_whole_words(st)
    match_prefix_suffix(st)
    assert st.term_matched_chars[1] > 0  # 'sh' type-ahead credit


def test_prefix_suffix_longest_first_order():
    from infidex_spark.kernel.coverage.matchers import match_prefix_suffix

    # longer query token gets first pick of doc tokens
    st = _state("shawsha sh", "shawshank shack")
    match_prefix_suffix(st)
    # 'shawsha' (len 7) claims 'shawshank'; 'sh' then claims 'shack'
    assert st.term_matched_chars[0] == 7.0
    assert st.term_matched_chars[1] == 2.0
