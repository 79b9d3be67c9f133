"""Coverage/fusion rerank over the on-disk Spark index — the executor
counterpart of kernel.engine.FullSearch (same pipeline: stage-1 BM25 ->
WordMatcher lookup -> per-candidate LCS + coverage features + fusion ->
consolidation -> truncation -> TF-IDF safety net).

Candidate texts come from the index's memory-mapped doc store
(doc_store.arrow, a positional take — candidates are <= coverage_depth
+ WordMatcher docs); word-level IDF and the WordMatcher vocabulary come from the words
table (loaded in memory below a size cap; affix/LD1 word scans are
skipped above it, matching how hot structures degrade elsewhere).
"""

from __future__ import annotations

import numpy as np

from infidex_spark.kernel.bm25 import compute_idf, compute_idf_array
from infidex_spark.kernel.coverage.batch import BatchCoverage
from infidex_spark.kernel.coverage.config import CoverageConfig
from infidex_spark.kernel.coverage.engine import CoverageEngine
from infidex_spark.kernel.coverage.fusion_scorer import fusion_calculate_batch
from infidex_spark.kernel.coverage.metrics import lcs_tolerant
from infidex_spark.kernel.normalize import normalize
from infidex_spark.kernel.tokenize import word_tokens
from infidex_spark.query.executor import IndexReader, QueryExecutor

WORD_VOCAB_CAP = 2_000_000


class DiskAffixVocab:
    """AffixVocab interface backed by the reader's sorted word tables
    (words / words_rev / word_variants) — used when the vocabulary
    exceeds WORD_VOCAB_CAP, so affix and LD1 lookups degrade to bounded
    disk range scans instead of disappearing (closes the round-1
    behavioral cliff). Same per-query-word 4096 budget and len >= 3 affix
    rule as the in-memory AffixVocab (results are parity-tested equal)."""

    def __init__(self, reader):
        self.r = reader
        self._cache: dict[tuple, list[str]] = {}

    def affix_terms(self, w: str) -> list[str]:
        from infidex_spark.kernel.coverage.vocab import MAX_AFFIX_TERMS_PER_QUERY

        key = ("a", w)
        got = self._cache.get(key)
        if got is None:
            budget = MAX_AFFIX_TERMS_PER_QUERY
            # min_len=3 runs INSIDE the scan (the in-memory AffixVocab
            # filters short words at construction, before any slicing),
            # so len<3 words sorting early in a range never eat budget
            # and the disk path stays parity-equal at the boundary
            pre = self.r.words_with_prefix(w, budget + 1, min_len=3) or []
            pre = [x for x in pre if x != w][:budget]
            remaining = budget - len(pre)
            suf: list[str] = []
            if remaining > 0:
                suf = self.r.words_with_suffix(w, remaining + 1, min_len=3) or []
                suf = [x for x in suf if x != w][:remaining]
            got = pre + suf
            if len(self._cache) >= 10_000:
                self._cache.clear()
            self._cache[key] = got
        return got

    def ld1(self, w: str) -> list[str]:
        key = ("l", w)
        got = self._cache.get(key)
        if got is None:
            got = self.r.word_variant_words(w) or []
            if len(self._cache) >= 10_000:
                self._cache.clear()
            self._cache[key] = got
        return got


class _LazyWordIdf:
    """dict-like word-level IDF lookup backed by point df fetches on the
    words table (B4 above the in-memory cap)."""

    _MISS = object()

    def __init__(self, reader, total_docs: int):
        self.r = reader
        self.n = total_docs
        self._cache: dict[str, float | None] = {}

    def get(self, w: str, default: float = 0.0) -> float:
        v = self._cache.get(w, self._MISS)
        if v is self._MISS:
            df = self.r.word_dfs([w]).get(w, 0)
            v = float(compute_idf(self.n, df)) if 0 < df <= self.n else None
            if len(self._cache) >= 100_000:
                self._cache.clear()
            self._cache[w] = v
        return v if v is not None else default


class RerankExecutor:
    def __init__(
        self,
        reader: IndexReader,
        setup: CoverageConfig | None = None,
        word_vocab_cap: int = WORD_VOCAB_CAP,
    ):
        self.r = reader
        self.setup = setup or CoverageConfig()
        # cross-candidate batch coverage (kernel/coverage/batch.py):
        # bit-identical to the kernel's scalar cascade, vectorized per
        # unique word
        self.batch = BatchCoverage(self.setup)
        self.stage1 = QueryExecutor(reader)
        # store-open prewarm: the point readers' term dictionaries load
        # here, not on the first query
        reader.prewarm_postings_meta()
        self.word_vocab_degraded = False
        self._words = reader.word_df_map(word_vocab_cap)
        n = reader.total_docs
        word_idf = None
        if self._words is not None:
            # one array expression: a compute_idf call per word cost
            # ~24 ms per open at 6k words
            words = np.array(list(self._words), dtype=object)
            dfs = np.fromiter(self._words.values(), dtype=np.int64, count=words.size)
            keep = (dfs > 0) & (dfs <= n)
            word_idf = dict(zip(words[keep].tolist(), compute_idf_array(n, dfs[keep]).tolist()))
            from infidex_spark.kernel.coverage.vocab import AffixVocab

            self._affix_vocab = AffixVocab(self._words)
        elif (
            reader.words_with_prefix("￿", 1) is not None
            and reader.word_variant_words("￿") is not None
        ):
            # vocabulary above the in-memory cap but the sorted word
            # tables exist: affix/LD1/word-IDF run as bounded disk range
            # scans instead of disappearing
            self._affix_vocab = DiskAffixVocab(reader)
            word_idf = _LazyWordIdf(reader, n)
        else:
            self._affix_vocab = None
            # signal the quality degradation instead of silently
            # disabling word-level IDF / LD1 / affix lookups
            self.word_vocab_degraded = True
            import warnings

            warnings.warn(
                "word vocabulary unavailable (no words/word_variants "
                "tables); word-level IDF, LD1 and affix lookups are "
                "disabled for this reader",
                RuntimeWarning,
                stacklevel=2,
            )
        self._df_cache: dict[str, int] = {}
        # per-doc text cache (the reference keeps documents in memory;
        # this is the bounded point-read analogue)
        self._doc_cache: dict[int, str] = {}
        self.DOC_CACHE_CAP = 1_000_000
        self.engine = CoverageEngine(
            setup=self.setup,
            sizes=reader.sizes,
            term_df=self._term_df,
            total_docs=n,
            word_idf=word_idf,
        )

    def _term_df(self, term: str) -> int:
        if term not in self._df_cache:
            got = self.r.fetch_terms([term])
            self._df_cache[term] = got[term].df if term in got else 0
        return self._df_cache[term]

    def _prefetch_term_dfs(self, q: str) -> None:
        """One batched fetch for every n-gram the coverage engine's
        per-token IDF will probe (CoverageEngine._term_idf) — the cold
        path previously paid one parquet point scan PER GRAM."""
        from infidex_spark.kernel.coverage.state import tokenize_coverage

        tokens, _ = tokenize_coverage(q, self.setup.min_word_size)
        grams: set[str] = set()
        for t in tokens:
            for size in self.r.sizes:
                if len(t.text) >= size:
                    grams.update(
                        t.text[i : i + size]
                        for i in range(len(t.text) - size + 1)
                    )
        missing = [g for g in grams if g not in self._df_cache]
        if not missing:
            return
        got = self.r.fetch_terms(missing)
        for g in missing:
            tp = got.get(g)
            self._df_cache[g] = tp.df if tp is not None else 0

    def _doc_texts(self, doc_ids: list[int]) -> dict[int, str]:
        """Texts for doc_ids through the per-doc cache; only cache misses
        hit parquet (single isin pushdown)."""
        cache = self._doc_cache
        missing = [i for i in doc_ids if i not in cache]
        if missing:
            got = self.r.doc_texts(missing)
            if len(cache) + len(got) > self.DOC_CACHE_CAP:
                cache.clear()
            cache.update(got)
        return {i: cache[i] for i in doc_ids if i in cache}

    def _word_matcher_docs(self, q: str) -> np.ndarray:
        """WordMatcher candidate docs (exact ∪ LD1 ∪ affix) for the query
        words, served from the dedicated wm_words word-postings table
        (len >= 2 words, NO df cutoff — WordMatcher.cs keeps its indexes
        independent of gram stop demotion, so len-2 words and stop words
        still match). aux=False builds have no such table and fall back
        to term postings, where stop-demoted words contribute no
        candidates (documented delta)."""
        probe_terms: set[str] = set()
        vocab = self._affix_vocab
        for w in set(word_tokens(q, min_size=2)):
            if len(w) <= 8:
                probe_terms.add(w)
                if len(w) >= 3 and vocab is not None:
                    probe_terms.update(vocab.ld1(w))
            if self.setup.cover_prefix_suffix and vocab is not None:
                # shared 4096-term budget per query word (WordMatcher.cs:41)
                probe_terms.update(vocab.affix_terms(w))
        wm = self.r.wm_word_docs(sorted(probe_terms))
        if wm is not None:
            # dedicated word-level postings: no df cutoff (reference
            # WordMatcher semantics — stop words and len-2 words match)
            arrs = [np.asarray(ids, dtype=np.int64) for ids in wm.values()]
        else:
            # aux=False builds without wm_words: words >= min gram size
            # are index terms; stop-demoted terms have no stored postings
            fetched = self.r.fetch_terms(sorted(probe_terms))
            arrs = [
                np.asarray(tp.doc_ids, dtype=np.int64)
                for tp in fetched.values()
                if 0 < tp.df <= self.r.stop_term_limit
            ]
        if not arrs:
            return np.zeros(0, dtype=np.int64)
        cat = np.concatenate(arrs) if len(arrs) > 1 else arrs[0]
        # per-word lists are sorted, so the concatenation is a sequence
        # of ascending runs — the stable sort (timsort) merges them in
        # near-linear time; the run-dedup replaces np.unique's extra
        # flatten copy (stop-word unions reach ~corpus size at 1M docs)
        cat = np.sort(cat, kind="stable")
        if cat.size > 1:
            keep = np.empty(cat.size, dtype=bool)
            keep[0] = True
            np.not_equal(cat[1:], cat[:-1], out=keep[1:])
            cat = cat[keep]
        return cat

    def _lexical_prescreen(
        self, q: str, s1: list[tuple[int, float]]
    ) -> list[tuple[int, float]]:
        """E1 — executor port of Scoring/LexicalPrescreen.cs:18-87 (see
        the kernel docstring). Stop terms count as known-but-empty (the
        reference keeps them as df=-1 tombstones); unknown words skip the
        prescreen entirely."""
        from infidex_spark.kernel.coverage.state import tokenize_coverage

        tokens, _ = tokenize_coverage(q, self.setup.min_word_size)
        if not tokens:
            return s1
        words = [t.text for t in tokens]
        fetched = self.r.fetch_terms(sorted(set(words)))
        union: set[int] = set()
        for w in set(words):
            tp = fetched.get(w)
            if tp is None:
                if w in self.r.stop_terms:
                    continue  # known term, postings tombstoned: adds none
                return s1  # unknown word: skip prescreen (typo case)
            union.update(int(d) for d in tp.doc_ids)
        if not union:
            return s1
        ids_by_key = self.r.ids_for_keys([d for d, _ in s1])
        # a key survives if ANY of its internal ids (any segment of the
        # doc) carries a query word — a re-ingested doc whose newer
        # segment contains the word must not be dropped
        filtered = [
            (key, s)
            for key, s in s1
            if any(i in union for i in ids_by_key.get(key, ()))
        ]
        return filtered if filtered else s1

    def search(self, query: str, k: int = 10) -> list[tuple[int, float, int]]:
        q = normalize(query.strip()).lower()
        syn = self.r.synonym_map
        if syn is not None and syn.has_mappings:
            q = syn.canonicalize_text(q)
        if not q or self.r.total_docs == 0:
            return []
        min_size = self.r.sizes[0]
        words = word_tokens(q, min_size=1)
        long_words = [w for w in words if len(w) >= min_size]
        can_ngrams = bool(long_words) if words else len(q) >= min_size
        depth = self.setup.coverage_depth
        if not can_ngrams:
            s1 = self.stage1.search(q, k)
            # SearchPipeline.cs:110-160: coverage runs for a short query
            # (<= 3 chars, no delimiters) only when stage-1 found fewer
            # than maxResults AND the prefix matches 1..500 docs
            from infidex_spark.kernel.engine import (
                SHORT_QUERY_COVERAGE_DOC_CAP,
                SHORT_QUERY_MAX_LENGTH,
                _QUERY_DELIMS,
            )

            is_short = len(q) <= SHORT_QUERY_MAX_LENGTH and not any(
                c in _QUERY_DELIMS for c in q
            )
            if not is_short or len(s1) >= k:
                return [(d, s, 0) for d, s in s1[:k]]
            count = self.r.prefix_count(q)
            if count == 0 or count > SHORT_QUERY_COVERAGE_DOC_CAP:
                return [(d, s, 0) for d, s in s1[:k]]
        else:
            s1 = self.stage1.search(q, depth)
        if self.setup.enable_lexical_prescreen and s1:
            s1 = self._lexical_prescreen(q, s1)
        max_tfidf = s1[0][1] if s1 else 1.0

        self._prefetch_term_dfs(q)
        ctx = self.engine.prepare_query(q)
        tol = 0
        if len(q) >= self.setup.coverage_q_limit_for_error_tolerance:
            tol = int(len(q) * self.setup.coverage_lcs_error_tolerance_relative_q)

        wm_docs = ctx.get("wm_docs")
        if wm_docs is None:
            wm_docs = self._word_matcher_docs(q)
            ctx["wm_docs"] = wm_docs
        # stage-1 keys -> ALL internal ids sharing the key (bounded by
        # |s1| * segments-per-doc); overlap membership via this id set is
        # exactly "key_of(wm_id) in s1_keys" without fetching keys for the
        # full (potentially corpus-sized) WordMatcher doc set
        ids_by_key = self.r.ids_for_keys([d for d, _ in s1])
        s1_id_set = {i for ids in ids_by_key.values() for i in ids}
        # wm_docs ascends (sorted unique), so overlap/unique keep the
        # scalar loop's order; searchsorted membership replaces the
        # per-id set probes (wm_docs reaches ~corpus size on stop-word
        # queries at 1M docs)
        if len(wm_docs) and s1_id_set:
            s1_arr = np.fromiter(
                s1_id_set, dtype=np.int64, count=len(s1_id_set)
            )
            s1_arr.sort()
            pos = np.minimum(
                np.searchsorted(s1_arr, wm_docs), s1_arr.size - 1
            )
            hit = s1_arr[pos] == wm_docs
        else:
            hit = np.zeros(len(wm_docs), dtype=bool)
        wm_overlap = wm_docs[hit].tolist()
        wm_limit = max(0, depth - len(wm_overlap))
        wm_unique = wm_docs[~hit][:wm_limit].tolist()

        # keys + texts only for the <= 2*depth candidates actually
        # processed (VERDICT r1 #1: never point-fetch the full WM doc set)
        proc_ids = sorted(set(wm_overlap) | set(wm_unique))
        _, proc_keys = (
            self.r.doc_lengths(np.array(proc_ids, dtype=np.int64))
            if proc_ids
            else (None, np.zeros(0, dtype=np.int64))
        )
        key_of = dict(zip(proc_ids, proc_keys.tolist()))
        # soft deletes: tombstoned docs never reach the cascade
        tomb = self.r.tombstones
        if tomb:
            wm_overlap = [i for i in wm_overlap if key_of[i] not in tomb]
            wm_unique = [i for i in wm_unique if key_of[i] not in tomb]
        key_to_id = {key: ids[0] for key, ids in ids_by_key.items()}
        # per-query feature cache (lives in ctx, i.e. per query string):
        # repeated searches of a hot query replay candidate evaluation
        # from memory — the candidate set and processing order are
        # deterministic per query, so cached (feats, lcs, text) replays
        # produce bit-identical results
        ctx_feats: dict[int, tuple] = ctx.setdefault("feats_by_id", {})
        need_texts = {i for i in proc_ids if i not in ctx_feats}
        need_texts.update(
            i for i in key_to_id.values() if i not in ctx_feats
        )
        texts = self._doc_texts(sorted(need_texts))

        entries: list[tuple[float, int, int]] = []
        lcs_by_key: dict[int, int] = {}
        hits_by_key: dict[int, int] = {}
        max_word_hits = 0

        # candidates in process order: WordMatcher overlap, WordMatcher
        # unique, then stage-1 hits with their normalized BM25 base
        calls: list[tuple[int, int, float]] = [
            (i, key_of[i], 0.0) for i in wm_overlap
        ]
        calls += [(i, key_of[i], 0.0) for i in wm_unique]
        for key, score in s1:
            internal = key_to_id.get(key)
            if internal is not None:
                calls.append(
                    (internal, key, score / max_tfidf if max_tfidf > 0 else 0.0)
                )
        # compute every uncached candidate's features in one
        # cross-candidate pass. The per-key LCS values are resolved
        # first IN PROCESS ORDER (the first id seen for a key donates
        # its text), exactly as the kernel's scalar loop does.
        items: list[tuple[int, str, int]] = []
        queued: set[int] = set()
        for i, key, _b in calls:
            cached = ctx_feats.get(i)
            if cached is not None:
                if key not in lcs_by_key:
                    lcs_by_key[key] = cached[1]
                continue
            if i in queued:
                continue
            lcs = lcs_by_key.get(key)
            if lcs is None:
                lcs = min(lcs_tolerant(q, texts.get(i, ""), tol), 255)
                lcs_by_key[key] = lcs
            queued.add(i)
            items.append((i, texts.get(i, ""), lcs))
        if items:
            feats_map = self.batch.compute(self.engine, ctx, items)
            if len(ctx_feats) >= 100_000:
                # the fusion read below fetches ctx_feats[i] for every
                # candidate — re-seed the entries this query still
                # needs across the wipe or cached candidates KeyError
                keep = {i: ctx_feats[i] for i, _, _ in calls if i in ctx_feats}
                ctx_feats.clear()
                ctx_feats.update(keep)
            for i, text, lcs in items:
                ctx_feats[i] = (feats_map[i], lcs, text)
        # vectorized fusion over the whole candidate list (identical
        # per-element arithmetic; bit-parity-tested vs the kernel's
        # scalar fusion)
        if calls:
            trips = [ctx_feats[i] for i, _, _ in calls]
            scored = fusion_calculate_batch(
                len(q),
                [len(t[2]) for t in trips],
                [t[0] for t in trips],
                [b for _, _, b in calls],
            )
            for (_i, key, _b), (feats, _lcs, _text), (score, tie) in zip(
                calls, trips, scored
            ):
                if key not in hits_by_key:
                    hits_by_key[key] = min(feats.word_hits, 255)
                if feats.word_hits > max_word_hits:
                    max_word_hits = feats.word_hits
                entries.append((score, tie, key))

        if max_word_hits == 0 and len(wm_docs) == 0:
            return [(d, s, 0) for d, s in s1[:k]]

        entries.sort(key=lambda e: (-e[0], -e[1], e[2]))
        final: list[tuple[int, float, int]] = []
        seen: set[int] = set()
        for score, tie, key in entries:
            if key in seen:
                continue
            seen.add(key)
            final.append((key, score, tie))

        if self.setup.truncate and final:
            min_hits = max(
                self.setup.coverage_min_word_hits_abs,
                max_word_hits - self.setup.coverage_min_word_hits_relative,
            )
            trunc = -1
            for i in range(len(final) - 1, -1, -1):
                key = final[i][0]
                if (
                    hits_by_key.get(key, 0) >= min_hits
                    or lcs_by_key.get(key, 0) > 0
                    or final[i][1] >= self.setup.truncation_score
                ):
                    trunc = i
                    break
            count = k if trunc == -1 else min(trunc + 1, k)
            return final[:count]
        return final[:k]

