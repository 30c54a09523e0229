"""Pure-Python reference engine: tokenize -> dict postings -> BM25 loop.

Small, slow, obviously correct. This is the rank-identity oracle — it plays
the role Elasticsearch plays for the reference (picdexer's integration tests
assert against a mocked ES `_bulk`/`_search`, reference:
internal/elasticsearch/elasticsearch_test.go:46-121), and the role the golden
`picture.jpg` fixture plays for extraction (reference:
internal/metadata/metadata_test.go:301-334).

BM25 spec (pinned; identical in the Spark engine and the DuckDB oracle SQL):

    idf(t)      = ln(1 + (N - df + 0.5) / (df + 0.5))        # ES/Lucene idf
    score(t, d) = idf(t) * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))
    k1 = 1.2, b = 0.75                                        # ES defaults
    avgdl       = sum(dl) / N   (float64)
    query terms deduplicated; per-doc score = sum over UNIQUE terms in
    ASCENDING term order (pins float64 summation order for rank identity)
    tie-break   = score desc, doc_id asc
"""

from __future__ import annotations

import math

from picdexer_spark.functions.tokenize import term_freqs_py, tokenize_py

K1 = 1.2
B = 0.75


class OracleIndex:
    """In-memory inverted index + BM25 scorer over (doc_id, text) pairs."""

    def __init__(self, docs: list[tuple[int, str]]):
        self.postings: dict[str, dict[int, int]] = {}
        self.doc_len: dict[int, int] = {}
        self.tokens: dict[int, list[str]] = {}
        for doc_id, text in docs:
            toks = tokenize_py(text or "")
            self.tokens[doc_id] = toks
            tfs = term_freqs_py(text or "")
            self.doc_len[doc_id] = sum(tfs.values())
            for term, tf in tfs.items():
                self.postings.setdefault(term, {})[doc_id] = tf
        self.n_docs = len(self.doc_len)
        self.total_len = sum(self.doc_len.values())
        self.avgdl = self.total_len / self.n_docs if self.n_docs else 0.0

    def df(self, term: str) -> int:
        return len(self.postings.get(term, {}))

    def idf(self, term: str) -> float:
        df = self.df(term)
        return math.log(1.0 + (self.n_docs - df + 0.5) / (df + 0.5))

    def score_one(self, term: str, doc_id: int,
                  boost: float = 1.0) -> float:
        tf = self.postings.get(term, {}).get(doc_id)
        if not tf:
            return 0.0
        dl = self.doc_len[doc_id]
        # boost folds into idf FIRST (then * tf_norm) — the same float
        # op order as the engine's boosted idf_map (bm25._idf_map)
        bidf = self.idf(term) * boost if boost != 1.0 else self.idf(term)
        return (
            bidf
            * (tf * (K1 + 1.0))
            / (tf + K1 * (1.0 - B + B * dl / self.avgdl))
        )

    def search(
        self, terms: list[str], mode: str = "disjunctive", k: int = 10,
        msm: int = 1, boosts: dict[str, float] | None = None,
    ) -> list[tuple[int, float]]:
        """Top-k (doc_id, score); mode 'conjunctive' (AND) or 'disjunctive'
        (OR). `msm`: ES minimum_should_match on the disjunction — a doc
        needs >= msm matched terms; score stays the sum over ALL matched.
        `boosts`: per-term weight map (query_string `term^N`)."""
        uniq = sorted(set(terms))
        if not uniq:
            return []
        if mode == "conjunctive":
            cand: set[int] | None = None
            for t in uniq:
                docs = set(self.postings.get(t, {}))
                cand = docs if cand is None else cand & docs
                if not cand:
                    return []
            candidates = cand or set()
        elif mode == "disjunctive":
            candidates = set()
            for t in uniq:
                candidates |= set(self.postings.get(t, {}))
            if msm > 1:
                candidates = {
                    d for d in candidates
                    if sum(1 for t in uniq
                           if d in self.postings.get(t, {})) >= msm
                }
        else:
            raise ValueError(f"unknown mode {mode!r}")
        boosts = boosts or {}
        scored = []
        for d in candidates:
            s = 0.0
            for t in uniq:  # ascending term order — pinned summation order
                s += self.score_one(t, d, boosts.get(t, 1.0))
            scored.append((d, s))
        scored.sort(key=lambda x: (-x[1], x[0]))
        return scored[:k]

    def search_groups(self, groups: list[list[str]], k: int = 10
                      ) -> list[tuple[int, float]]:
        """CNF boolean oracle (Lucene MUST-of-SHOULD-groups, coord-less):
        a doc matches iff every group contributes >=1 present term; score
        = BM25 sum over ALL its matching terms, ascending term order."""
        gs = [sorted(set(g)) for g in groups if g]
        if not gs:
            return []
        cand: set[int] | None = None
        for g in gs:
            docs: set[int] = set()
            for t in g:
                docs |= set(self.postings.get(t, {}))
            cand = docs if cand is None else cand & docs
            if not cand:
                return []
        allt = sorted({t for g in gs for t in g})
        scored = []
        for d in cand:
            s = 0.0
            for t in allt:  # pinned ascending summation order
                s += self.score_one(t, d)
            scored.append((d, s))
        scored.sort(key=lambda x: (-x[1], x[0]))
        return scored[:k]

    def search_phrase(self, terms: list[str], k: int = 10, slop: int = 0
                      ) -> list[tuple[int, float]]:
        """Lucene match_phrase oracle, spec pinned for the engine:
        phrase_tf = exact-adjacency occurrence count (slop=0); score =
        (sum of idf over phrase term OCCURRENCES, duplicates counted) *
        ptf*(k1+1) / (ptf + k1*(1-b+b*dl/avgdl)); docs with ptf >= 1.

        slop > 0, TWO distinct terms: Lucene SloppyPhraseScorer semantics
        (out-of-order within the budget, 1/(1+spread) weight per match) —
        the DEFINITIONAL step-by-step greedy simulation over the two
        phrase-position streams pp_j = pos - j: advance-min with ties to
        the t0 stream, emitting whenever the spread fits. The engine's
        closed-form vectorized kernel must rank identically to this.

        slop > 0, m > 2 (or a repeated-term bigram): ORDERED sloppy match
        (the narrowed pinned contract, see wand.score_phrase) — a start p
        matches iff an increasing chain p < q_1 < ... < q_{m-1} exists
        with toks[q_j] == terms[j] and q_{m-1} <= p + (m-1) + slop;
        phrase_tf counts matching starts. Brute force here (try every
        chain greedily), numpy-free."""
        if not terms:
            return []
        m = len(terms)
        idf_sum = sum(self.idf(t) for t in terms)

        def sloppy2_freq(toks: list[str]) -> float:
            a = [i for i, t in enumerate(toks) if t == terms[0]]
            bb = [i - 1 for i, t in enumerate(toks) if t == terms[1]]
            i = j = 0
            freq = 0.0
            while i < len(a) and j < len(bb):
                spread = abs(a[i] - bb[j])
                if spread <= slop:
                    freq += 1.0 / (1.0 + spread)
                if a[i] <= bb[j]:
                    i += 1
                else:
                    j += 1
            return freq

        def start_matches(toks: list[str], p: int) -> bool:
            prev = p
            for j in range(1, m):
                nxt = None
                for q in range(prev + 1, min(p + j + slop, len(toks) - 1) + 1):
                    if toks[q] == terms[j]:
                        nxt = q
                        break
                if nxt is None:
                    return False
                prev = nxt
            return True

        scored = []
        for d, toks in self.tokens.items():
            if slop == 0:
                ptf = sum(
                    1 for i in range(len(toks) - m + 1)
                    if toks[i:i + m] == terms
                )
            elif m == 2 and terms[0] != terms[1]:
                ptf = sloppy2_freq(toks)
            else:
                ptf = sum(
                    1 for i in range(len(toks))
                    if toks[i] == terms[0] and start_matches(toks, i)
                )
            if ptf:
                dl = self.doc_len[d]
                s = (idf_sum * (ptf * (K1 + 1.0))
                     / (ptf + K1 * (1.0 - B + B * dl / self.avgdl)))
                scored.append((d, s))
        scored.sort(key=lambda x: (-x[1], x[0]))
        return scored[:k]

    def search_phrase_prefix(
        self, terms: list[str], k: int = 10, max_expansions: int = 50
    ) -> list[tuple[int, float]]:
        """ES match_phrase_prefix oracle (Lucene MultiPhrasePrefixQuery),
        spec pinned for the engine: the LAST entry of `terms` is the
        prefix STEM; it expands to the first `max_expansions` dictionary
        terms in TERM ORDER (the MultiPhrasePrefix rewrite — NOT
        df-ranked); phrase_tf = number of start positions where the
        fixed terms occur adjacently followed by ANY expansion; score =
        BM25 with idf_sum = sum of idf over the fixed occurrences plus
        ALL expansion terms (the MultiPhraseQuery summed-termStats
        weight)."""
        if not terms or not terms[-1]:
            return []
        fixed = terms[:-1]
        stem = terms[-1]
        alts = sorted(t for t in self.postings
                      if t.startswith(stem))[:max_expansions]
        if not alts:
            return []
        aset = set(alts)
        m = len(fixed) + 1
        idf_sum = (sum(self.idf(t) for t in fixed)
                   + sum(self.idf(a) for a in alts))
        scored = []
        for d, toks in self.tokens.items():
            ptf = sum(
                1 for i in range(len(toks) - m + 1)
                if toks[i:i + m - 1] == fixed and toks[i + m - 1] in aset
            )
            if ptf:
                dl = self.doc_len[d]
                s = (idf_sum * (ptf * (K1 + 1.0))
                     / (ptf + K1 * (1.0 - B + B * dl / self.avgdl)))
                scored.append((d, s))
        scored.sort(key=lambda x: (-x[1], x[0]))
        return scored[:k]
