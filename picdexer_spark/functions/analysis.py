"""Analyzer customization: stopword and synonym token filters.

The reference pins ES's DEFAULT analyzer (its mapping declares bare
`text` fields, internal/setup/assets/picdexer.json:7-15), so nothing in
the reference *requires* analysis config — but every real ES deployment
configures `analysis.filter` (stopwords, synonyms), and a search engine
without the layer can't host those indices. This module adds the two
standard token filters on top of the engine's pinned tokenizer
(functions/tokenize.py), with the same three-implementation discipline:
Spark JVM column, pure-Python oracle, DuckDB SQL — byte-identical.

Pinned semantics (divergences from ES documented here):

* **Stop filter** (Lucene `StopFilter`): removes stopword tokens at
  INDEX time but leaves POSITION GAPS — "the quick fox" with "the"
  stopped indexes quick@1 fox@2, so the phrase "quick fox" still
  requires adjacency and never matches across a removed stopword
  (Lucene's `enablePositionIncrements`, always-on since 4.4). Field
  length (the BM25 norm) counts KEPT tokens only, Lucene's norm
  contract. Implemented by REPLACING stopped tokens with NULL in the
  token array (ordinals preserved) and masking nulls inside the Arrow
  posting encoder.
* **Synonym filter** (Lucene `SynonymGraphFilter`, query-time): ES's
  own docs recommend query-time-only synonyms (index-time expansion
  inflates df and freezes the dictionary into the index). A query term
  belonging to an equivalence class scores as Lucene's `SynonymQuery`:
  ONE blended clause with tf = sum of member tfs in the doc and
  df = max member df — never a bool-OR of the members (that would
  double-count idf for docs containing several members). Only
  equivalence classes ("a, b, c") are supported; directed rules
  ("a => b") are refused, not guessed.

Stopword sets travel WITH the index (snapshots/<id>/analyzer.json):
an index built with a stop filter must be queried — and incrementally
appended — with the same one, or dfs/norms silently diverge.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

from picdexer_spark.functions.tokenize import TOKEN_PATTERN, tokens_col

#: Lucene's classic English stop set (EnglishAnalyzer.ENGLISH_STOP_WORDS_SET
#: — the 33 terms ES's `_english_` shorthand expands to; public Lucene API)
ENGLISH_STOPWORDS = (
    "a", "an", "and", "are", "as", "at", "be", "but", "by", "for", "if",
    "in", "into", "is", "it", "no", "not", "of", "on", "or", "such",
    "that", "the", "their", "then", "there", "these", "they", "this",
    "to", "was", "will", "with",
)

_TOKEN_RE = re.compile(TOKEN_PATTERN)


def normalize_stopwords(stopwords) -> tuple[str, ...]:
    """Canonical sorted-tuple form; accepts the ES `_english_` shorthand.
    Every entry must be a single analyzed token (a stopword the tokenizer
    would never emit could silently no-op — refused instead)."""
    if stopwords is None:
        return ()
    if isinstance(stopwords, str):
        if stopwords == "_english_":
            return ENGLISH_STOPWORDS
        raise ValueError(
            f"stopwords must be an iterable of terms or '_english_', "
            f"got {stopwords!r}")
    out = sorted(set(stopwords))
    for w in out:
        if _TOKEN_RE.fullmatch(w) is None:
            raise ValueError(
                f"stopword {w!r} is not a single analyzed token "
                f"(pattern {TOKEN_PATTERN})")
    return tuple(out)


def stopped_tokens_col(col: Column | str,
                       stopwords: tuple[str, ...]) -> Column:
    """Tokenize + stop filter, POSITION-PRESERVING: stopped slots become
    NULL (the Arrow posting encoder masks them; ordinals — Lucene
    positions with gaps — are the array indices). All JVM expressions,
    stays inside whole-stage codegen."""
    toks = tokens_col(col)
    if not stopwords:
        return toks
    stop_arr = F.array(*[F.lit(w) for w in stopwords])
    return F.transform(
        toks,
        lambda t: F.when(F.array_contains(stop_arr, t), F.lit(None))
        .otherwise(t),
    )


def kept_len_col(col: Column | str, stopwords: tuple[str, ...]) -> Column:
    """Field length AFTER the stop filter (the Lucene norm: stopped
    tokens don't count toward dl)."""
    if not stopwords:
        return F.size(tokens_col(col)).cast("long")
    return F.size(
        F.filter(stopped_tokens_col(col, stopwords),
                 lambda t: t.isNotNull())
    ).cast("long")


def analyze_py(text: str, stopwords: tuple[str, ...] = ()) -> list[str]:
    """Pure-Python analyzer mirror: kept tokens in order (query side —
    position gaps matter only index-side)."""
    if not text:
        return []
    stop = set(stopwords)
    return [t for t in _TOKEN_RE.findall(text.lower()) if t not in stop]


def synonym_classes(
    groups: list[list[str]] | None,
) -> dict[str, tuple[str, ...]]:
    """Equivalence-class map term -> its sorted class (incl. itself).

    Validates: every entry a single analyzed token; classes disjoint (a
    term in two classes is ambiguous — ES merges them transitively, we
    refuse so the config stays explicit); singleton classes refused
    (no-ops hide typos)."""
    out: dict[str, tuple[str, ...]] = {}
    for g in groups or []:
        cls = sorted(set(g))
        if len(cls) < 2:
            raise ValueError(f"synonym class {g!r} needs >= 2 distinct terms")
        for t in cls:
            if _TOKEN_RE.fullmatch(t) is None:
                raise ValueError(
                    f"synonym {t!r} is not a single analyzed token")
            if t in out:
                raise ValueError(
                    f"term {t!r} appears in two synonym classes — merge "
                    f"them explicitly")
            out[t] = tuple(cls)
    return out
