"""The analyzer: one tokenizer spec, three identical implementations.

The reference's ES mapping declares `text`-typed fields, which ES analyzes
with its standard tokenizer + lowercase filter before indexing/BM25 scoring
(reference: internal/setup/assets/picdexer.json:7-15 and the `_score` field in
internal/setup/assets/kibana.ndjson:1). Our analyzer is the ASCII-alnum
equivalent, pinned so that the Spark build path, the pure-Python oracle, and
the DuckDB oracle SQL produce byte-identical token streams:

    tokens(text) = all matches of [a-z0-9]+ over lower(text)

- Spark (JVM, codegen): ``filter(split(lower(col), '[^a-z0-9]+'), x -> x != '')``
  — equivalent to the findall form (split consumes maximal separator runs,
  leaving exactly the maximal alnum runs plus possible empty head/tail
  entries, which the filter drops; empty text -> ['']->[]), chosen because
  Spark's regexp_extract_all measured 4-8x slower than split on the same
  corpus.
- Python oracle:        ``re.findall('[a-z0-9]+', text.lower())``
- DuckDB oracle SQL:    ``regexp_extract_all(lower(text), '[a-z0-9]+')``

Keeping the tokenizer JVM-side (not a UDF) keeps the hot build path inside
whole-stage codegen; only posting-block encoding drops to Arrow UDFs.
"""

from __future__ import annotations

import re
from collections import Counter

from pyspark.sql import Column
from pyspark.sql import functions as F

#: the single tokenizer regex — shared verbatim by all three engines
TOKEN_PATTERN = "[a-z0-9]+"
#: complement form used by the (faster) Spark split tokenizer
SEPARATOR_PATTERN = "[^a-z0-9]+"

_TOKEN_RE = re.compile(TOKEN_PATTERN)


def tokenize_py(text: str) -> list[str]:
    """Pure-Python tokenizer (the oracle's analyzer)."""
    if not text:
        return []
    return _TOKEN_RE.findall(text.lower())


def term_freqs_py(text: str) -> dict[str, int]:
    """Per-document term frequencies, oracle side."""
    return dict(Counter(tokenize_py(text)))


def tokens_col(col: Column | str) -> Column:
    """Spark tokenizer column: array<string> of tokens, JVM-side."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(
        F.split(F.lower(c), SEPARATOR_PATTERN), lambda x: x != F.lit("")
    )
