"""Text-analysis column expressions for the training-data pipeline surface:
tokenization, SQL-native k-shingling, token counting, quality scoring,
language-ID heuristic, fingerprinting.

All pure Catalyst expressions (JVM-side) — each has an ANSI-SQL twin in
``__spark_entry__.oracle_sql`` so DuckDB can verify values bit-for-bit.
The pandas-UDF shingle path in operators/signatures.py is the *scale* path
(hashed shingles); these string-shingle expressions are the oracle-checkable
path, and the two agree on Jaccard modulo 64-bit hash collisions.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _to_col(c) -> Column:
    return F.col(c) if isinstance(c, str) else c


# Explicit ASCII whitespace class shared by all three tokenizer twins
# (kernels._WS_RE, this Java regex, the oracle's RE2 regex): Java \s includes
# \x0B while RE2's does not, so the class is spelled out rather than using \s.
WS_CLASS = r"[ \t\n\x0B\f\r]+"


def tokens(col) -> Column:
    """ASCII-whitespace tokens, empties dropped — mirrors kernels.tokenize
    and the DuckDB oracle ``list_filter(string_split_regex(text, WS), ...)``."""
    return F.filter(F.split(_to_col(col), WS_CLASS), lambda x: x != "")


def token_count(col) -> Column:
    return F.size(tokens(col))


def shingles_str(col, k: int) -> Column:
    """Distinct k-token shingles as strings (SQL-native, no UDF).

    Empty array when the document has fewer than k tokens (matching
    kernels.text_shingles' empty-signature contract)."""
    t = tokens(col)
    n = F.size(t)
    sh = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), n - F.lit(k) + 1),
            lambda i: F.array_join(F.slice(t, i, k), " "),
        )
    )
    return F.when(n >= k, sh).otherwise(F.array().cast("array<string>"))


# --- quality scoring -------------------------------------------------------

_STOPWORDS = ["the", "a", "an", "of", "to", "and", "in", "is", "it", "for"]


def stopword_ratio(col) -> Column:
    t = tokens(col)
    hits = F.size(F.filter(t, lambda x: x.isin(*_STOPWORDS)))
    return F.when(F.size(t) > 0, hits.cast("double") / F.size(t)).otherwise(F.lit(0.0))


def whitespace_ratio(col) -> Column:
    # explicit negated ASCII class, NOT [^\s]: Java \s includes \x0B while
    # RE2's does not, so the shared class keeps this twin byte-identical to
    # the DuckDB oracle on vertical-tab-bearing documents (round-2 ADVICE)
    c = _to_col(col)
    n = F.length(c)
    w = F.length(F.regexp_replace(c, r"[^ \t\n\x0B\f\r]", ""))
    return F.when(n > 0, w.cast("double") / n).otherwise(F.lit(0.0))


def mean_token_len(col) -> Column:
    t = tokens(col)
    total = F.aggregate(t, F.lit(0), lambda acc, x: acc + F.length(x))
    return F.when(F.size(t) > 0, total.cast("double") / F.size(t)).otherwise(F.lit(0.0))


# --- language-ID heuristic -------------------------------------------------

LANG_MARKERS: dict[str, list[str]] = {
    # deterministic marker-token lists; ordered dict = tie-break order
    "en": ["the", "a", "an", "of", "and", "is"],
    "de": ["der", "die", "das", "und", "ist", "ein"],
    "es": ["el", "la", "los", "las", "es", "una"],
    "fr": ["le", "la", "les", "et", "est", "une"],
}


def lang_scores(col) -> dict[str, Column]:
    t = F.array_distinct(tokens(col))
    return {
        lang: F.size(F.array_intersect(t, F.array(*[F.lit(m) for m in markers])))
        for lang, markers in LANG_MARKERS.items()
    }


def lang_id(col) -> Column:
    """argmax over marker-hit counts, first-lang-wins tie-break, 'und' when
    no marker hits at all. Deterministic; identical CASE chain in the
    DuckDB oracle."""
    scores = lang_scores(col)
    langs = list(LANG_MARKERS)
    # strictly-greater scan in lang order: earlier languages win ties
    result: Column = F.lit("und")
    running = F.lit(0)
    for lang in langs:
        s = scores[lang]
        result = F.when(s > running, F.lit(lang)).otherwise(result)
        running = F.greatest(running, s)
    return result


# --- fingerprinting --------------------------------------------------------

def fingerprint64(col, k: int = 4) -> Column:
    """Document fingerprint = min over xxhash64 of k-token shingles (a
    bottom-1 sketch; rolling-hash family). Hash function is Spark-native,
    so this operator gets a rows-only oracle."""
    sh = shingles_str(col, k)
    hashed = F.transform(sh, lambda s: F.xxhash64(s))
    return F.when(F.size(hashed) > 0, F.array_min(hashed)).otherwise(F.lit(None).cast("long"))
