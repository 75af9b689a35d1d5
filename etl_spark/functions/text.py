"""Text-analysis column functions for the training-data pipeline.

All pure JVM expressions (`pyspark.sql.functions` — whole-stage
codegen, no Python in the hot path). Each function returns a Column
and has an exact ANSI-SQL twin used by the DuckDB oracle in
`__spark_entry__.py`, so every metric is verifiable bit-for-bit.

The reference has no text analytics (transcript text passes through
untouched, /root/reference/src/pipeline/core/spark.py:108-121); these
are the operations a 100 TB training-data pipeline layers on top of
the CDC-maintained transcripts/documents tables.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

# Small deterministic stopword lists for the language-ID heuristic and
# quality scoring. Order matters for tie-breaking (en > es > zh).
EN_STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "that"]
ES_STOPWORDS = ["el", "la", "de", "y", "que", "en", "un", "es"]


def tokens(col: Column) -> Column:
    """Whitespace tokens of trimmed text (lowercased). Empty and
    whitespace-only text yields ZERO tokens: split('') returns ['']
    and Spark's trim strips only 0x20 (not tab/newline), so the naive
    form counted an empty doc as 1 token and a leading newline as an
    extra empty token — filter the empties out of the array."""
    arr = F.split(F.lower(col), r"\s+")
    return F.filter(arr, lambda t: t != F.lit(""))


def token_count(col: Column) -> Column:
    return F.size(tokens(col))


def char_count(col: Column) -> Column:
    return F.length(col)


def punct_count(col: Column) -> Column:
    """ASCII punctuation characters (Java \\p{Punct} == RE2 [:punct:])."""
    return F.length(col) - F.length(F.regexp_replace(col, r"\p{Punct}", ""))


def stopword_count(col: Column, stopwords: list[str] | None = None) -> Column:
    sw = stopwords or EN_STOPWORDS
    arr = F.array(*[F.lit(w) for w in sw])
    return F.size(F.filter(tokens(col), lambda t: F.array_contains(arr, t)))


def digit_count(col: Column) -> Column:
    return F.length(col) - F.length(F.regexp_replace(col, r"[0-9]", ""))


def cjk_count(col: Column) -> Column:
    """Characters in the CJK Unified Ideographs block."""
    return F.length(col) - F.length(F.regexp_replace(col, r"[一-鿿]", ""))


def lang_id(col: Column) -> Column:
    """N-gram/stopword language heuristic over {en, es, zh, und}.

    zh if any CJK chars; else the language whose stopword list hits the
    most tokens (ties and zero hits -> en before es; no hits -> und).
    Deterministic and exactly mirrored in SQL by the oracle.
    """
    en = stopword_count(col, EN_STOPWORDS)
    es = stopword_count(col, ES_STOPWORDS)
    return (
        F.when(cjk_count(col) > 0, F.lit("zh"))
        .when((en == 0) & (es == 0), F.lit("und"))
        .when(en >= es, F.lit("en"))
        .otherwise(F.lit("es"))
    )


def normalized_text(col: Column) -> Column:
    """Canonical form for fingerprinting: lower, trim, collapse runs of
    whitespace to single spaces."""
    return F.regexp_replace(F.lower(F.trim(col)), r"\s+", " ")


def fingerprint(col: Column) -> Column:
    """Deterministic 128-bit document fingerprint (hex md5 of the
    normalized text) — the exact-dedup and golden-diff key."""
    return F.md5(normalized_text(col))
