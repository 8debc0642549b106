"""Text-analytics column functions for training-data pipelines.

Token counting, quality scoring and stopword language identification
are pure native Column expressions (JVM-side, whole-stage codegen, and
reproducible 1:1 in the DuckDB oracle).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Compact stopword profiles (public common-word lists).
STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "for", "with", "was"],
    "de": ["der", "die", "das", "und", "nicht", "ist", "von", "mit", "den", "für"],
    "fr": ["le", "la", "les", "et", "de", "des", "un", "une", "est", "dans"],
    "es": ["el", "la", "los", "las", "de", "que", "y", "en", "un", "por"],
    "it": ["il", "la", "di", "che", "e", "un", "per", "con", "del", "sono"],
}


def token_count_col(text: Column) -> Column:
    "Whitespace token count (0 for empty/NULL-ish strings)."
    trimmed = F.trim(text)
    return F.when(F.length(trimmed) == 0, F.lit(0)).otherwise(
        F.size(F.split(trimmed, r"\s+"))
    )


def bpe_ish_token_count_col(text: Column) -> Column:
    """Sub-word-ish token count (a cheap BPE proxy for training-budget
    estimation): each maximal letter/digit run counts once, and every
    other non-whitespace character counts as its own token.

    Equivalent to splitting at every alnum/non-alnum boundary and
    dropping whitespace tokens, but computed as two native regex
    counts — no lookaround split, no array materialization, and no
    dependence on trim()'s space-only semantics (the earlier
    split-based form counted stray tabs/newlines as tokens).  The
    whitespace class is spelled out explicitly so the DuckDB oracle
    (RE2) and Spark (Java regex) agree byte-for-byte."""
    runs = F.regexp_count(text, F.lit(r"[\p{L}\p{N}]+"))
    symbols = F.length(F.regexp_replace(text, "[\\p{L}\\p{N} \t\n\r\f]", ""))
    return runs + symbols


def quality_features_cols(text: Column) -> list[Column]:
    "Length / punctuation / digit / stopword-ratio quality features."
    n_chars = F.length(text)
    n_alpha = F.length(F.regexp_replace(text, r"[^a-zA-Z]", ""))
    n_digit = F.length(F.regexp_replace(text, r"[^0-9]", ""))
    n_punct = F.length(F.regexp_replace(text, r"[^.,;:!?]", ""))
    tokens = token_count_col(text)
    safe_chars = F.greatest(n_chars, F.lit(1)).cast("double")
    return [
        n_chars.alias("n_chars"),
        tokens.alias("n_tokens"),
        (n_alpha / safe_chars).alias("alpha_ratio"),
        (n_digit / safe_chars).alias("digit_ratio"),
        (n_punct / safe_chars).alias("punct_ratio"),
        (n_chars.cast("double") / F.greatest(tokens, F.lit(1))).alias(
            "mean_token_len"
        ),
    ]


def stopword_hits_col(text: Column, lang: str) -> Column:
    "Count of language-stopword occurrences (word-bounded, native)."
    pattern = r"(?i)\b(" + "|".join(STOPWORDS[lang]) + r")\b"
    return F.regexp_count(text, F.lit(pattern))


def langid_score_cols(text: Column) -> list[Column]:
    "Per-language stopword-hit scores + native argmax language guess."
    scores = [stopword_hits_col(text, lang).alias(f"score_{lang}") for lang in STOPWORDS]
    return scores


def langid_best_col(text: Column) -> Column:
    "Native argmax over the stopword scores (ties -> first language)."
    pairs = F.array(
        *[
            F.struct(
                stopword_hits_col(text, lang).alias("score"),
                F.lit(-i).alias("prio"),
                F.lit(lang).alias("lang"),
            )
            for i, lang in enumerate(STOPWORDS)
        ]
    )
    return F.array_max(pairs).getField("lang")
