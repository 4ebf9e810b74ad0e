"""Text analytics for training-data pipelines — language-ID, quality
scoring, token counting, document fingerprinting.

Everything here is built from JVM-side ``pyspark.sql.functions`` column
expressions (whole-stage codegen, zero Python in the hot path) and each
helper has an exactly-equivalent ANSI-SQL formulation used by the DuckDB
oracle in ``__spark_entry__.py`` — that cross-check is the correctness
contract for these operators.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny per-language stopword inventories for the n-gram/stopword heuristic.
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is", "in", "that", "with"],
    "es": ["el", "la", "de", "que", "y", "en", "los", "una"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "ein", "mit"],
    "fr": ["le", "la", "et", "les", "des", "est", "une", "dans"],
}

EN_STOPWORDS = LANG_STOPWORDS["en"] + ["a", "for", "on", "it", "as", "are"]


def tokens(col: Column) -> Column:
    """Whitespace tokenization; empty string -> empty array.

    SQL twin: ``string_split_regex(trim(text), '\\s+')`` guarded for ''.
    """
    t = F.trim(col)
    return F.when(F.length(t) == 0, F.array().cast("array<string>")).otherwise(
        F.split(t, r"\s+")
    )


def token_count(col: Column) -> Column:
    return F.size(tokens(col))


def punct_ratio(col: Column) -> Column:
    """Fraction of characters that are not [A-Za-z0-9 ]."""
    stripped = F.regexp_replace(col, "[A-Za-z0-9 ]", "")
    return F.round(
        F.length(stripped) / F.greatest(F.length(col), F.lit(1)).cast("double"), 6
    )


def stopword_ratio(col: Column, stopwords: list[str] | None = None) -> Column:
    sw = stopwords or EN_STOPWORDS
    toks = tokens(F.lower(col))
    hits = F.size(F.filter(toks, lambda t: t.isin(sw)))
    return F.round(hits / F.greatest(F.size(toks), F.lit(1)).cast("double"), 6)


def quality_score(col: Column) -> Column:
    """Composite [0,1] quality heuristic: long enough, mostly alphanumeric,
    healthy stopword density.  Weights are part of the contract."""
    n_tok = token_count(col)
    len_score = F.least(n_tok / F.lit(20.0), F.lit(1.0))
    punct_score = F.lit(1.0) - F.least(punct_ratio(col) * 4.0, F.lit(1.0))
    sw_score = F.least(stopword_ratio(col) * 5.0, F.lit(1.0))
    # the exact value has <= 7 decimal digits (inputs are 6-decimal-rounded),
    # so rounding to 7 never hits a half-way point -> engine-independent
    return F.round(0.4 * len_score + 0.3 * punct_score + 0.3 * sw_score, 7)


def lang_scores(col: Column) -> dict[str, Column]:
    """Stopword-overlap score per language (hits / tokens)."""
    toks = tokens(F.lower(col))
    out = {}
    for lang, sw in LANG_STOPWORDS.items():
        hits = F.size(F.filter(toks, lambda t: t.isin(sw)))
        out[lang] = hits / F.greatest(F.size(toks), F.lit(1)).cast("double")
    return out


def lang_id(col: Column) -> Column:
    """argmax over language scores; deterministic tie-break by language code
    order en < es < de < fr via strictly-greater comparison; 'und' when all
    scores are zero."""
    scores = lang_scores(col)
    langs = list(LANG_STOPWORDS.keys())
    best_lang = F.lit("und")
    best_score = F.lit(0.0)
    for lang in langs:
        s = scores[lang]
        take = s > best_score
        best_lang = F.when(take, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(take, s).otherwise(best_score)
    return best_lang


def normalized_text(col: Column) -> Column:
    """Canonical form for fingerprinting: lowercase, collapse whitespace."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def fingerprint(col: Column) -> Column:
    """Content fingerprint: md5 of normalized text (the engine's analog of
    the reference's normalize-then-SHA1 discipline, analysis/fingerprint.py)."""
    return F.md5(normalized_text(col))
