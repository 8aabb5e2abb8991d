"""Text-analysis column functions for training-data pipelines.

All pure Catalyst expressions (regex/array/aggregate built-ins) — the
hot path of a 100 TB text pipeline must stay inside whole-stage codegen;
Python only ever sees these columns if the user explicitly collects.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..operators.dedup import tokens_of

#: Minimal English stopword profile for the language-ID heuristic.
EN_STOPWORDS = (
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "for", "on", "with", "as", "at", "by", "from", "that", "this", "be",
)

#: BPE-ish pre-tokenization: letter runs, digit runs, single other glyphs.
BPE_PATTERN = r"[a-z]+|[0-9]+|[^a-z0-9\s]"


def token_count(text: Column, toks: Column | None = None) -> Column:
    """Whitespace token count.  Pass a materialized ``toks`` array to
    avoid re-tokenizing when several metrics share one projection
    (higher-order exprs are interpreted — no subexpression elimination
    rescues a repeated ``split``)."""
    return F.size(tokens_of(text) if toks is None else toks)


def bpe_token_count(text: Column) -> Column:
    """Count of BPE-ish pre-tokens (letter runs / digit runs / symbols)."""
    return F.size(F.regexp_extract_all(F.lower(text), F.lit(BPE_PATTERN), 0))


def alpha_ratio(text: Column) -> Column:
    """Fraction of characters that are ASCII letters."""
    alpha = F.length(F.regexp_replace(F.lower(text), "[^a-z]", ""))
    return F.round(alpha / F.greatest(F.length(text), F.lit(1)), 6)


def stopword_ratio(text: Column, toks: Column | None = None) -> Column:
    """Fraction of whitespace tokens that are English stopwords —
    doubles as a cheap language-ID score (en vs not).  Lowercasing
    never introduces whitespace, so per-token ``lower`` over a
    materialized array equals tokenizing the lowered text."""
    lt = tokens_of(F.lower(text)) if toks is None else F.transform(toks, F.lower)
    stops = F.size(F.filter(lt, lambda t: t.isin(*EN_STOPWORDS)))
    return F.round(stops / F.greatest(F.size(lt), F.lit(1)), 6)


def avg_token_len(text: Column, toks: Column | None = None) -> Column:
    toks = tokens_of(text) if toks is None else toks
    total = F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
    return F.round(total / F.greatest(F.size(toks), F.lit(1)), 6)


def quality_score(text: Column, toks: Column | None = None) -> Column:
    """Composite quality heuristic in [0, 1]: long enough, looks like
    prose (letters), has function words, sane word lengths."""
    n = token_count(text, toks)
    len_score = F.least(n / F.lit(64.0), F.lit(1.0))
    word_len = avg_token_len(text, toks)
    word_len_score = F.when((word_len >= 3) & (word_len <= 10), 1.0).otherwise(0.5)
    # NOT rounded: the weighted sum's 7th decimal is often exactly 5
    # (weights × 6-dp components), where engines' rounding modes diverge;
    # the unrounded double is bit-reproducible across engines instead.
    return (
        0.3 * len_score + 0.3 * alpha_ratio(text) + 0.2 * stopword_ratio(text, toks) + 0.2 * word_len_score
    )
