"""Text-analysis functions over document corpora — pure SQL expressions.

Language-ID n-gram heuristics live in pipeline/model.py (model-based);
these are the expression-level text ops: token counting, quality
scoring, fingerprinting. Everything here compiles to JVM expressions
inside whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

WS_RE = "[ \\n\\t\\r]+"
# BPE-ish pre-tokenizer: word pieces, numbers, or single non-space symbols
BPE_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\n\\t\\r]"


def whitespace_token_count(text: Column) -> Column:
    """Number of whitespace-separated tokens (0 for empty/blank)."""
    t = F.trim(text)
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(F.size(F.split(t, WS_RE)))


def bpe_token_count(text: Column) -> Column:
    """Count of BPE-style pre-tokens (letters runs / digit runs / symbols)
    — a cheap proxy for LLM token counts."""
    return F.size(F.regexp_extract_all(text, F.lit(BPE_RE), 0))


def stopword_ratio(text: Column, stopwords: list[str]) -> Column:
    """Fraction of tokens that are stopwords."""
    t = F.trim(F.lower(text))
    words = F.split(t, WS_RE)
    sw = F.size(F.filter(words, lambda x: x.isin(*stopwords)))
    return F.when(F.size(words) > 0, sw.cast("double") / F.size(words))


def punct_ratio(text: Column) -> Column:
    n = F.length(text)
    p = F.regexp_count(text, F.lit("[.,;:!?'\"()\\[\\]{}]"))
    return F.when(n > 0, p.cast("double") / n)


def mean_word_length(text: Column) -> Column:
    t = F.trim(text)
    words = F.split(t, WS_RE)
    total = F.aggregate(words, F.lit(0), lambda acc, x: acc + F.length(x))
    return F.when(F.size(words) > 0, total.cast("double") / F.size(words))


def fingerprint(text: Column) -> Column:
    """Document fingerprint: md5 of the whitespace/punct-normalized text
    (the canonical locality-insensitive exact-dup key)."""
    norm = F.trim(F.regexp_replace(F.lower(text), "[^a-z0-9]+", " "))
    return F.md5(F.encode(norm, "UTF-8"))


def dedup_lines(text: Column) -> Column:
    """Intra-document repetition removal: drop duplicate LINES keeping
    the first occurrence, preserving original order (the Gopher/
    RefinedWeb-style repetition scrub, line granularity). Pure column
    expression — array_distinct keeps first-occurrence order — so the
    whole pass is whole-stage codegen with zero shuffle."""
    return F.array_join(F.array_distinct(F.split(text, "\n")), "\n")
