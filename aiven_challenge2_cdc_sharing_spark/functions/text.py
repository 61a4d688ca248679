"""Text-analysis column functions for training-data pipelines
(SURVEY.md §2.11) — the Spark-native version of the reference's
OpenSearch ``text`` analyzer semantics (consumer_to_opensearch.py:20).

All pure column expressions (whole-stage codegen); no UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Small English stopword list (public, ubiquitous); enough for an n-gram
# language-ID heuristic over the synthetic corpus.
EN_STOPWORDS = [
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "that", "this", "for", "on", "with", "as", "at", "by", "from",
]


def tokenize(col: Column) -> Column:
    """Whitespace tokenization after casefold — ``text``-analyzer style."""
    return F.split(F.lower(F.trim(col)), r"\s+")


def token_count(col: Column) -> Column:
    return F.size(tokenize(col))


def distinct_token_ratio(col: Column) -> Column:
    tok = tokenize(col)
    return F.size(F.array_distinct(tok)) / F.size(tok)


def stopword_hits(col: Column) -> Column:
    sw = F.array(*[F.lit(s) for s in EN_STOPWORDS])
    return F.size(F.filter(tokenize(col), lambda t: F.array_contains(sw, t)))


def quality_score(col: Column) -> Column:
    """Quality heuristic in [0,1]: length credit (saturates at 100
    tokens) + lexical-diversity credit, equally weighted."""
    n = token_count(col)
    length_credit = F.least(n / F.lit(100.0), F.lit(1.0))
    diversity = distinct_token_ratio(col)
    return F.round(0.5 * length_credit + 0.5 * diversity, 6)


def doc_fingerprint(col: Column) -> Column:
    """Canonical-form fingerprint: casefold, collapse whitespace, md5.
    Two docs differing only in spacing/case share a fingerprint."""
    canon = F.regexp_replace(F.lower(F.trim(col)), r"\s+", " ")
    return F.md5(canon)
