"""Text analysis primitives: tokenization, lexicon sentiment (the
reference's single real UDF), quality scoring, language-ID heuristic,
rolling-hash fingerprints.

Reference semantics preserved exactly where cited:
  - sentiment (news_article_sentiment.py:25-35): tokenize on letters,
    score = (pos − neg) / (pos + neg), 0.0 when no lexicon hits;
    labels strict >0.1 / <−0.1 (news_article_sentiment.py:134-139).

Everything except the sentiment pandas_udf is built-in-function
composition (JVM-side, whole-stage codegen). The sentiment UDF is
Arrow-vectorized (pandas_udf) — the reference used a row-at-a-time
Python UDF registered via spark.udf.register.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.dedup import md5_int

# Lexicons chosen from the fixture corpus vocabulary so scores spread
# across the ±0.1 label thresholds (the reference ships finance lexicons;
# the operator is lexicon-agnostic).
POSITIVE_WORDS = ("fast", "big", "new", "merge")
NEGATIVE_WORDS = ("slow", "dup", "error", "small")
STOPWORDS = ("the", "a", "of", "and", "to", "in")

_TOKEN_RE = re.compile(r"[^a-z]+")


def tokens(col: Column) -> Column:
    """Letter-run tokens of lowered text, empties removed (JVM-side)."""
    arr = F.split(F.lower(col), "[^a-z]+")
    return F.filter(arr, lambda x: x != "")


def sentiment_score_py(text: str | None) -> float:
    """Row-level reference semantics (used by the pandas_udf and tests)."""
    if not text:
        return 0.0
    toks = [t for t in _TOKEN_RE.split(text.lower()) if t]
    pos = sum(t in POSITIVE_WORDS for t in toks)
    neg = sum(t in NEGATIVE_WORDS for t in toks)
    if pos + neg == 0:
        return 0.0
    return (pos - neg) / (pos + neg)


@F.pandas_udf(T.DoubleType())
def sentiment_score_udf(texts: pd.Series) -> pd.Series:
    """Arrow-vectorized lexicon sentiment — F1 in SURVEY.md §2.10."""
    return texts.map(sentiment_score_py).astype("float64")


def sentiment_label(score: Column) -> Column:
    """Strict thresholds: >0.1 positive, <−0.1 negative, else neutral
    (reference: news_article_sentiment.py:134-139)."""
    return (
        F.when(score > 0.1, "positive")
        .when(score < -0.1, "negative")
        .otherwise("neutral")
    )


def rolling_fingerprint(token_arr: Column) -> Column:
    """Polynomial rolling hash over a token array:
    acc = (acc * 1009 + md5_int(tok, 1_000_000)) % 1_000_000_007.
    Order-sensitive document fingerprint; intermediates stay < 2^63 in
    both engines."""
    return F.aggregate(
        token_arr,
        F.lit(0).cast("long"),
        lambda acc, x: (acc * 1009 + md5_int(x, mod=1_000_000)) % 1_000_000_007,
    )


@F.pandas_udf(T.StringType())
def nfc_normalize_udf(texts: pd.Series) -> pd.Series:
    """Unicode NFC normalization as an Arrow-batched pandas_udf (no JVM
    built-in exists for it). Oracle equivalent: DuckDB nfc_normalize."""
    import unicodedata

    return texts.map(
        lambda x: unicodedata.normalize("NFC", x) if x is not None else None
    )
