"""Text / scalar-function / JSON queries over the documents and events
tables: the sentiment UDF (F1), token statistics, quality scoring,
language-ID heuristic, rolling-hash fingerprints, string+date scalar
function coverage, from_json struct parsing, explode.

SURVEY.md §2.8 scalar inventory + §2.10 F1 + the LLM-pipeline text
analysis extensions.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions.text import (
    NEGATIVE_WORDS,
    POSITIVE_WORDS,
    STOPWORDS,
    rolling_fingerprint,
    sentiment_label,
    sentiment_score_udf,
    tokens,
)
from ..io_utils import load
from . import register
from .oracle_sql import TOKS

_POS_SQL = ", ".join(f"'{w}'" for w in POSITIVE_WORDS)
_NEG_SQL = ", ".join(f"'{w}'" for w in NEGATIVE_WORDS)
_STOP_SQL = ", ".join(f"'{w}'" for w in STOPWORDS)



# ---------------------------------------------------------------------------
# F1: lexicon sentiment via pandas_udf
# ---------------------------------------------------------------------------

_SENTIMENT_ORACLE = f"""
WITH counts AS (
  SELECT doc_id,
         len(list_filter({TOKS}, x -> x IN ({_POS_SQL}))) AS pos,
         len(list_filter({TOKS}, x -> x IN ({_NEG_SQL}))) AS neg
  FROM documents
),
scored AS (
  SELECT doc_id,
         CASE WHEN pos + neg = 0 THEN 0.0
              ELSE CAST(pos - neg AS DOUBLE) / (pos + neg) END AS sentiment_score
  FROM counts
)
SELECT doc_id, sentiment_score,
       CASE WHEN sentiment_score > 0.1  THEN 'positive'
            WHEN sentiment_score < -0.1 THEN 'negative'
            ELSE 'neutral' END AS sentiment_label
FROM scored
"""


@register("f1_sentiment_udf", oracle=_SENTIMENT_ORACLE)
def f1_sentiment_udf(spark, sf_dir):
    """The reference's one real UDF (news_article_sentiment.py:25-35,
    invoked via F.expr at :129-132), reimplemented as an Arrow-batched
    pandas_udf (~10-100× over row-at-a-time). Score = (pos−neg)/(pos+neg)
    with 0.0 on no hits; strict ±0.1 label thresholds (:134-139)."""
    d = load(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id", sentiment_score_udf(F.col("text")).alias("sentiment_score")
    )
    return scored.withColumn("sentiment_label", sentiment_label(F.col("sentiment_score")))


# ---------------------------------------------------------------------------
# Token statistics (token counting for training-data pipelines)
# ---------------------------------------------------------------------------

_TOKSTATS_ORACLE = f"""
SELECT doc_id,
       n_chars,
       len({TOKS})                                         AS n_tokens,
       len(list_distinct({TOKS}))                          AS n_distinct_tokens,
       CASE WHEN len({TOKS}) = 0 THEN 0.0
            ELSE CAST(len(list_distinct({TOKS})) AS DOUBLE) / len({TOKS})
       END                                                  AS type_token_ratio
FROM documents
"""


@register("text_token_stats", oracle=_TOKSTATS_ORACLE)
def text_token_stats(spark, sf_dir):
    """Whitespace/regex token counting + type-token ratio — pure JVM
    array functions, no UDF (the scalable default for 100 TB corpora)."""
    d = load(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    n_tokens = F.size(toks)
    n_distinct = F.size(F.array_distinct(toks))
    return d.select(
        "doc_id",
        "n_chars",
        n_tokens.cast("long").alias("n_tokens"),
        n_distinct.cast("long").alias("n_distinct_tokens"),
        F.when(n_tokens == 0, F.lit(0.0))
        .otherwise(n_distinct.cast("double") / n_tokens)
        .alias("type_token_ratio"),
    )


# ---------------------------------------------------------------------------
# Quality scoring (length / stopword / lexical-diversity heuristics)
# ---------------------------------------------------------------------------

_QUALITY_ORACLE = f"""
WITH feat AS (
  SELECT doc_id,
         len({TOKS}) AS n_tokens,
         len(list_filter({TOKS}, x -> x IN ({_STOP_SQL}))) AS n_stop,
         CASE WHEN len({TOKS}) = 0 THEN 0.0
              ELSE CAST(length(replace(text, ' ', '')) AS DOUBLE) / len({TOKS}) END
           AS mean_token_len
  FROM documents
)
SELECT doc_id, n_tokens,
       CASE WHEN n_tokens = 0 THEN 0.0
            ELSE CAST(n_stop AS DOUBLE) / n_tokens END AS stopword_ratio,
       mean_token_len,
       CASE WHEN n_tokens >= 10
             AND n_tokens <= 1000
             AND (CASE WHEN n_tokens = 0 THEN 0.0
                       ELSE CAST(n_stop AS DOUBLE) / n_tokens END) < 0.5
            THEN 1 ELSE 0 END AS quality_pass
FROM feat
"""


@register("text_quality_score", oracle=_QUALITY_ORACLE)
def text_quality_score(spark, sf_dir):
    """Document quality heuristics (length bounds, stopword ratio, mean
    token length) with a pass/fail gate — the C4/Gopher-style filter
    shape for training-data pipelines, as one codegen'd projection."""
    d = load(spark, sf_dir, "documents")
    # materialize the token array ONCE in its own projection: every
    # output column references it, and Catalyst re-inlines (= re-runs
    # the regex split per reference) if it stays an expression.
    # CollapseProject keeps the two projections apart because the alias
    # is non-cheap and multiply-referenced. Same fix family as
    # text_lang_id's lambda binding (SCALE.md 'Expression evaluation').
    staged = d.select("doc_id", "text", tokens(F.col("text")).alias("_toks"))
    toks = F.col("_toks")
    n_tokens = F.size(toks)
    n_stop = F.size(F.filter(toks, lambda x: x.isin(*STOPWORDS)))
    stop_ratio = F.when(n_tokens == 0, F.lit(0.0)).otherwise(
        n_stop.cast("double") / n_tokens
    )
    mean_len = F.when(n_tokens == 0, F.lit(0.0)).otherwise(
        F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).cast("double") / n_tokens
    )
    return staged.select(
        "doc_id",
        n_tokens.cast("long").alias("n_tokens"),
        stop_ratio.alias("stopword_ratio"),
        mean_len.alias("mean_token_len"),
        F.when((n_tokens >= 10) & (n_tokens <= 1000) & (stop_ratio < 0.5), 1)
        .otherwise(0)
        .alias("quality_pass"),
    )


# ---------------------------------------------------------------------------
# Language-ID heuristic (stopword-hit argmax)
# ---------------------------------------------------------------------------

_LANG_LEX = {
    "en": ("the", "and", "of", "a"),
    "es": ("el", "la", "de", "y"),
    "de": ("der", "und", "die", "das"),
    "fr": ("le", "et", "les", "des"),
}


def _lang_hits_sql(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in _LANG_LEX[lang])
    return f"len(list_filter({TOKS}, x -> x IN ({words})))"


_LANGID_ORACLE = f"""
WITH hits AS (
  SELECT doc_id,
         {_lang_hits_sql('en')} AS h_en,
         {_lang_hits_sql('es')} AS h_es,
         {_lang_hits_sql('de')} AS h_de,
         {_lang_hits_sql('fr')} AS h_fr
  FROM documents
)
SELECT doc_id,
       CASE WHEN h_en + h_es + h_de + h_fr = 0 THEN 'und'
            WHEN h_en >= h_es AND h_en >= h_de AND h_en >= h_fr THEN 'en'
            WHEN h_es >= h_de AND h_es >= h_fr THEN 'es'
            WHEN h_de >= h_fr THEN 'de'
            ELSE 'fr' END AS lang_pred
FROM hits
"""


@register("text_lang_id", oracle=_LANGID_ORACLE)
def text_lang_id(spark, sf_dir):
    """Stopword-hit language-ID heuristic with deterministic argmax
    tie-breaking (en > es > de > fr), 'und' when no hits. n-gram/stopword
    scoring stays a JVM projection — no model, no UDF."""
    d = load(spark, sf_dir, "documents")

    def lang_of(tk):
        # tk is a lambda variable: the token array (regex split) is
        # evaluated ONCE per row; the per-lexicon filters below re-walk
        # only the small token array, never the raw text
        h = {
            lang: F.size(F.filter(tk, lambda x: x.isin(*words)))
            for lang, words in _LANG_LEX.items()
        }
        return (
            F.when(h["en"] + h["es"] + h["de"] + h["fr"] == 0, "und")
            .when((h["en"] >= h["es"]) & (h["en"] >= h["de"]) & (h["en"] >= h["fr"]), "en")
            .when((h["es"] >= h["de"]) & (h["es"] >= h["fr"]), "es")
            .when(h["de"] >= h["fr"], "de")
            .otherwise("fr")
        )

    pred = F.transform(F.array(tokens(F.col("text"))), lang_of)[0]
    return d.select("doc_id", pred.alias("lang_pred"))


# ---------------------------------------------------------------------------
# Document fingerprinting: normalized sha256 + rolling polynomial hash
# ---------------------------------------------------------------------------

_FPRINT_ORACLE = f"""
WITH norm AS (
  SELECT doc_id,
         trim(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g')) AS norm_text,
         {TOKS} AS toks
  FROM documents
)
SELECT doc_id,
       sha256(regexp_replace(norm_text, ' +', ' ', 'g')) AS content_sha,
       list_reduce(
         list_prepend(CAST(0 AS BIGINT),
           list_transform(toks, x -> ('0x' || substr(md5(x), 1, 8))::BIGINT % 1000000)),
         (acc, x) -> (acc * 1009 + x) % 1000000007
       ) AS rolling_hash
FROM norm
"""


@register("text_fingerprint", oracle=_FPRINT_ORACLE)
def text_fingerprint(spark, sf_dir):
    """Two document fingerprints: (a) sha256 of whitespace-normalized
    text — exact-dedup key, mirrors the reference's sha2 article ids
    (finance_bronze2_to_silver.py:90); (b) order-sensitive polynomial
    rolling hash over md5-derived token ints (cross-engine
    deterministic, functions/text.py rolling_fingerprint)."""
    d = load(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", " "))
    collapsed = F.regexp_replace(norm, " +", " ")
    return d.select(
        "doc_id",
        F.sha2(collapsed, 256).alias("content_sha"),
        rolling_fingerprint(tokens(F.col("text"))).alias("rolling_hash"),
    )


# ---------------------------------------------------------------------------
# Scalar string-function coverage (sha2/concat_ws/regexp/substr/len/trim)
# ---------------------------------------------------------------------------

_STRING_ORACLE = """
SELECT doc_id,
       sha256(concat_ws('/', lower(source), CAST(doc_id AS VARCHAR))) AS row_key,
       upper(substr(text, 1, 10))                                     AS head10,
       length(regexp_replace(text, '[aeiou]', '', 'g'))               AS n_consonant_chars,
       CASE WHEN text LIKE '%spark%' THEN 1 ELSE 0 END                AS mentions_spark,
       trim(concat(' ', lang, ' '))                                   AS lang_trimmed
FROM documents
"""


@register("scalar_string_functions", oracle=_STRING_ORACLE)
def scalar_string_functions(spark, sf_dir):
    """String scalar inventory in one projection: sha2(256), concat_ws,
    upper/lower, substring, length, regexp_replace, LIKE, trim, concat
    (SURVEY.md §2.8 'String' row; sha2 key mirrors
    finance_bronze2_to_silver.py:90)."""
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.sha2(
            F.concat_ws("/", F.lower(F.col("source")), F.col("doc_id").cast("string")), 256
        ).alias("row_key"),
        F.upper(F.substring("text", 1, 10)).alias("head10"),
        F.length(F.regexp_replace("text", "[aeiou]", "")).cast("long").alias("n_consonant_chars"),
        F.when(F.col("text").like("%spark%"), 1).otherwise(0).alias("mentions_spark"),
        F.trim(F.concat(F.lit(" "), F.col("lang"), F.lit(" "))).alias("lang_trimmed"),
    )


# ---------------------------------------------------------------------------
# Scalar date/time-function coverage
# ---------------------------------------------------------------------------

_DATE_ORACLE = """
SELECT o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d')                        AS order_date_str,
       strftime(o_orderdate, '%Y-%m')                           AS order_month,
       CAST(year(o_orderdate)  AS INT)                          AS order_year,
       CAST(month(o_orderdate) AS INT)                          AS order_m,
       CAST(hour(o_orderdate)  AS INT)                          AS order_h,
       strftime(o_orderdate - INTERVAL 30 DAY, '%Y-%m-%d')      AS d30_before,
       strftime(date_trunc('month', o_orderdate), '%Y-%m-%d')   AS month_start,
       epoch_us(o_orderdate) // 1000000                         AS epoch_sec,
       date_diff('day', TIMESTAMP '1995-01-01 00:00:00', o_orderdate) AS days_since_95
FROM orders
"""


@register("scalar_date_functions", oracle=_DATE_ORACLE)
def scalar_date_functions(spark, sf_dir):
    """Date/time scalar inventory: to_date/date_format, year/month/hour,
    date_sub, date_trunc, unix epoch, datediff (SURVEY.md §2.8
    'Date/time' row). Date-typed results are formatted to strings so the
    oracle comparison is representation-independent."""
    o = load(spark, sf_dir, "orders")
    d = F.col("o_orderdate")
    return o.select(
        "o_orderkey",
        F.date_format(d, "yyyy-MM-dd").alias("order_date_str"),
        F.date_format(d, "yyyy-MM").alias("order_month"),
        F.year(d).alias("order_year"),
        F.month(d).alias("order_m"),
        F.hour(d).alias("order_h"),
        F.date_format(F.date_sub(d, 30), "yyyy-MM-dd").alias("d30_before"),
        F.date_format(F.date_trunc("month", d), "yyyy-MM-dd").alias("month_start"),
        # o_orderdate is TIMESTAMP_NTZ in the parquet; unix_micros needs LTZ
        F.expr("unix_micros(cast(o_orderdate AS timestamp)) div 1000000").alias("epoch_sec"),
        F.datediff(d, F.to_timestamp(F.lit("1995-01-01 00:00:00"))).cast("long").alias("days_since_95"),
    )


# ---------------------------------------------------------------------------
# from_json struct parsing (S/JSON inventory) + explode token frequency
# ---------------------------------------------------------------------------

_FROMJSON_ORACLE = """
SELECT event_id,
       CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
       CAST(json_extract_string(props, '$.k') AS INTEGER) % 10 AS k_bucket
FROM events
"""


@register("json_struct_parse", oracle=_FROMJSON_ORACLE)
def json_struct_parse(spark, sf_dir):
    """from_json with a DDL-string schema then struct field access
    (reference: 004_fact_dataaudit_validity.py:65-87)."""
    e = load(spark, sf_dir, "events")
    parsed = e.select(
        "event_id", F.from_json("props", "k INT").alias("p")
    )
    return parsed.select(
        "event_id", F.col("p.k").alias("k"), (F.col("p.k") % 10).alias("k_bucket")
    )


_EXPLODE_ORACLE = f"""
SELECT token, COUNT(*) AS freq
FROM (SELECT unnest({TOKS}) AS token FROM documents)
GROUP BY token
ORDER BY freq DESC, token
LIMIT 20
"""


@register("explode_token_frequency", oracle=_EXPLODE_ORACLE)
def explode_token_frequency(spark, sf_dir):
    """explode (the reference's only table-generating op,
    004_fact_dataaudit_validity.py:116) over the token array → corpus
    term frequency top-20. At 100 TB the explode fan-out is bounded by
    partial (map-side) aggregation before the shuffle."""
    d = load(spark, sf_dir, "documents")
    return (
        d.select(F.explode(tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.col("freq").desc(), F.col("token"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Canonical text cleaning (NFC + control strip + whitespace collapse)
# ---------------------------------------------------------------------------

_NORMALIZE_ORACLE = r"""
WITH cleaned AS (
  SELECT doc_id,
         trim(regexp_replace(regexp_replace(nfc_normalize(text),
              '[\x00-\x1F\x7F]', ' ', 'g'), '\s+', ' ', 'g')) AS clean_text,
         text
  FROM documents
)
SELECT doc_id, clean_text,
       CAST(length(clean_text) AS BIGINT) AS n_chars_clean,
       clean_text <> text AS changed
FROM cleaned
"""


@register("text_normalize_clean", oracle=_NORMALIZE_ORACLE)
def text_normalize_clean(spark, sf_dir):
    """Canonical text cleaning for LLM corpora: Unicode NFC
    normalization (Arrow pandas_udf — the only Python step), control
    characters stripped, runs of whitespace collapsed, edges trimmed.
    The JVM regex steps stay in codegen; only the NFC pass crosses the
    Arrow boundary, on the single text column. The oracle re-runs the
    identical pipeline via DuckDB's nfc_normalize, so the UDF semantics
    — not just plumbing — are cross-checked."""
    from ..functions.text import nfc_normalize_udf

    d = load(spark, sf_dir, "documents")
    clean = F.trim(
        F.regexp_replace(
            F.regexp_replace(nfc_normalize_udf(F.col("text")), r"[\x00-\x1F\x7F]", " "),
            r"\s+",
            " ",
        )
    )
    c = d.select("doc_id", "text", clean.alias("clean_text"))
    return c.select(
        "doc_id",
        "clean_text",
        F.length("clean_text").cast("long").alias("n_chars_clean"),
        (F.col("clean_text") != F.col("text")).alias("changed"),
    )
