"""Corpus-relevance extensions: TF-IDF term scoring and per-cell
embedding centroids — the two aggregate shapes a training-data curation
pipeline runs constantly (salience extraction; IVF centroid refresh).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..functions.text import tokens
from ..io_utils import load
from . import register
from .oracle_sql import TOKS


# ---------------------------------------------------------------------------
# TF-IDF: top-3 salient terms per document (bounded to doc_id < 50)
# ---------------------------------------------------------------------------

_TFIDF_ORACLE = f"""
WITH tf AS (
  SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, unnest({TOKS}) AS token FROM documents)
  GROUP BY doc_id, token
),
df AS (
  SELECT token, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
  FROM tf GROUP BY token
),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.token,
         ROUND(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS tfidf
  FROM tf JOIN df USING (token) CROSS JOIN n
  WHERE tf.doc_id < 50
)
SELECT doc_id, token, tfidf
FROM (SELECT *, ROW_NUMBER() OVER (
        PARTITION BY doc_id ORDER BY tfidf DESC, token) AS rn
      FROM scored)
WHERE rn <= 3
"""


@register("text_tfidf_top_terms", oracle=_TFIDF_ORACLE)
def text_tfidf_top_terms(spark, sf_dir):
    """TF-IDF salience: term frequency (per doc) × ln(N/df), top-3 terms
    per document. df is computed over the FULL corpus (the expensive
    side at scale: one shuffle on token, combine-before-shuffle); the
    per-doc projection is then bounded. ln of identical doubles —
    cross-engine exact."""
    d = load(spark, sf_dir, "documents")
    tf = (
        d.select("doc_id", F.explode(tokens(F.col("text"))).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_ = tf.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = d.count()
    scored = (
        tf.filter(F.col("doc_id") < 50)
        .join(df_, on="token")
        .withColumn(
            # round(6): ln() is not guaranteed correctly-rounded, so JVM
            # and DuckDB libm can differ at 1 ulp — round on BOTH sides
            # (including the ordering key below) for hash-exact parity
            "tfidf",
            F.round(F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 6),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("token"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "token", "tfidf")
    )


# ---------------------------------------------------------------------------
# Embedding centroids per label cell (IVF centroid refresh shape)
# ---------------------------------------------------------------------------

# parallel unnests zip in DuckDB (WITH ORDINALITY is not implemented
# in 1.0) — range() supplies the 1-based position alongside the value
_CENTROID_ORACLE = """
WITH flat AS (
  SELECT label,
         unnest(range(1, len(embedding) + 1)) AS pos,
         unnest(embedding) AS val
  FROM embeddings
)
SELECT label, CAST(pos AS INT) AS pos,
       -- float → DOUBLE first: DuckDB's direct float→decimal cast goes
       -- through the float's shortest decimal string, Spark's through
       -- the exact binary value; via DOUBLE both are exact and agree
       CAST(SUM(CAST(CAST(val AS DOUBLE) AS DECIMAL(30,12))) AS DOUBLE) / COUNT(*) AS centroid_val,
       CAST(COUNT(*) AS BIGINT) AS n_vectors
FROM flat
GROUP BY label, pos
"""


@register("embedding_label_centroids", oracle=_CENTROID_ORACLE)
def embedding_label_centroids(spark, sf_dir):
    """Element-wise mean vector per cell — the IVF centroid-refresh
    aggregate. posexplode → groupBy(cell, pos) → decimal mean keeps it a
    single shuffle of (cells × dims) partial sums; at billions of
    vectors this beats any collect-and-average by construction."""
    e = load(spark, sf_dir, "embeddings")
    flat = e.select(
        "label", F.posexplode("embedding").alias("pos0", "val")
    ).select(
        "label",
        (F.col("pos0") + 1).alias("pos"),  # 1-based to match WITH ORDINALITY
        F.col("val").cast("double").cast("decimal(30,12)").alias("val"),
    )
    return flat.groupBy("label", "pos").agg(
        (F.sum("val").cast("double") / F.count(F.lit(1))).alias("centroid_val"),
        F.count(F.lit(1)).alias("n_vectors"),
    )


# ---------------------------------------------------------------------------
# BM25 ranking for a fixed query term set
# ---------------------------------------------------------------------------

_BM25_TERMS = ("data", "model", "system")
_BM25_K1, _BM25_B = 1.2, 0.75

_BM25_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, unnest({TOKS}) AS token FROM documents
),
dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM toks GROUP BY doc_id),
stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
  FROM dl
),
tf AS (
  SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
  FROM toks WHERE token IN {str(_BM25_TERMS)}
  GROUP BY doc_id, token
),
df AS (SELECT token, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df FROM tf GROUP BY token),
scored AS (
  SELECT tf.doc_id,
         ln((CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5) + 1.0)
           * (tf * ({_BM25_K1} + 1.0))
           / (tf + {_BM25_K1} * (1.0 - {_BM25_B} + {_BM25_B} * dl.dl / stats.avgdl))
           AS term_score
  FROM tf
  JOIN df USING (token)
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats
)
SELECT doc_id, ROUND(SUM(term_score), 6) AS bm25
FROM scored
GROUP BY doc_id
ORDER BY bm25 DESC, doc_id
LIMIT 10
"""


@register("bm25_ranking", oracle=_BM25_ORACLE)
def bm25_ranking(spark, sf_dir):
    """BM25 document ranking for a fixed query ('data model system'):
    idf = ln((N − df + ½)/(df + ½) + 1), tf saturation k1=1.2, length
    normalization b=0.75. One shuffle for doc lengths, one for the
    query-term tf (the scan is pre-filtered to the 3 query terms, so the
    expensive side is O(matching postings), not O(corpus)); avgdl and df
    are 1-row/tiny broadcasts. round(6) on the SUM (not per term) keeps
    ln's 1-ulp libm differences out of the hash; top-10 ordered with a
    doc_id tiebreak."""
    d = load(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("token"))
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    tf = (
        toks.filter(F.col("token").isin(*_BM25_TERMS))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_ = tf.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    idf = F.log(
        (F.col("n_docs").cast("double") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    denom = F.col("tf") + _BM25_K1 * (
        1.0 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl")
    )
    scored = (
        tf.join(df_, on="token")
        .join(dl, on="doc_id")
        .join(F.broadcast(stats))
        .withColumn("term_score", idf * (F.col("tf") * (_BM25_K1 + 1.0)) / denom)
    )
    return (
        scored.groupBy("doc_id")
        .agg(F.round(F.sum("term_score"), 6).alias("bm25"))
        .orderBy(F.col("bm25").desc(), F.col("doc_id"))
        .limit(10)
    )
