"""ML feature-prep extras (round 2): corpus unigram-LM quality scoring,
a k-means Lloyd assignment/update step, deterministic robust (MAD)
outlier detection, and leave-one-out target encoding.

These extend the LLM-data-pipeline layer (SURVEY.md §2 extensions)
with the model-side preprocessing steps a training pipeline runs after
curation: LM-based quality filtering (the classic "CCNet-style"
perplexity gate, here with a self-trained unigram model so there is no
external artifact), clustering for data selection, robust outlier
clipping, and categorical feature encoding.

Determinism contract (shared with the rest of the catalog): every
float that crosses an aggregation is either decimal-accumulated or
round(6)-ed identically on the Spark and DuckDB sides, and every
arg-min is tie-broken on a unique key, so the driver's value-hash
compare is stable.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..functions.text import tokens
from ..io_utils import load
from . import register
from .oracle_sql import TOKS, fold_sum

# ---------------------------------------------------------------------------
# Unigram-LM document quality score (perplexity-gate shape)
# ---------------------------------------------------------------------------

_LM_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, unnest({TOKS}) AS token FROM documents
),
freq AS (SELECT token, COUNT(*) AS tf FROM toks GROUP BY token),
tot AS (SELECT CAST(SUM(tf) AS DOUBLE) AS total FROM freq),
model AS (
  SELECT token,
         CAST(ROUND(ROUND(ln(CAST(tf AS DOUBLE) / total), 6) * 1e6, 0)
              AS BIGINT) AS logp_micro
  FROM freq, tot
)
SELECT t.doc_id,
       COUNT(*) AS n_tokens,
       SUM(m.logp_micro) AS sum_logp_micro,
       CAST(SUM(m.logp_micro) AS DOUBLE) / COUNT(*) / 1e6 AS avg_logp
FROM toks t JOIN model m USING (token)
GROUP BY t.doc_id
"""


@register("lm_unigram_doc_score", oracle=_LM_ORACLE)
def lm_unigram_doc_score(spark, sf_dir):
    """Unigram language-model quality score per document: train the
    model on the corpus itself (token frequency / total), then score
    each doc by mean log-probability — the standard LM-based quality
    gate for pretraining corpora, minus the external KenLM artifact.

    Plan: one explode→groupBy(token) builds the model (map-side combine
    bounds the fan-out); the scoring join is a plain equi-join on token
    that AQE turns into a broadcast when the vocab fits (it does here;
    at 100 TB vocab a shuffle hash join on token is the right fallback
    and what Catalyst picks). Per-token log-probs are round(6)-ed
    (libm ln is not correctly-rounded) and then carried as exact BIGINT
    micro-units: the per-doc sum is integer (order-independent) and the
    mean is derived by two IEEE divisions with NO final ROUND — a
    ROUND(double, 6) on 50k per-doc averages is a 50k-draw lottery on
    cross-engine round-half ties (it hit at sf1: one doc's average
    flipped 1e-6 between Spark's BigDecimal half-up and DuckDB's
    scaled-multiply round, cascading the sorted compare), whereas
    identical doubles through identical IEEE ops cannot diverge."""
    d = load(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("token"))
    freq = toks.groupBy("token").agg(F.count(F.lit(1)).alias("tf"))
    total = freq.agg(F.sum("tf").cast("double").alias("total"))
    model = freq.crossJoin(F.broadcast(total)).select(
        "token",
        F.round(
            F.round(F.log(F.col("tf").cast("double") / F.col("total")), 6) * 1e6, 0
        )
        .cast("long")
        .alias("logp_micro"),
    )
    return (
        toks.join(model, "token")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("logp_micro").alias("sum_logp_micro"),
            (
                F.sum("logp_micro").cast("double")
                / F.count(F.lit(1))
                / F.lit(1e6)
            ).alias("avg_logp"),
        )
    )


# ---------------------------------------------------------------------------
# Bigram-LM document quality score (round 8 — the conditional upgrade
# of the unigram gate; CCNet's KenLM gate is an n-gram LM, and the
# bigram conditional p(w2|w1) is its SQL-tractable core)
# ---------------------------------------------------------------------------

_BIGRAM_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, {TOKS} AS ts FROM documents
),
big AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(ts)),
                               i -> ts[i] || ' ' || ts[i + 1])) AS bg
  FROM toks WHERE len(ts) >= 2
),
bgf AS (SELECT bg, COUNT(*) AS c2 FROM big GROUP BY bg),
uf AS (
  SELECT split_part(bg, ' ', 1) AS w1, COUNT(*) AS c1 FROM big GROUP BY 1
),
model AS (
  SELECT bgf.bg,
         CAST(ROUND(ROUND(ln(CAST(c2 AS DOUBLE) / CAST(c1 AS DOUBLE)), 6)
              * 1e6, 0) AS BIGINT) AS logp_micro
  FROM bgf JOIN uf ON split_part(bgf.bg, ' ', 1) = uf.w1
)
SELECT b.doc_id,
       COUNT(*) AS n_bigrams,
       SUM(m.logp_micro) AS sum_logp_micro,
       CAST(SUM(m.logp_micro) AS DOUBLE) / COUNT(*) / 1e6 AS avg_logp
FROM big b JOIN model m USING (bg)
GROUP BY b.doc_id
"""


@register("lm_bigram_doc_score", oracle=_BIGRAM_ORACLE)
def lm_bigram_doc_score(spark, sf_dir):
    """Bigram conditional-LM quality score per document: train
    p(w2|w1) = c(w1 w2) / c(w1 ·) on the corpus itself, then score
    each doc by mean log conditional probability of its consecutive
    token pairs — the next step up from `lm_unigram_doc_score` toward
    the CCNet KenLM perplexity gate, still with zero external
    artifacts (self-trained ⇒ every scored bigram was seen ⇒ no
    smoothing needed for definedness). Docs with < 2 tokens have no
    bigrams and are absent, exactly like the oracle.

    Plan shape at 100 TB: bigram expansion is a JVM-side
    transform+explode (no Python); the model is two token-keyed
    aggregations with map-side combine; scoring is one equi-join on
    the bigram key — AQE broadcasts the model while it fits, shuffle
    hash join beyond. Probabilities are exact rationals of two counts;
    the only libm call (ln) is round(6)-ed then carried as exact int64
    micro-units so per-doc sums are order-independent (the
    lm_unigram_doc_score lesson).
    """
    d = load(spark, sf_dir, "documents")
    ts = d.select("doc_id", tokens(F.col("text")).alias("ts")).filter(
        F.size("ts") >= 2
    )
    big = ts.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(ts) - 1), "
                "i -> concat(element_at(ts, i), ' ', element_at(ts, i + 1)))"
            )
        ).alias("bg"),
    )
    bgf = big.groupBy("bg").agg(F.count(F.lit(1)).alias("c2"))
    uf = (
        big.select(F.substring_index("bg", " ", 1).alias("w1"))
        .groupBy("w1")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    model = bgf.join(
        uf, F.substring_index(bgf.bg, " ", 1) == uf.w1
    ).select(
        "bg",
        F.round(
            F.round(
                F.log(F.col("c2").cast("double") / F.col("c1").cast("double")),
                6,
            )
            * 1e6,
            0,
        )
        .cast("long")
        .alias("logp_micro"),
    )
    return (
        big.join(model, "bg")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("logp_micro").alias("sum_logp_micro"),
            (
                F.sum("logp_micro").cast("double")
                / F.count(F.lit(1))
                / F.lit(1e6)
            ).alias("avg_logp"),
        )
    )


# ---------------------------------------------------------------------------
# One k-means Lloyd step (assign to nearest centroid, recompute means)
# ---------------------------------------------------------------------------

_KMEANS_K = 8
_KMEANS_DIST = fold_sum(
    "list_transform(range(1, len(e.embedding) + 1), "
    "i -> (e.embedding[i]::DOUBLE - c.cvec[i]::DOUBLE) "
    "* (e.embedding[i]::DOUBLE - c.cvec[i]::DOUBLE))"
)

_KMEANS_ORACLE = f"""
WITH c AS (
  SELECT vec_id AS cid, embedding AS cvec FROM embeddings WHERE vec_id < {_KMEANS_K}
),
d AS (
  SELECT e.vec_id, e.embedding, c.cid,
         {_KMEANS_DIST} AS dist
  FROM embeddings e CROSS JOIN c
),
best AS (
  SELECT vec_id, embedding, cid,
         row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
  FROM d
),
comp AS (
  SELECT cid, unnest(range(len(embedding))) AS dim, unnest(embedding) AS val
  FROM best WHERE rn = 1
)
SELECT cid,
       CAST(dim AS INT) AS dim,
       COUNT(*) AS n_assigned,
       ROUND(CAST(SUM(CAST(CAST(val AS DOUBLE) AS DECIMAL(30,6))) AS DOUBLE)
             / COUNT(*), 6) AS component
FROM comp
GROUP BY cid, dim
"""


@register("kmeans_lloyd_step", oracle=_KMEANS_ORACLE)
def kmeans_lloyd_step(spark, sf_dir):
    """One Lloyd iteration of k-means over the embedding corpus with
    deterministic seeds (centroids = vec_id < k): assign every vector
    to its nearest centroid by squared L2, then emit the updated
    centroid as per-dimension means (long format: cid, dim, component)
    — the building block of embedding-space data selection / cluster
    balancing for pretraining mixes.

    Plan: the k centroids broadcast to every corpus partition (the
    corpus itself never shuffles for assignment); squared distance is a
    left-to-right F.aggregate fold matching DuckDB's list_reduce
    bit-for-bit; argmin is a (dist, cid)-ordered row_number so ties
    break deterministically; the update is posexplode → one
    groupBy(cid, dim) with decimal-accumulated means. At 100 TB the
    assignment stage is embarrassingly parallel and the update shuffle
    carries only k×dim×partitions partial sums. Iterating = re-running
    with the emitted centroids broadcast back (see
    components_near_dup_clusters for the loop pattern with
    localCheckpoint lineage truncation)."""
    e = load(spark, sf_dir, "embeddings")
    cents = e.filter(F.col("vec_id") < _KMEANS_K).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec")
    )
    diff_sq = F.zip_with(
        "embedding",
        "cvec",
        lambda a, b: (a.cast("double") - b.cast("double"))
        * (a.cast("double") - b.cast("double")),
    )
    dist = F.aggregate(diff_sq, F.lit(0.0), lambda acc, x: acc + x)
    assigned = (
        e.crossJoin(F.broadcast(cents))
        .select("vec_id", "embedding", "cid", dist.alias("dist"))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("vec_id").orderBy("dist", "cid")
            ),
        )
        .filter(F.col("rn") == 1)
    )
    return (
        assigned.select("cid", F.posexplode("embedding").alias("dim", "val"))
        .groupBy("cid", "dim")
        .agg(
            F.count(F.lit(1)).alias("n_assigned"),
            # float32 → double FIRST: casting a float straight to decimal
            # rounds its shortest-string repr (0.0165745), while DuckDB
            # rounds the double promotion (0.0165744998…) — 1-ulp hash
            # breaks at .xxxxx5 boundaries. Promoting to double makes both
            # engines round the identical value.
            F.round(
                F.sum(F.col("val").cast("double").cast("decimal(30,6)"))
                .cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("component"),
        )
    )


# ---------------------------------------------------------------------------
# Robust outliers: exact MAD (median absolute deviation), deterministic
# ---------------------------------------------------------------------------

_MAD_ORACLE = """
WITH r AS (
  SELECT event_type, event_id, value,
         row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM events WHERE value IS NOT NULL
),
med AS (
  SELECT event_type, SUM(value) / COUNT(*) AS med
  FROM r WHERE rn IN ((n + 1) // 2, (n + 2) // 2) GROUP BY event_type
),
dev AS (
  SELECT r.event_type, r.event_id, abs(r.value - m.med) AS adev, m.med,
         row_number() OVER (PARTITION BY r.event_type
                            ORDER BY abs(r.value - m.med), r.event_id) AS rn,
         COUNT(*) OVER (PARTITION BY r.event_type) AS n
  FROM r JOIN med m USING (event_type)
),
mad AS (
  SELECT event_type, SUM(adev) / COUNT(*) AS mad
  FROM dev WHERE rn IN ((n + 1) // 2, (n + 2) // 2) GROUP BY event_type
)
SELECT d.event_type,
       COUNT(*) AS n,
       ROUND(ANY_VALUE(d.med), 6) AS med,
       ROUND(ANY_VALUE(m.mad), 6) AS mad,
       COUNT(*) FILTER (WHERE d.adev > 3 * m.mad) AS n_outliers
FROM dev d JOIN mad m USING (event_type)
GROUP BY d.event_type
"""


@register("mad_robust_outliers", oracle=_MAD_ORACLE)
def mad_robust_outliers(spark, sf_dir):
    """Robust per-group outlier detection: exact median + exact MAD
    (median absolute deviation), flagging |x − med| > 3·MAD — the
    clipping rule winsorize_clip_outliers's percentile variant can't
    express when the tails themselves are contaminated.

    Exactness WITHOUT the per-key sort (r10 verdict item #6 — the old
    formulation, kept verbatim as the DuckDB oracle, ranks every group
    twice with (value, event_id) windows: two full per-key sorts, the
    documented watch item at 100 TB). Both medians now come from
    operators/quantiles.exact_group_percentiles — iterative histogram
    refinement, every group's ranges sharing ONE scan job per level,
    O(log n) jobs total, nothing sorted anywhere. Bit-equality with
    the sort-based oracle holds by construction: the engine resolves
    the two middle ORDER STATISTICS exactly, and at the even-n
    midpoint frac is exactly 0.5, where the weighted interpolation
    0.5·lo + 0.5·hi and the oracle's SUM/2 round identically (halving
    is exact; one rounding each at the add). The per-group medians
    (≤ |event_type| scalars) return as a literal map onto the scan —
    the corpus pays ONE final partial-aggregated groupBy, no window,
    no join.

    NULL semantics (r11 ADVICE): NULL values are EXCLUDED on both
    engines — the Spark side filters them before the histogram
    refinement (exact_group_percentiles already ignores NULLs), and
    the oracle's rank CTE carries the matching ``WHERE value IS NOT
    NULL``. The previous oracle ranked NULLs into n (DuckDB sorts
    NULLs last), which would have silently shifted the median pick on
    any NULL-bearing group; a median over present values is the
    statistic the operator means."""
    from ..operators.quantiles import exact_group_percentiles

    e = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    meds = exact_group_percentiles(e, "event_type", "value", [0.5])
    med_map = F.create_map(
        *[F.lit(x) for g, (vals, _n) in sorted(meds.items()) for x in (g, vals[0])]
    )
    dev = e.select(
        "event_type",
        F.abs(F.col("value") - med_map[F.col("event_type")]).alias("adev"),
    )
    mads = exact_group_percentiles(dev, "event_type", "adev", [0.5])
    mad_map = F.create_map(
        *[F.lit(x) for g, (vals, _n) in sorted(mads.items()) for x in (g, vals[0])]
    )
    return (
        dev.withColumn("mad", mad_map[F.col("event_type")])
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.first(F.round(med_map[F.col("event_type")], 6)).alias("med"),
            F.first(F.round(F.col("mad"), 6)).alias("mad"),
            F.count(F.when(F.col("adev") > 3 * F.col("mad"), 1)).alias("n_outliers"),
        )
    )


# ---------------------------------------------------------------------------
# Leave-one-out target encoding
# ---------------------------------------------------------------------------

_LOO_ORACLE = """
WITH a AS (
  SELECT event_type,
         CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS s,
         COUNT(*) AS c
  FROM events GROUP BY event_type
)
SELECT e.event_id, e.event_type,
       CASE WHEN a.c > 1
            THEN ROUND((a.s - e.value) / (a.c - 1), 6) END AS loo_target_enc
FROM events e JOIN a USING (event_type)
"""


@register("target_encode_loo", oracle=_LOO_ORACLE)
def target_encode_loo(spark, sf_dir):
    """Leave-one-out target encoding of a categorical feature: each
    row's encoding is the mean target of its category EXCLUDING the row
    itself ((Σ − x)/(n − 1)) — the leakage-safe variant of mean target
    encoding used in feature pipelines.

    Plan: one groupBy builds the per-category (decimal-exact) sum/count
    table, which broadcasts back onto the fact scan — no second shuffle
    of the fact table, so at 100 TB this is a single pass + a broadcast
    join against a |categories|-row table. Singleton categories encode
    as NULL rather than dividing by zero."""
    e = load(spark, sf_dir, "events")
    a = e.groupBy("event_type").agg(
        F.sum(F.col("value").cast("decimal(30,6)")).cast("double").alias("s"),
        F.count(F.lit(1)).alias("c"),
    )
    return e.join(F.broadcast(a), "event_type").select(
        "event_id",
        "event_type",
        F.when(
            F.col("c") > 1,
            F.round((F.col("s") - F.col("value")) / (F.col("c") - 1), 6),
        ).alias("loo_target_enc"),
    )
