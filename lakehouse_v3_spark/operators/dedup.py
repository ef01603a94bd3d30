"""Deduplication operators for training-data pipelines: exact dedup,
word n-gram shingling, MinHash+LSH near-dup, SimHash signatures.

All hashing is md5-derived (cross-engine deterministic: the DuckDB
oracle computes identical ints), all stages are built-in DataFrame ops
— explode / groupBy / join — so the same plan scales by shuffle on
shingle/band keys. No UDFs anywhere.

Scale notes (100 TB corpora):
  - shingling/minhash is a map-side projection (array functions);
  - the only shuffles are groupBy(doc) for signatures and the band
    bucket self-join; band buckets bound candidate-pair fan-out, so
    cost is Σ bucket² not n² (salting a hot bucket if a band value
    skews);
  - exact jaccard verification joins only candidate pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# MinHash parameters — shared with the DuckDB oracle SQL (plans/dedup_queries).
MINHASH_PRIME = 1_000_003
# (a, b) pairs for h_j(x) = (a*x + b) % PRIME; a*x stays < 2^63.
MINHASH_SEEDS = [
    (443_021, 911_227),
    (151_253, 202_021),
    (733_211, 617_093),
    (379_721, 827_191),
    (997_003, 103_561),
    (563_167, 491_731),
    (281_407, 743_909),
    (859_433, 314_159),
]
# 8 hashes → 2 bands of 4: band-match probability is sim^4, so low-sim
# pairs (the bulk of a shared-vocab corpus) almost never become
# candidates while true near-dups (sim ≳ 0.8) still collide. Band size
# is THE candidate-volume throttle at scale — prefer more hashes with
# wider bands as corpora grow.
BAND_SIZE = 4


def md5_int(col, mod: int | None = MINHASH_PRIME, hex_digits: int = 8):
    """First ``hex_digits`` hex digits of md5 → BIGINT, then % ``mod``
    unless it is None (DuckDB: ('0x' || substr(md5(x), 1, hex_digits))
    ::BIGINT % mod). The one Spark md5-prefix hash: 8 digits for
    shingle and bucket hashes, 15 (60 bits) for shingle keys, 4 for
    SimHash token bits."""
    h = F.conv(F.substring(F.md5(col), 1, hex_digits), 16, 10).cast("long")
    return h if mod is None else h % mod


def word_shingles(tok_arr, k: int = 3):
    """Array of k-word shingles ('w1 w2 ... wk') from a token array.
    Empty when the document has fewer than k tokens.

    ``tok_arr`` is re-bound to a lambda variable (via a 1-element array
    transform) before any element_at references it: lambda variables
    evaluate their input ONCE per row, whereas inlining the token
    expression would re-run it (regex split and all) for every
    element_at — measured 7.8s → 0.4s on the sf0.1 documents scan."""
    if k == 1:
        return tok_arr

    def shingles_of(toks):
        n = F.size(toks)
        idx = F.sequence(F.lit(1), n - (k - 1))  # 1-based start positions
        mk = lambda i: F.concat_ws(" ", *[F.element_at(toks, i + j) for j in range(k)])  # noqa: E731
        return F.when(n >= k, F.transform(idx, mk)).otherwise(
            F.array().cast("array<string>")
        )

    return F.transform(F.array(tok_arr), shingles_of)[0]


def exact_dedup_groups(df: DataFrame, id_col: str, content_key) -> DataFrame:
    """Exact dedup by content hash: one keeper (min id) + group size
    (reference A14 dropDuplicates, uber/drop_dup.py:58-65, made
    deterministic). Returns (content_key, keeper_id, n_dups)."""
    return (
        df.select(content_key.alias("content_key"), F.col(id_col))
        .groupBy("content_key")
        .agg(
            F.min(id_col).alias(f"keeper_{id_col}"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


def doc_shingle_sets(df: DataFrame, id_col: str, shingle_arr) -> DataFrame:
    """(id, shingle) distinct pairs — the set representation used by both
    minhash signatures and exact jaccard."""
    return (
        df.select(F.col(id_col), F.explode(F.array_distinct(shingle_arr)).alias("shingle"))
        .distinct()
    )


def minhash_signatures(shingle_sets: DataFrame, id_col: str) -> DataFrame:
    """k minhash values per document: min over shingles of
    (a_j * md5int(shingle) + b_j) % PRIME.

    The md5 is materialized in a projection BELOW the aggregation so it
    is computed once per (doc, shingle) row — referencing ``md5_int``
    inside each of the k min-aggregates would hash every shingle k
    times."""
    hashed = shingle_sets.select(F.col(id_col), md5_int(F.col("shingle")).alias("_x"))
    aggs = [
        F.min((F.lit(a) * F.col("_x") + F.lit(b)) % MINHASH_PRIME).alias(f"mh{j}")
        for j, (a, b) in enumerate(MINHASH_SEEDS)
    ]
    return hashed.groupBy(id_col).agg(*aggs)


def lsh_bands(signatures: DataFrame, id_col: str) -> DataFrame:
    """Explode a signature table into (id, band_key) rows — the LSH
    index representation. Persist THIS table to make the index
    incremental: arriving documents band the same way and probe it
    with an equi join (see plans/dedup_queries.py
    dedup_minhash_incremental)."""
    n_bands = len(MINHASH_SEEDS) // BAND_SIZE
    bands = F.array(
        *[
            F.concat_ws(
                "|",
                F.lit(str(b)),
                *[F.col(f"mh{b * BAND_SIZE + r}").cast("string") for r in range(BAND_SIZE)],
            )
            for b in range(n_bands)
        ]
    )
    return signatures.select(F.col(id_col), F.explode(bands).alias("band_key"))


def lsh_candidate_pairs(
    signatures: DataFrame, id_col: str, star: bool = False
) -> DataFrame:
    """LSH banding: documents sharing any band of the signature become a
    candidate pair (id_a < id_b, distinct).

    ``star=False`` emits ALL within-bucket pairs — Σ C(|bucket|, 2).
    That is the right answer when you need every near-dup pair, but it
    is inherently QUADRATIC in cluster size, and template/boilerplate
    clusters grow with corpus size (measured on the synthetic corpus:
    top band bucket 210 → 464 docs from sf5 → sf10, candidate pairs
    exactly 4× for 2× data). ``star=True`` pairs each bucket member
    with only the bucket MINIMUM id — Σ (|bucket|−1), linear — which
    preserves exactly what downstream dedup needs: every member of a
    bucket stays connected to its cluster through the hub, so
    connected-components clustering (and keep-one-per-cluster dedup)
    is unchanged, while the candidate volume stops tracking cluster²;
    this is the standard edge-reduction for LSH dedup at corpus scale.
    """
    banded = lsh_bands(signatures, id_col)
    if star:
        hub = banded.groupBy("band_key").agg(F.min(id_col).alias("id_a"))
        return (
            banded.join(hub, on="band_key")
            .filter(F.col("id_a") < F.col(id_col))
            .select("id_a", F.col(id_col).alias("id_b"))
            .distinct()
        )
    a = banded.select(F.col(id_col).alias("id_a"), "band_key")
    b = banded.select(F.col(id_col).alias("id_b"), "band_key")
    return (
        a.join(b, on="band_key")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def jaccard_verify(
    candidates: DataFrame, shingle_sets: DataFrame, id_col: str
) -> DataFrame:
    """Exact jaccard for candidate pairs: |A∩B| / (|A|+|B|−|A∩B|).
    Joins shingles only for candidate docs."""
    sizes = shingle_sets.groupBy(id_col).agg(F.count(F.lit(1)).alias("set_size"))
    sa = shingle_sets.select(F.col(id_col).alias("id_a"), "shingle")
    sb = shingle_sets.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (
        candidates.join(sa, on="id_a")
        .join(sb, on=["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    za = sizes.select(F.col(id_col).alias("id_a"), F.col("set_size").alias("size_a"))
    zb = sizes.select(F.col(id_col).alias("id_b"), F.col("set_size").alias("size_b"))
    return (
        candidates.join(inter, on=["id_a", "id_b"], how="left")
        .fillna({"n_inter": 0})
        .join(za, on="id_a")
        .join(zb, on="id_b")
        .withColumn(
            "jaccard",
            F.col("n_inter").cast("double")
            / (F.col("size_a") + F.col("size_b") - F.col("n_inter")),
        )
        .select("id_a", "id_b", "jaccard")
    )


def ngram_jaccard_pairs(
    sets: DataFrame,
    id_col: str,
    block_cols: list[str] | None = None,
    allow_quadratic: bool = False,
) -> DataFrame:
    """EXACT all-pairs jaccard over an inverted shingle index: every
    pair sharing ≥1 shingle (within the same block) is scored. This is
    the truth baseline the scalable variants (MinHash-LSH star
    candidates, PPJoin prefix filtering) are value-checked against —
    and it is QUADRATIC BY CONSTRUCTION: the shingle self-join costs
    Σ df² over shingle document frequencies, which tracks corpus² on
    template-heavy corpora. A 100 TB run of this operator is a
    non-starter, so it REFUSES to build a plan unless the caller passes
    ``allow_quadratic=True`` explicitly (the same opt-in pattern as
    similarity.near_dup_pairs' ``allow_all_pairs``) — use
    setsim_prefix_filter_join / dedup_minhash_lsh as the scale paths.

    ``sets`` is (id, shingle[, block cols]) distinct rows; pairs join on
    shingle plus every block col. Returns (id_a, id_b, jaccard).

    CONTRACT: when ``block_cols`` are given, every id must map to a
    SINGLE block-column combination (e.g. one language per document).
    Intersections are computed within blocks while set sizes are
    per-id, so an id whose shingle rows straddle blocks would get a
    silently-wrong jaccard denominator (r5 advisory). The contract is
    enforced eagerly below — one cheap aggregate scan, negligible next
    to the opted-into quadratic join — and violations raise.
    """
    if not allow_quadratic:
        raise ValueError(
            "ngram_jaccard_pairs scores ALL pairs sharing a shingle — "
            "Σ df² work, quadratic in corpus size on template-heavy "
            "data. Pass allow_quadratic=True to opt in explicitly for a "
            "bounded baseline run, or use the scalable variants "
            "(lsh_candidate_pairs star=True, setsim prefix filter)"
        )
    block_cols = block_cols or []
    if block_cols:
        straddlers = (
            sets.groupBy(id_col)
            .agg(
                F.countDistinct(F.struct(*block_cols)).alias("_n_blocks")
            )
            .filter(F.col("_n_blocks") > 1)
            .limit(1)
            .count()
        )
        if straddlers:
            raise ValueError(
                "ngram_jaccard_pairs: at least one id has shingle rows "
                f"under more than one {block_cols} combination — "
                "per-id set sizes would no longer be the jaccard "
                "denominator within a block. Split such ids per block "
                "(or drop block_cols) before calling."
            )
    sizes = sets.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    sa = sets.select(F.col(id_col).alias("id_a"), *block_cols, "shingle")
    sb = sets.select(F.col(id_col).alias("id_b"), *block_cols, "shingle")
    inter = (
        sa.join(sb, on=[*block_cols, "shingle"])
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    za = sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("size_a"))
    zb = sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("size_b"))
    return (
        inter.join(za, on="id_a")
        .join(zb, on="id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.col("n_inter").cast("double")
                / (F.col("size_a") + F.col("size_b") - F.col("n_inter"))
            ).alias("jaccard"),
        )
    )


def simhash16(tok_arr):
    """16-bit SimHash over md5-derived token ints: bit i is set when the
    token-count-weighted sum of (±1 per token bit i) is positive.
    Generated per-bit so the identical expression renders in SQL for the
    oracle (plans/dedup_queries.simhash_sql)."""
    t16 = F.transform(tok_arr, lambda x: md5_int(x, mod=None, hex_digits=4))

    # One traversal: per token, a 16-wide ±1 contribution array, summed
    # elementwise into a 16-counter accumulator. (The per-bit F.aggregate
    # formulation re-walked the array 16× and recomputed every token's
    # md5 each time — 16× the hashing work and a 16×-larger codegen body.)
    def bits_arr(x):
        return F.array(
            *[
                F.when(F.shiftright(x, b).bitwiseAND(F.lit(1)) == 1, F.lit(1))
                .otherwise(F.lit(-1))
                .cast("long")
                for b in range(16)
            ]
        )

    counts = F.aggregate(
        t16,
        F.array_repeat(F.lit(0).cast("long"), 16),
        lambda acc, x: F.zip_with(acc, bits_arr(x), lambda a, c: a + c),
    )
    out = F.lit(0).cast("long")
    for bit in range(16):
        out = out + F.when(F.element_at(counts, bit + 1) > 0, F.lit(2**bit)).otherwise(F.lit(0))
    return out
