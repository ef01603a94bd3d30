"""Product-quantization ANN: subspace codebooks, corpus encoding, and
asymmetric-distance (ADC) scans — the classic memory-bounded
complement to the IVF index (operators/ivf.py), re-expressed
Spark-first (reference parity target: the vector-search surface of
/root/reference's ANN suite; design per Jégou et al., "Product
Quantization for Nearest Neighbor Search", public).

At 100 TB the point of PQ is that the SCAN never touches the raw
vectors: the corpus is stored as m small codes per vector (here 8
bytes), and a query ranks candidates from those codes plus a tiny
codebook — so the working set is codes + codebook, ~32× smaller than
float32 vectors. Encoding is embarrassingly parallel (one Arrow batch
at a time, no shuffle); the ADC scan is a broadcast of the queries
over a code-only projection of the corpus, followed by a per-query
top-k window — one shuffle of the k×|queries| survivors.

Determinism contract (shared with the DuckDB oracles in
plans/similarity_queries.py):
  - codebook[s][j] = subvector s of seed vector j (vec_id < k_codes),
    each component ROUND(double, 6) — half away from zero, the same
    seed recipe as operators/ivf.lloyd_converged;
  - subspace squared distance = left-to-right fold of (v[d]-c[d])² in
    index order seeded 0.0 (numpy evaluates the identical sequence,
    vectorized over rows — never pairwise/SIMD summation);
  - encode argmin tie-break on (dist, j) — np.argmin keeps the FIRST
    minimum, DuckDB row_number orders by (dist, j);
  - ADC(q, codes) = left fold over subspaces IN ORDER, seeded 0.0, of
    the per-subspace folds — NOT one flat 64-term fold (different
    rounding order), and both engines honor the same nesting.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# module-level so stringified pandas_udf type hints resolve (see ivf.py)
import pandas as pd

from .train_blocks import _cell_dists_mat

PQ_N_SUB = 8  # subspaces
PQ_K_CODES = 16  # codewords per subspace

# Trained-codebook hyperparameters (r6 verdict item #1): 64 codewords
# per subspace (6-bit codes — still one byte each stored), per-subspace
# Lloyd iterated to a 0.01 max-component shift. The tolerance is looser
# than the coarse quantizer's 0.002 deliberately: codebook components
# are averages of ≥ a handful of subvectors and the ADC ranking is
# insensitive to the 3rd decimal, while every extra iteration costs an
# unrolled CTE block in the cross-engine oracle.
PQ_TRAIN_K = 64
PQ_TRAIN_TOL_MICRO = 10000
PQ_TRAIN_MAX_ITER = 60

# Default deterministic training sample (r7 verdict item #4): above
# this many vectors, training runs on vec_id % stride == 0 with
# stride = ceil(n / cap) — per-iteration cost becomes ~CONSTANT in
# corpus size while the model stays k × dim scalars. 4096 is chosen
# so every driver fixture (≤2000 embeddings) trains on the FULL set
# (stride 1 → bit-identical to the unsampled recipe) and the repo's
# sf1+ fixtures (20k+) sample ~4k vectors. The rule is mirrored
# exactly in SQL by plans/pq_train_sql.train_source_sql so the DuckDB
# oracle trains on the same rows.
PQ_TRAIN_SAMPLE_CAP = 4096


def pq_train_stride(n_vectors: int, cap: int = PQ_TRAIN_SAMPLE_CAP) -> int:
    """ceil(n / cap) in exact integer arithmetic (shared with the SQL
    twin's ``(COUNT(*) + cap - 1) // cap``)."""
    return max(1, (int(n_vectors) + cap - 1) // cap)


def corpus_rows(sf_dir: str, table: str = "embeddings") -> int:
    """Row count from the parquet FOOTERS — no Spark job (the stride
    decision needs only n; a distributed count on a 2000-row fixture
    still costs a whole job's latency, which showed up as a ~1.5×
    bench regression on every sub-second PQ row at sf0.1)."""
    import pyarrow.parquet as papq

    path = os.path.join(sf_dir, f"{table}.parquet")
    if os.path.isfile(path):
        return papq.ParquetFile(path).metadata.num_rows
    # directory-shaped table: sum the part footers
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for fn in files:
            if fn.endswith(".parquet"):
                total += papq.ParquetFile(
                    os.path.join(dirpath, fn)
                ).metadata.num_rows
    return total


def pq_codebooks(
    spark: SparkSession,
    embeddings: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_sub: int = PQ_N_SUB,
    k_codes: int = PQ_K_CODES,
) -> list[list[list[float]]]:
    """``codebooks[s][j]`` = the s-th subvector of the j-th LOWEST-id
    vector of ``embeddings`` (for a full contiguous-id corpus this is
    exactly id < k_codes — the original recipe; for a sampled train
    set it is the k lowest surviving ids), components rounded to 6 dp
    — a deterministic seed codebook (pq_train_codebooks refines it
    with per-subspace Lloyd; the scan below is agnostic to how the
    codebook was trained). Collects k_codes rows — O(k·dim) driver
    bytes, independent of corpus size. SQL twin:
    plans/pq_train_sql.c0_sql's ORDER BY vec_id LIMIT k seed CTE."""
    proj = embeddings.select(
        id_col,
        F.transform(vec_col, lambda x: F.round(x.cast("double"), 6)).alias(
            "c"
        ),
    )
    # fast path: a full contiguous-id corpus has its k lowest ids at
    # id < k — a pushed-down filter scan, cheaper than a TakeOrdered
    # job. Falls back to ORDER BY id LIMIT k (the general definition,
    # e.g. a strided train sample) when the filter doesn't yield
    # exactly ids 0..k-1.
    rows = proj.filter(F.col(id_col) < k_codes).collect()
    if sorted(int(r[id_col]) for r in rows) != list(range(k_codes)):
        rows = proj.orderBy(id_col).limit(k_codes).collect()
        rows = sorted(rows, key=lambda r: r[id_col])
        if len(rows) != k_codes:
            raise RuntimeError(
                f"expected {k_codes} seed vectors, got {len(rows)}"
            )
    else:
        rows = sorted(rows, key=lambda r: r[id_col])
    seeds = [[float(v) for v in r.c] for r in rows]  # id-ordered
    dim = len(seeds[0])
    if dim % n_sub:
        raise ValueError(f"dim {dim} not divisible into {n_sub} subspaces")
    w = dim // n_sub
    return [
        [seeds[j][s * w : (s + 1) * w] for j in range(k_codes)]
        for s in range(n_sub)
    ]


def _pq_update(
    e: DataFrame,
    cbs_by_s: dict[int, list[list[float]]],
    vec_col: str = "embedding",
) -> DataFrame:
    """One per-subspace Lloyd update as a lazy DataFrame
    ``(s, j, dim, n_assigned, component)`` covering every subspace in
    ``cbs_by_s`` (keys = subspace ids, values = current codebooks).

    Scale shape (the PQ twin of operators/ivf._lloyd_update): the
    assignment is an Arrow-batched numpy argmin per subspace —
    constant plan shape, codebooks ride in the closure, no
    join/shuffle — and the update is posexplode → groupBy(s, j, dim)
    with map-side partial aggregation, so the shuffle carries only
    |subspaces| × k × w × partitions partial sums regardless of corpus
    size. Components are 6-dp decimal means (the cross-engine exact
    recipe shared with kmeans_lloyd_step)."""
    from pyspark.sql.functions import pandas_udf

    active = sorted(cbs_by_s)
    cbs_local = [
        [[float(x) for x in cw] for cw in cbs_by_s[s]] for s in active
    ]
    w = len(cbs_local[0][0])

    @pandas_udf("array<int>")
    def _codes(emb: pd.Series) -> pd.Series:
        import numpy as np

        if len(emb) == 0:
            return pd.Series([], dtype="object")
        M = np.vstack(emb.to_numpy()).astype(np.float64)
        out = np.empty((M.shape[0], len(cbs_local)), dtype=np.int32)
        for a, (s, sub) in enumerate(zip(active, cbs_local)):
            d = _cell_dists_mat(M[:, s * w : (s + 1) * w], sub)
            out[:, a] = np.argmin(d, axis=1)  # first min → lowest j
        return pd.Series(list(out))

    s_pos = F.array(*[F.lit(int(s)) for s in active])
    assigned = e.select(F.col(vec_col).alias("_v")).withColumn(
        "_codes", _codes(F.col("_v"))
    )
    return (
        assigned.select("_codes", F.posexplode("_v").alias("gd", "val"))
        .withColumn("s", F.floor(F.col("gd") / w).cast("int"))
        .withColumn("_pos", F.array_position(s_pos, F.col("s")))
        .filter(F.col("_pos") > 0)
        .select(
            "s",
            F.element_at("_codes", F.col("_pos").cast("int")).alias("j"),
            (F.col("gd") % w).cast("int").alias("dim"),
            "val",
        )
        .groupBy("s", "j", "dim")
        .agg(
            F.count(F.lit(1)).alias("n_assigned"),
            # float32 → double FIRST, then exact decimal accumulation;
            # ×1e6 turns the 6-dp decimal sum into an EXACT int64
            (
                F.sum(F.col("val").cast("double").cast("decimal(30,6)"))
                * 1000000
            )
            .cast("long")
            .alias("_am"),
        )
        # component = the int64 half-away-from-zero mean of
        # train_blocks.pq_component (see there for why not ROUND)
        .select(
            "s",
            "j",
            "dim",
            "n_assigned",
            (
                F.expr(
                    "CASE WHEN _am >= 0 "
                    "THEN (2 * _am + n_assigned) DIV (2 * n_assigned) "
                    "ELSE -((-2 * _am + n_assigned) DIV (2 * n_assigned)) "
                    "END"
                ).cast("double")
                / 1000000.0
            ).alias("component"),
        )
    )


# r13: the process-wide codebook memo (keyed on the embeddings file
# identity, same recipe as the removed operators/ivf._CACHE) was
# REMOVED — a bench's timed run and every later catalog query must
# train from the parquet inputs, not return another invocation's
# result. Within-call reuse stays: the training frame is persisted for
# the duration of one call.


def pq_train_codebooks(
    spark: SparkSession,
    sf_dir: str,
    vec_col: str = "embedding",
    train_df: DataFrame | None = None,
) -> tuple[list[list[list[float]]], list[int], dict[int, list[list[float]]]]:
    """TRAINED per-subspace codebooks: Lloyd's k-means (PQ_TRAIN_K
    codewords) run independently in each of the PQ_N_SUB subspaces
    until that subspace's max per-component centroid shift drops to ≤
    PQ_TRAIN_TOL_MICRO micro-units (per-subspace stopping — each
    codebook is a converged k-means, not a snapshot of a
    jointly-stopped loop). Returns ``(codebooks, n_iters, prev_cbs)``:

    - ``codebooks[s][j]`` — converged codeword j of subspace s;
    - ``n_iters[s]`` — the iteration at which subspace s converged;
    - ``prev_cbs[s]`` — subspace s's codebook at ``n_iters[s] − 1``, so
      catalog queries can rebuild the final aggregation LAZILY and
      return a distributed plan (the lloyd_converged convention).

    Training set: above PQ_TRAIN_SAMPLE_CAP vectors the train set is
    the DETERMINISTIC sample ``vec_id % ceil(n / cap) == 0`` (r7
    verdict item #4) — per-iteration cost is then ~constant in corpus
    size, which is the 100 TB story; below the cap it is the full
    corpus, so all driver fixtures ≤2000 vectors train on every
    vector. The same rule applies to a caller-supplied ``train_df``
    (which must carry ``vec_id``), and is mirrored exactly in the
    DuckDB oracle by plans/pq_train_sql.train_source_sql. The subspaces
    are the models of the one train_blocks loop: every iteration is
    ONE shuffle-free job over the persisted blocks RDD covering all
    still-active subspaces, and converged subspaces drop out of later
    jobs.

    Raises loudly on empty codewords or non-convergence (both would
    silently diverge from the DuckDB oracle's unrolled chain).
    Measured convergence (max over subspaces) — re-measured r8 after
    the int64-rational component recipe landed: 15 / 10 / 19
    iterations at sf0.001 / 0.01 / 0.1. Convergence depth does NOT
    shrink monotonically with corpus size (sf0.1's 19 is the deepest);
    PQ_UNROLL = 24 covers the measured worst with headroom and
    test_pq_unroll_covers_fixtures re-pins it every run.
    """
    from ..io_utils import load
    from .train_blocks import pq_component, train, training_blocks

    e = (
        train_df
        if train_df is not None
        else load(spark, sf_dir, "embeddings").select("vec_id", vec_col)
    )
    n = corpus_rows(sf_dir) if train_df is None else e.count()
    stride = pq_train_stride(n)
    if stride > 1:
        e = e.filter((F.col("vec_id") % stride) == 0)
    seeds = pq_codebooks(spark, e, vec_col=vec_col, k_codes=PQ_TRAIN_K)
    blocks = training_blocks(e, vec_col=vec_col)
    try:
        final, n_iters, prev_cbs = train(
            blocks,
            dict(enumerate(seeds)),
            pq_component,
            PQ_TRAIN_TOL_MICRO,
            PQ_TRAIN_MAX_ITER,
            capped=False,
        )
    finally:
        blocks.unpersist()
    return (
        [final[s] for s in range(PQ_N_SUB)],
        [n_iters[s] for s in range(PQ_N_SUB)],
        prev_cbs,
    )


def encode_codes(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    out_col: str = "codes",
) -> DataFrame:
    """Append ``out_col`` = array<int> of per-subspace nearest-codeword
    ids. Arrow-batched numpy, constant plan shape (the codebook rides
    in the closure), no shuffle — the 100 TB encode is a pure map."""
    from pyspark.sql.functions import pandas_udf

    cbs = [[list(map(float, cw)) for cw in sub] for sub in codebooks]
    w = len(cbs[0][0])

    @pandas_udf("array<int>")
    def _encode(emb: pd.Series) -> pd.Series:
        import numpy as np

        if len(emb) == 0:
            return pd.Series([], dtype="object")
        M = np.vstack(emb.to_numpy()).astype(np.float64)
        codes = np.empty((M.shape[0], len(cbs)), dtype=np.int32)
        for s, sub in enumerate(cbs):
            d = _cell_dists_mat(M[:, s * w : (s + 1) * w], sub)
            codes[:, s] = np.argmin(d, axis=1)  # first min → lowest j
        return pd.Series(list(codes))

    return df.withColumn(out_col, _encode(F.col(vec_col)))


def residual_struct(cents: list[list[float]], vec_col: str = "embedding"):
    """Column: ``struct<cell:int, rv:array<double>>`` — the vector's
    nearest coarse centroid (argmin by (dist, cid), exact left-fold
    distances) and its RESIDUAL v − centroid[cell], the quantity real
    FAISS IVFPQ encodes instead of the raw vector (residuals are
    cell-centered, so a small codebook spends its codewords on the
    informative part). One Arrow map, constant plan shape (centroids in
    the closure — the r6 lesson: k×dim literal expression trees blow up
    CollapseProject re-inlining), no shuffle. rv[d] =
    float64(v[d]) − component[d]: both engines subtract the identical
    doubles, so residuals are bit-shared with the oracle's
    list_transform."""
    from pyspark.sql.functions import pandas_udf

    cents_local = [[float(x) for x in c] for c in cents]

    @pandas_udf("struct<cell:int, rv:array<double>>")
    def _res(emb: pd.Series) -> pd.DataFrame:
        import numpy as np

        if len(emb) == 0:
            return pd.DataFrame({"cell": [], "rv": []})
        M = np.vstack(emb.to_numpy()).astype(np.float64)
        cells = np.argmin(_cell_dists_mat(M, cents_local), axis=1)
        C = np.asarray(cents_local, dtype=np.float64)[cells]
        R = M - C
        return pd.DataFrame(
            {"cell": cells.astype("int32"), "rv": list(R)}
        )

    return _res(F.col(vec_col))


def decode_error(
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    codes_col: str = "codes",
    cents: list[list[float]] | None = None,
    cell_col: str = "cell",
):
    """Column: squared reconstruction error ‖v − decode(codes)‖² — ONE
    flat 0.0-seeded fold over all dims of (v[d] − recon[d])², where
    recon = concat of the chosen codewords (+ the coarse centroid of
    ``cell_col`` when ``cents`` is given: the residual-encoding
    reconstruction cent + decode(res_codes)). The quantization-quality
    metric ivfpq_residual_quantization_audit reports; Arrow map, no
    shuffle, corpus-parallel."""
    from pyspark.sql.functions import pandas_udf

    cbs = [[list(map(float, cw)) for cw in sub] for sub in codebooks]
    w = len(cbs[0][0])
    cents_local = (
        [[float(x) for x in c] for c in cents] if cents is not None else None
    )

    @pandas_udf("double")
    def _err(emb: pd.Series, codes: pd.Series, cell: pd.Series) -> pd.Series:
        import numpy as np

        if len(emb) == 0:
            return pd.Series([], dtype="float64")
        M = np.vstack(emb.to_numpy()).astype(np.float64)
        C = np.vstack(codes.to_numpy()).astype(np.int64)
        recon = np.empty_like(M)
        for s, sub in enumerate(cbs):
            recon[:, s * w : (s + 1) * w] = np.asarray(sub, dtype=np.float64)[
                C[:, s]
            ]
        if cents_local is not None:
            recon = (
                np.asarray(cents_local, dtype=np.float64)[
                    cell.to_numpy().astype(np.int64)
                ]
                + recon
            )
        acc = np.zeros(M.shape[0], dtype=np.float64)
        for d in range(M.shape[1]):
            diff = M[:, d] - recon[:, d]
            acc = acc + diff * diff
        return pd.Series(acc)

    cell_arg = (
        F.col(cell_col) if cents is not None else F.lit(0).cast("int")
    )
    return _err(F.col(vec_col), F.col(codes_col), cell_arg)


def exact_l2_distance(query_col: str = "q_embedding", vec_col: str = "embedding"):
    """Column: exact squared L2 between two vector columns — ONE flat
    0.0-seeded left fold over all dims (sequential over dims,
    vectorized over rows), bit-identical to the DuckDB flat fold the
    rerank oracles use. This is the RERANK distance: applied only to
    the top-R ADC survivors after their raw vectors are joined back,
    so the exact math touches R×|queries| rows, never the corpus."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _l2(q: pd.Series, c: pd.Series) -> pd.Series:
        import numpy as np

        if len(q) == 0:
            return pd.Series([], dtype="float64")
        Q = np.vstack(q.to_numpy()).astype(np.float64)
        C = np.vstack(c.to_numpy()).astype(np.float64)
        acc = np.zeros(Q.shape[0], dtype=np.float64)
        for d in range(Q.shape[1]):
            diff = Q[:, d] - C[:, d]
            acc = acc + diff * diff
        return pd.Series(acc)

    return _l2(F.col(query_col), F.col(vec_col))


def adc_distance(
    codebooks: list[list[list[float]]],
    query_col: str = "q_embedding",
    codes_col: str = "codes",
):
    """Column: exact ADC distance between a query vector column and a
    corpus codes column. Per Arrow batch: reconstruct the chosen
    codeword rows by fancy-indexing the closure codebook, then the
    nested exact fold (dims within a subspace, then subspaces in
    order). Row-parallel, no shuffle — the scan cost is
    |corpus|×|queries| fused multiply-adds over CODES, never over raw
    corpus vectors."""
    from pyspark.sql.functions import pandas_udf

    cbs = [[list(map(float, cw)) for cw in sub] for sub in codebooks]
    w = len(cbs[0][0])

    @pandas_udf("double")
    def _adc(q: pd.Series, codes: pd.Series) -> pd.Series:
        import numpy as np

        if len(q) == 0:
            return pd.Series([], dtype="float64")
        Q = np.vstack(q.to_numpy()).astype(np.float64)
        C = np.vstack(codes.to_numpy()).astype(np.int64)
        total = np.zeros(Q.shape[0], dtype=np.float64)
        for s, sub in enumerate(cbs):
            CW = np.asarray(sub, dtype=np.float64)[C[:, s]]  # n × w
            Qs = Q[:, s * w : (s + 1) * w]
            acc = np.zeros(Q.shape[0], dtype=np.float64)
            for d in range(w):
                diff = Qs[:, d] - CW[:, d]
                acc = acc + diff * diff
            total = total + acc  # fold over subspaces IN ORDER
        return pd.Series(total)

    return _adc(F.col(query_col), F.col(codes_col))
