"""Converged IVF coarse quantizer: Lloyd's k-means iterated to a fixed
centroid-shift tolerance, plus nprobe multi-cell probing expressions.

Reference parity: the reference's similarity extension builds its ANN
index from an offline CONVERGED coarse quantizer; the round-3/4 repo
only shipped a single Lloyd step (plans/ml_extras.py kmeans_lloyd_step)
and single-cell probing. This module closes r4 verdict item #5.

Design for 100 TB:
  - Training runs the one loop of operators/train_blocks (``train``):
    the training frame is projected ONCE into a persisted RDD of numpy
    blocks, and each Lloyd iteration is one single-stage
    mapPartitions → collect job over it — exact left-fold argmin
    assignment plus per-cell int64 micro-unit sums, no shuffle — so
    only k × dim partial sums per partition reach the driver no matter
    the corpus size. Corpus-scale ASSIGNMENT (assign_cells) is an
    Arrow-batched numpy argmin — no join, no shuffle; see assign_cells
    for why this beats a codegen expression here.
  - The centroids themselves are k × dim scalars — model parameters,
    the same class of driver-side state as a MAX-id watermark — and are
    re-broadcast each iteration. Nothing row-shaped ever
    reaches the driver.
  - Convergence is decided in integer MICRO-UNITS (component values are
    rounded to 6 dp each iteration, shift = max |Δ| in 1e-6 units,
    stop when shift ≤ tol_micro): rounding makes successive centroids
    bit-identical across engines (decimal accumulation, see
    plans.dsum), and the integer compare removes every cross-engine
    float-comparison hazard from the stopping rule, so the DuckDB
    oracle's loop stops at exactly the same iteration.

Determinism contract shared with the oracles (plans/ivf_queries.py):
  - seeds = the FIRST k vectors in vec_id order (seed cid = rank − 1),
    rounded to 6 dp — id-space-agnostic (r12 verdict item #3): equal to
    the old ``vec_id < k`` rule on a dense 0-based id space, and still
    defined when ids have holes or an offset;
  - squared distance = left-to-right fold of (v[i]-c[i])² in index
    order seeded with 0.0 double (bit-identical to DuckDB list_reduce;
    numpy evaluates the same fold vectorized over rows, sequential
    over dims — never pairwise/SIMD summation);
  - argmin tie-break on (dist, cid);
  - new component = ROUND(decimal(30,6)-accumulated mean of the
    double-promoted float values, 6) — the kmeans_lloyd_step recipe;
  - a cell with zero members is a loud error (never observed on the
    fixtures: min cell size ≥ 49 at sf0.001), not a silent carry-over.
"""

from __future__ import annotations

# module-level so the pandas_udf type hints (stringified by the
# __future__ annotations import) resolve via module globals
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .train_blocks import (
    _cell_dists_mat,
    make_round6 as _make_round6,
    micro_mean as _micro_mean,
    train as _train,
    training_blocks as _training_blocks,
)

IVF_K = 8
IVF_TOL_MICRO = 2000  # max |Δcomponent| ≤ 0.002 between iterations
IVF_MAX_ITER = 60


def _cell_dists_np(emb_series, cents: list[list[float]]):
    """pandas-Series front-end of train_blocks._cell_dists_mat (float32
    widen, then the exact left-fold distance matrix — see that module
    for the bit-identity rationale)."""
    import numpy as np

    M = np.vstack(emb_series.to_numpy()).astype(np.float64)  # float32 widen
    return _cell_dists_mat(M, cents)


def assign_cells(
    df: DataFrame, cents: list[list[float]], vec_col: str = "embedding",
    out_col: str = "cell",
) -> DataFrame:
    """Append the nearest-centroid id (argmin by (dist, cid)) as
    ``out_col`` — the CORPUS-scale assignment path.

    This is an Arrow-batched pandas_udf over numpy, NOT a codegen
    expression, for two measured reasons (r6, found by a GC-thrash OOM
    in the pytest suite):

    1. the expression form is k × dim ≈ 512 operator nodes; every
       single-reference projection downstream lets CollapseProject
       inline it again (join keys, window partitions), and the
       optimizer's tree copies blew an 8 g driver heap at sf0.001 —
       an optimizer-time failure no data-size guard can catch;
    2. the centroid literals change EVERY Lloyd iteration, forcing a
       full Catalyst + whole-stage-codegen recompile per iteration
       (measured 6-10 s per iteration on 500 rows — compile time, not
       compute). The UDF plan shape is constant; only the closure's
       float list changes, so iterations cost one Arrow round-trip.

    Per-batch work is 512 vectorized numpy ops — BLAS-class batch math,
    the one hot path where an Arrow UDF beats JVM expressions. At
    100 TB this runs embarrassingly parallel per partition with no
    shuffle, and the assignment is written once, partitioned by cell
    (see materialize_cells).

    np.argmin scans cells in ascending cid order and keeps the FIRST
    minimum, so ties resolve to the lowest cid — identical to the
    (dist, cid) ordering in the DuckDB oracle; distances use the exact
    left-fold (_cell_dists_np), so the compared values are
    bit-identical too.

    The centroid matrix ships as an explicit ``SparkContext.broadcast``
    (r12 verdict item #1c): a closure-captured k × dim list is
    re-serialized into EVERY stage's task binary that references the
    column, which at the corpus-scaled-k ceiling (K_MAX × 64 doubles
    ≈ 34 MB) would bloat each task launch; a broadcast serializes once
    and torrent-fetches once per executor."""
    from pyspark.sql.functions import pandas_udf

    cents_b = df.sparkSession.sparkContext.broadcast(
        [[float(v) for v in c] for c in cents]
    )

    @pandas_udf("int")
    def _nearest(emb: pd.Series) -> pd.Series:
        import numpy as np

        if len(emb) == 0:
            return pd.Series([], dtype="int32")
        d = _cell_dists_np(emb, cents_b.value)
        return pd.Series(np.argmin(d, axis=1).astype("int32"))

    return df.withColumn(out_col, _nearest(F.col(vec_col)))


def probe_cells_expr(vec, cents: list[list[float]], nprobe: int):
    """The nprobe nearest centroid ids (closest first) as an
    array<int> column — the multi-probe list a query vector searches.
    Same Arrow/numpy shape (and the same rationale) as assign_cells;
    the per-row sort is a STABLE argsort on the exact-left-fold
    distances, so equal distances keep ascending-cid order — the
    (dist, cid) tie-break the oracle's row_number uses. Centroids ship
    by explicit broadcast, same as assign_cells (r12 verdict #1c)."""
    from pyspark.sql.functions import pandas_udf

    cents_b = (
        SparkSession.getActiveSession()
        .sparkContext.broadcast([[float(v) for v in c] for c in cents])
    )
    np_ = int(nprobe)

    @pandas_udf("array<int>")
    def _probe(emb: pd.Series) -> pd.Series:
        import numpy as np

        if len(emb) == 0:
            return pd.Series([], dtype="object")
        d = _cell_dists_np(emb, cents_b.value)
        order = np.argsort(d, axis=1, kind="stable")[:, :np_].astype("int32")
        return pd.Series(list(order))

    return _probe(vec)


# r13: the process-wide memo of converged centroids (keyed on the
# embeddings file identity) was REMOVED. It meant a bench's timed run
# — and every catalog query after the first — returned training
# results computed by an earlier invocation instead of from the
# parquet inputs, which is result caching across runs, not an
# optimization. Every call now trains; the training frame itself is
# persisted at full parallelism for the duration of ONE call (below),
# which is the legitimate within-query reuse.


def _seed_cents(e: DataFrame, k: int) -> list[list[float]]:
    """Lloyd seeds = the first k vectors in vec_id order, 6-dp-rounded;
    seed cid = rank − 1. Id-space-AGNOSTIC (r12 verdict item #3): the
    old ``vec_id < k`` rule refused to train on any id space with
    holes or an offset (re-deliveries, sharded ingest) — rank keeps
    the same determinism and, on a dense 0-based space, selects the
    identical rows with identical numbering, so every existing gate is
    bit-identical. Plans as a distributed TakeOrderedAndProject
    (per-partition top-k + k-row driver merge), NOT a one-partition
    global window. The oracles' seed CTE mirrors the rank rule
    (ivf_queries._C0_SQL, curation_pipeline._cluster_chain cc0)."""
    rows = (
        e.select(
            "vec_id",
            F.transform(
                "embedding", lambda x: F.round(x.cast("double"), 6)
            ).alias("c"),
        )
        .orderBy("vec_id")
        .limit(k)
        .collect()
    )
    if len(rows) < k:
        raise RuntimeError(
            f"lloyd seeding needs ≥ k={k} vectors, table has {len(rows)}"
        )
    rows.sort(key=lambda r: int(r.vec_id))
    return [[float(v) for v in r.c] for r in rows]


def lloyd_converged(
    spark: SparkSession, sf_dir: str
) -> tuple[list[list[float]], int, list[list[float]]]:
    """Run Lloyd iterations (k = IVF_K) until the max per-component
    centroid shift drops to ≤ IVF_TOL_MICRO micro-units. Returns
    ``(cents, n_iters, prev_cents)`` where ``cents`` is the converged
    k × dim centroid list and ``prev_cents`` the centroids of iteration
    n_iters−1 — callers that must RETURN the converged state as a
    DataFrame rebuild the final aggregation lazily from prev_cents so
    their output plan is distributed end-to-end (no createDataFrame of
    results).

    Raises loudly if IVF_MAX_ITER is hit without convergence or any
    cell empties (both would silently diverge from the oracle
    otherwise)."""
    from ..io_utils import load

    e = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    final, n_iters, prev = _lloyd(e, IVF_K, IVF_TOL_MICRO, IVF_MAX_ITER, False)
    return final[0], n_iters[0], prev[0]


def _lloyd(e: DataFrame, k: int, tol_micro: int, max_iter: int, capped: bool):
    """Seed, then train Lloyd as model 0 of train_blocks.train (one
    subspace of width dim) with the kmeans_lloyd_step component rule
    ROUND(decimal mean, 6)."""
    seeds = {0: _seed_cents(e, k)}
    round6 = _make_round6(e.sparkSession)
    blocks = _training_blocks(e)
    try:
        return _train(
            blocks,
            seeds,
            lambda a, n: round6(_micro_mean(a, n)),
            tol_micro,
            max_iter,
            capped,
        )
    finally:
        blocks.unpersist()


CLUSTER_CAP_ITERS = 4  # Lloyd iteration budget for corpus-scaled k


def lloyd_capped(
    emb: DataFrame,
    k: int,
    iters: int = CLUSTER_CAP_ITERS,
    tol_micro: int = IVF_TOL_MICRO,
) -> tuple[list[list[float]], int]:
    """Budget-capped Lloyd over a (vec_id, embedding) frame — the
    coarse-quantizer trainer for CORPUS-SCALED k (the SemDeDup cluster
    model, r11 verdict item #1a). Same machinery as
    :func:`lloyd_converged` (seeds = first k vectors in id order at
    6 dp — id-space-agnostic, see :func:`_seed_cents` —, exact
    left-fold argmin with (dist, cid) tie-break, decimal-mean 6-dp
    components, integer micro-unit shifts) with the two guards that
    rule breaks at k ∝ n:

    - **empty cells CARRY OVER** their previous centroid instead of
      raising: with k in the hundreds over clustered data, cells
      empty routinely — the carried centroid stays a valid Voronoi
      site (it can re-attract points later), and the replay rule is
      trivially deterministic;
    - **a hard iteration budget is the STOPPING RULE, not an error**:
      the result is the first iteration whose max micro-shift ≤
      ``tol_micro``, else iteration ``iters`` — "converged or capped",
      the standard coarse-quantizer training discipline at corpus
      scale (cluster QUALITY only moves the prune's recall; engine
      correctness rides on determinism, which the cap preserves and a
      convergence REQUIREMENT would forfeit by erroring).

    Both rules replay verbatim in the DuckDB oracle (a fixed-depth
    unrolled chain with carry-over CTEs and
    ``COALESCE(first converged, cap)`` selection — see
    plans/curation_pipeline.py), which is why the budget must be a
    compile-time constant. Returns ``(cents, n_iters)``.

    Scale shape: identical to :func:`lloyd_converged` — the
    train_blocks loop over a persisted blocks RDD, one shuffle-free
    job per iteration; only k × dim partial sums per partition reach
    the driver."""
    e = emb.select("vec_id", "embedding")
    final, n_iters, _ = _lloyd(e, k, tol_micro, iters, True)
    return final[0], n_iters[0]


def _lloyd_update(e: DataFrame, cents: list[list[float]]) -> DataFrame:
    """One Lloyd update as a lazy DataFrame: assign each vector to its
    nearest centroid (flat codegen argmin), then per-(cid, dim) counts
    and 6-dp decimal-mean components. Used both inside the driver loop
    and to rebuild the converged state distributed for query output."""
    assigned = assign_cells(
        e.select("embedding"), cents, out_col="cid"
    )
    return (
        assigned.select("cid", F.posexplode("embedding").alias("dim", "val"))
        .groupBy("cid", "dim")
        .agg(
            F.count(F.lit(1)).alias("n_assigned"),
            # float32 → double FIRST (see kmeans_lloyd_step): both engines
            # then round the identical double promotion into the decimal
            F.round(
                F.sum(F.col("val").cast("double").cast("decimal(30,6)"))
                .cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("component"),
        )
    )
