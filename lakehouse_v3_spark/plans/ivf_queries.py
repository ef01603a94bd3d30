"""Converged-IVF queries (r4 verdict item #5): Lloyd's k-means iterated
to a fixed centroid-shift tolerance, nprobe>1 multi-cell ANN probing,
and a quantitative recall-vs-candidate-cost audit at two nprobe values.

Reference parity: the reference's similarity extension builds its ANN
inverted lists from an offline CONVERGED coarse quantizer and exposes a
probe-width knob; rounds 1–4 here shipped only a single Lloyd step
(ml_extras.kmeans_lloyd_step) and single-cell search (knn_ivf_cells,
cells = the fixture's label column). These queries compute the cells
themselves, iterated to convergence, and probe several.

Oracle strategy: converged k-means is a loop, which a single SQL string
cannot early-exit — but it CAN be unrolled. The primary oracles unroll
``_N_UNROLL`` iterations as a CTE chain, compute the integer micro-unit
shift between consecutive centroid tables, and select the FIRST
iteration whose shift ≤ tol (every operation bit-matches the Spark
loop: 6-dp rounded seeds, left-fold double distances, (dist, cid)
argmin tie-break, decimal-accumulated 6-dp means, half-away-from-zero
micro rounding). The unroll count covers the driver/pytest fixtures
(sf0.001 converges in 13 iterations, sf0.01 in 19 — measured); if a
fixture ever needs more, the oracle returns zero rows and the gate
fails LOUDLY. The big-SF gates use ``sf_oracle`` callables that run the
identical per-iteration SQL with a real early exit (sf1 converges in
24 iterations, sf5 in 9 — larger samples have smoother means, so the
shift drops faster).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..io_utils import load
from ..operators.ivf import (
    IVF_K,
    IVF_MAX_ITER,
    IVF_TOL_MICRO,
    assign_cells,
    lloyd_converged,
    probe_cells_expr,
)
from ..operators.similarity import knn_bruteforce
from . import register
from .oracle_sql import SHIFT_EXPR, cos, fold_sum, iter_body, sqdist, sqflat

# Must exceed the max measured iteration count of EVERY fixture the
# driver or gates can run the primary (unrolled) oracle at — measured:
# 13 / 19 / 31 / 24 / 9 at sf0.001 / 0.01 / 0.1 / 1 / 5. The r5
# advisor caught 22 < 31: at sf0.1 the chain had no converged
# iteration, tsel was NULL, and the oracle silently returned ZERO rows
# (a false correctness failure). 36 covers the worst case with
# headroom; test_oracle_parity.py::test_ivf_unroll_covers_fixtures
# pins _N_UNROLL > the fixture-measured max.
_N_UNROLL = 36
_NPROBE = 3


# seeds = first k vectors in vec_id order, cid = rank − 1: the
# id-space-agnostic rule (mirrors operators/ivf._seed_cents — identical
# to the old vec_id < k on the fixtures' dense 0-based ids)
_C0_SQL = f"""
SELECT CAST(rn - 1 AS INT) AS cid, CAST(dim AS INT) AS dim,
       ROUND(CAST(val AS DOUBLE), 6) AS component
FROM (SELECT rn, unnest(range(len(embedding))) AS dim,
             unnest(embedding) AS val
      FROM (SELECT row_number() OVER (ORDER BY vec_id) AS rn, embedding
            FROM embeddings) ranked
      WHERE rn <= {IVF_K})
"""


def _lloyd_chain() -> str:
    """Unrolled WITH-clause body: c0..cN centroid tables, s1..sN integer
    shifts (N = _N_UNROLL), tsel = first converged iteration, cents =
    its centroids."""
    parts = [f"c0 AS MATERIALIZED ({_C0_SQL})"]
    for i in range(1, _N_UNROLL + 1):
        update, _ = iter_body(f"c{i - 1}")
        parts.append(f"c{i} AS MATERIALIZED ({update})")
        parts.append(
            f"s{i} AS (SELECT {i} AS i, {SHIFT_EXPR} AS shift "
            f"FROM c{i} n JOIN c{i - 1} p USING (cid, dim))"
        )
    shifts = " UNION ALL ".join(f"SELECT * FROM s{i}" for i in range(1, _N_UNROLL + 1))
    allc = " UNION ALL ".join(
        f"SELECT {i} AS i, cid, dim, n_assigned, component FROM c{i}"
        for i in range(1, _N_UNROLL + 1)
    )
    parts.append(f"shifts AS ({shifts})")
    parts.append(
        f"tsel AS (SELECT MIN(i) AS t FROM shifts WHERE shift <= {IVF_TOL_MICRO})"
    )
    parts.append(
        f"cents AS (SELECT cid, dim, n_assigned, component FROM ({allc}) u "
        f"WHERE u.i = (SELECT t FROM tsel))"
    )
    return ",\n".join(parts)


def _duckdb_lloyd_converged(con) -> int:
    """Early-exit twin of the unrolled chain for the big-SF gates: the
    same per-iteration SQL (oracle_sql.iter_body) against temp tables,
    stopping at the first iteration whose micro-shift ≤ tol. Leaves the
    converged (cid, dim, n_assigned, component) in temp table _km_cents
    and returns the iteration count."""
    con.execute(f"CREATE OR REPLACE TEMP TABLE _km_prev AS {_C0_SQL}")
    for it in range(1, IVF_MAX_ITER + 1):
        update, _ = iter_body("_km_prev")
        con.execute(f"CREATE OR REPLACE TEMP TABLE _km_new AS {update}")
        shift = con.execute(
            f"SELECT {SHIFT_EXPR} FROM _km_new n JOIN _km_prev p USING (cid, dim)"
        ).fetchone()[0]
        con.execute(
            "CREATE OR REPLACE TEMP TABLE _km_prev AS "
            "SELECT cid, dim, component FROM _km_new"
        )
        if shift <= IVF_TOL_MICRO:
            con.execute(
                "CREATE OR REPLACE TEMP TABLE _km_cents AS "
                "SELECT cid, dim, n_assigned, component FROM _km_new"
            )
            return it
    raise RuntimeError(
        f"duckdb lloyd oracle did not converge within {IVF_MAX_ITER} iterations"
    )


# ---------------------------------------------------------------------------
# Query 1: the converged centroids themselves
# ---------------------------------------------------------------------------

_CENTROIDS_ORACLE = f"""
WITH
{_lloyd_chain()}
SELECT cid, dim, n_assigned, component,
       CAST((SELECT t FROM tsel) AS INT) AS n_iters
FROM cents
"""


def _centroids_sf_oracle(con, sf_dir):
    t = _duckdb_lloyd_converged(con)
    return con.execute(
        f"SELECT cid, dim, n_assigned, component, CAST({t} AS INT) AS n_iters "
        "FROM _km_cents"
    ).fetchdf()


@register(
    "kmeans_converged_centroids",
    oracle=_CENTROIDS_ORACLE,
    sf_oracle=_centroids_sf_oracle,
)
def kmeans_converged_centroids(spark, sf_dir):
    """CONVERGED k-means coarse quantizer (k=8, seeds = vec_id < k):
    Lloyd iterations until the max per-component centroid shift drops to
    ≤ 0.002 (2000 micro-units — integer compare, engine-neutral), hard
    max 60. Output = the converged centroids in long form
    (cid, dim, n_assigned, component) + the iteration count.

    Scale shape (operators/ivf.py): training is the train_blocks loop —
    one shuffle-free mapPartitions → collect job per iteration over a
    persisted numpy-blocks RDD, k × dim partial sums per partition to
    the driver (model parameters, the watermark class of driver
    state). The RETURNED plan is the final distributed aggregation
    (_lloyd_update: Arrow argmin, posexplode → groupBy(cid, dim))
    rebuilt from the pre-convergence centroids — not a createDataFrame
    of collected results.

    Measured convergence: 13 / 19 / 31 / 24 / 9 iterations at
    sf0.001 / 0.01 / 0.1 / 1 / 5 — bigger samples have smoother means,
    so the tolerance is reached FASTER at scale; at 100 TB the
    iteration count is the small end, and each iteration's cost is one
    pass over the persisted blocks with no shuffle."""
    from ..operators.ivf import _lloyd_update

    _, n_iters, prev_cents = lloyd_converged(spark, sf_dir)
    e = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return _lloyd_update(e, prev_cents).withColumn("n_iters", F.lit(n_iters))


# ---------------------------------------------------------------------------
# Query 2: multi-probe ANN search over the converged cells
# ---------------------------------------------------------------------------

# Tail CTEs shared by the primary (after the unrolled chain defines
# ``cents``) and the sf_oracle (which defines ``cents`` from _km_cents):
# probe ranks per query, corpus cell assignment — then each query's
# specific SELECT.
_TAIL_CTES = f"""
cw AS MATERIALIZED (SELECT cid, list(component ORDER BY dim) AS cv FROM cents GROUP BY cid),
q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 10),
corp AS MATERIALIZED (SELECT vec_id AS nid, embedding AS nv FROM embeddings WHERE vec_id >= 10),
qprobe AS (
  SELECT qid, cid, row_number() OVER (PARTITION BY qid ORDER BY dist, cid) AS pr
  FROM (SELECT q.qid, cw.cid, {sqdist("q.qv", "cw.cv")} AS dist
        FROM q CROSS JOIN cw)
),
cass AS MATERIALIZED (
  SELECT nid, cid FROM (
    SELECT nid, cid, row_number() OVER (PARTITION BY nid ORDER BY dist, cid) AS rn
    FROM (SELECT corp.nid, cw.cid, {sqdist("corp.nv", "cw.cv")} AS dist
          FROM corp CROSS JOIN cw)
  ) WHERE rn = 1
)
"""

_KNN_SELECT = f"""
SELECT qid AS vec_id, nid AS neighbor_id, cosine_sim, CAST(rank AS BIGINT) AS rank
FROM (
  SELECT s.qid, s.nid, s.cosine_sim,
         row_number() OVER (PARTITION BY s.qid
                            ORDER BY s.cosine_sim DESC, s.nid) AS rank
  FROM (
    SELECT p.qid, ca.nid, {cos("q.qv", "corp.nv")} AS cosine_sim
    FROM qprobe p
    JOIN cass ca ON ca.cid = p.cid AND p.pr <= {_NPROBE}
    JOIN corp ON corp.nid = ca.nid
    JOIN q ON q.qid = p.qid
  ) s
) WHERE rank <= 5
"""

_KNN_NPROBE_ORACLE = f"""
WITH
{_lloyd_chain()},
{_TAIL_CTES}
{_KNN_SELECT}
"""


def _knn_nprobe_sf_oracle(con, sf_dir):
    _duckdb_lloyd_converged(con)
    return con.execute(
        "WITH cents AS (SELECT cid, dim, component FROM _km_cents),\n"
        + _TAIL_CTES
        + _KNN_SELECT
    ).fetchdf()


@register(
    "knn_ivf_converged_nprobe",
    oracle=_KNN_NPROBE_ORACLE,
    sf_oracle=_knn_nprobe_sf_oracle,
)
def knn_ivf_converged_nprobe(spark, sf_dir):
    """ANN top-5 over the CONVERGED IVF index with multi-probe: each
    query (vec_id < 10) searches its nprobe=3 nearest cells instead of
    one, lifting measured recall@5 from 0.70 to 0.86 at sf0.01 (see
    knn_ivf_nprobe_recall_audit) while still scanning only ~3/8 of the
    corpus. Unlike knn_ivf_cells (whose cells are the fixture's label
    column, standing in for an offline quantizer) the cells here are
    computed by the engine itself (operators/ivf.py lloyd_converged).

    Scale shape: corpus cell assignment is a flat codegen projection
    (no shuffle — and in production it's written once, partitioned by
    cell, so probing prunes partitions); the probe list (|Q| × nprobe
    rows) broadcasts; scoring touches only matching cells; top-k is a
    window per query. Cells are disjoint, so no candidate is scored
    twice."""
    cents, _, _ = lloyd_converged(spark, sf_dir)
    e = load(spark, sf_dir, "embeddings")
    corpus = assign_cells(
        e.filter(F.col("vec_id") >= 10).select("vec_id", "embedding"), cents
    )
    queries = e.filter(F.col("vec_id") < 10).select(
        "vec_id",
        "embedding",
        F.explode(
            probe_cells_expr(F.col("embedding"), cents, _NPROBE)
        ).alias("cell"),
    )
    out = knn_bruteforce(
        queries, corpus, query_id="vec_id", corpus_id="vec_id", k=5,
        cell_col="cell",
    )
    return out.withColumn("rank", F.col("rank").cast("long"))


# ---------------------------------------------------------------------------
# Query 3: recall@5 vs candidate cost at nprobe = 1 and 3
# ---------------------------------------------------------------------------

_AUDIT_SELECT = f"""
, bf AS (
  SELECT qid, nid FROM (
    SELECT q.qid, corp.nid,
           row_number() OVER (PARTITION BY q.qid
                              ORDER BY {cos("q.qv", "corp.nv")} DESC, corp.nid) AS rank
    FROM corp CROSS JOIN q
  ) WHERE rank <= 5
),
cand1 AS (SELECT p.qid, ca.nid FROM qprobe p JOIN cass ca ON ca.cid = p.cid WHERE p.pr <= 1),
cand3 AS (SELECT p.qid, ca.nid FROM qprobe p JOIN cass ca ON ca.cid = p.cid WHERE p.pr <= {_NPROBE}),
n1 AS (SELECT qid, COUNT(*) AS n FROM cand1 GROUP BY qid),
n3 AS (SELECT qid, COUNT(*) AS n FROM cand3 GROUP BY qid),
h1 AS (SELECT bf.qid, COUNT(c.nid) AS h FROM bf
       LEFT JOIN cand1 c ON bf.qid = c.qid AND bf.nid = c.nid GROUP BY bf.qid),
h3 AS (SELECT bf.qid, COUNT(c.nid) AS h FROM bf
       LEFT JOIN cand3 c ON bf.qid = c.qid AND bf.nid = c.nid GROUP BY bf.qid)
SELECT q.qid AS vec_id,
       CAST(COALESCE(n1.n, 0) AS BIGINT) AS n_cand_probe1,
       CAST(COALESCE(n3.n, 0) AS BIGINT) AS n_cand_probe3,
       CAST(COALESCE(h1.h, 0) AS DOUBLE) / 5.0 AS recall_probe1,
       CAST(COALESCE(h3.h, 0) AS DOUBLE) / 5.0 AS recall_probe3
FROM q
LEFT JOIN n1 ON n1.qid = q.qid
LEFT JOIN n3 ON n3.qid = q.qid
LEFT JOIN h1 ON h1.qid = q.qid
LEFT JOIN h3 ON h3.qid = q.qid
"""

_AUDIT_ORACLE = f"""
WITH
{_lloyd_chain()},
{_TAIL_CTES}
{_AUDIT_SELECT}
"""


def _audit_sf_oracle(con, sf_dir):
    _duckdb_lloyd_converged(con)
    return con.execute(
        "WITH cents AS (SELECT cid, dim, component FROM _km_cents),\n"
        + _TAIL_CTES
        + _AUDIT_SELECT
    ).fetchdf()


@register(
    "knn_ivf_nprobe_recall_audit",
    oracle=_AUDIT_ORACLE,
    sf_oracle=_audit_sf_oracle,
)
def knn_ivf_nprobe_recall_audit(spark, sf_dir):
    """Quantitative recall-vs-cost audit of the converged-IVF index at
    TWO probe widths (r4 verdict item #5's deliverable): per query,
    recall@5 against the brute-force top-5 and the candidate count for
    nprobe=1 (the query's own cell) and nprobe=3. Measured at sf0.01:
    0.70 recall @ ~61 candidates → 0.86 @ ~186; at sf0.1: 0.60 @ ~245 →
    0.78 @ ~730 — the tradeoff table SCALE.md records. Scale shape
    mirrors knn_lsh_recall_audit: one corpus scan for cell assignment,
    broadcast probe lists, |Q|·5-row overlap joins; the brute-force
    side exists only for the audit."""
    cents, _, _ = lloyd_converged(spark, sf_dir)
    e = load(spark, sf_dir, "embeddings")
    q_raw = e.filter(F.col("vec_id") < 10)
    c_raw = e.filter(F.col("vec_id") >= 10)
    probes = q_raw.select(
        F.col("vec_id").alias("qid"),
        probe_cells_expr(F.col("embedding"), cents, _NPROBE).alias("cells"),
    )
    corpus = assign_cells(
        c_raw.select(F.col("vec_id").alias("nid"), "embedding"), cents
    ).select("nid", "cell")
    bf = knn_bruteforce(
        q_raw, c_raw, query_id="vec_id", corpus_id="vec_id", k=5
    ).select(F.col("vec_id").alias("qid"), F.col("neighbor_id").alias("nid"))

    p1 = probes.select("qid", F.col("cells")[0].alias("cell"))
    p3 = probes.select("qid", F.explode("cells").alias("cell"))
    cand1 = corpus.join(F.broadcast(p1), "cell").select("qid", "nid")
    cand3 = corpus.join(F.broadcast(p3), "cell").select("qid", "nid")

    n1 = cand1.groupBy("qid").agg(F.count(F.lit(1)).alias("n_cand_probe1"))
    n3 = cand3.groupBy("qid").agg(F.count(F.lit(1)).alias("n_cand_probe3"))
    h1 = bf.join(cand1, ["qid", "nid"], "left_semi").groupBy("qid").agg(
        F.count(F.lit(1)).alias("h1")
    )
    h3 = bf.join(cand3, ["qid", "nid"], "left_semi").groupBy("qid").agg(
        F.count(F.lit(1)).alias("h3")
    )
    return (
        probes.select("qid")
        .join(n1, "qid", "left")
        .join(n3, "qid", "left")
        .join(h1, "qid", "left")
        .join(h3, "qid", "left")
        .select(
            F.col("qid").alias("vec_id"),
            F.coalesce("n_cand_probe1", F.lit(0)).cast("long").alias("n_cand_probe1"),
            F.coalesce("n_cand_probe3", F.lit(0)).cast("long").alias("n_cand_probe3"),
            (F.coalesce("h1", F.lit(0)).cast("double") / 5.0).alias("recall_probe1"),
            (F.coalesce("h3", F.lit(0)).cast("double") / 5.0).alias("recall_probe3"),
        )
    )


# ---------------------------------------------------------------------------
# Query 4: IVF-PQ — coarse converged cells routing + TRAINED-codebook
# PQ-ADC ranking inside the probed cells + exact rerank (the FAISS-style
# composite production ANN index; r6 verdict items #1/#2). PQ training
# chain shared via plans/pq_train_sql.py; PQ pieces documented in
# operators/pq.py / plans/similarity_queries.py.
# ---------------------------------------------------------------------------


# rerank budget — same corpus-proportional formula as knn_pq_adc
_IVFPQ_RERANK = (
    "(SELECT GREATEST(100, CAST(CEIL(COUNT(*) / 20.0) AS BIGINT)) FROM corp)"
)

_QSUB_IVF = (
    "list_transform(range(ss.s*8 + 1, ss.s*8 + 9), "
    "d -> CAST(q.qv[d] AS DOUBLE))"
)


def _ivfpq_trained_ctes() -> str:
    """CTEs from (cents→_TAIL_CTES namespace + pqcb/pqsubv) to the
    reranked top-5: corpus codes from the TRAINED codebooks, candidates
    from the probed cells, ADC rank, top-R shortlist, exact rerank."""
    from .pq_train_sql import sq_fold

    return f"""
pcbw AS MATERIALIZED (SELECT s, j, list(component ORDER BY dim) AS cw
                      FROM pqcb GROUP BY s, j),
pss AS (SELECT unnest(range(0, 8)) AS s),
penc AS MATERIALIZED (
  SELECT vec_id AS nid, s, j AS code FROM (
    SELECT v.vec_id, v.s, b.j,
           ROW_NUMBER() OVER (PARTITION BY v.vec_id, v.s
                              ORDER BY {sq_fold('v.sv', 'b.cw')}, b.j) AS rn
    FROM pqsubv v JOIN pcbw b ON b.s = v.s
    WHERE v.vec_id >= 10
  ) WHERE rn = 1
),
cand AS (
  SELECT p.qid, ca.nid
  FROM qprobe p JOIN cass ca ON ca.cid = p.cid AND p.pr <= {_NPROBE}
),
padc AS MATERIALIZED (
  SELECT qid, nid,
         {fold_sum("list(ds ORDER BY s)")} AS adc
  FROM (
    SELECT c.qid, c.nid, e.s, {sq_fold(_QSUB_IVF, 'b.cw')} AS ds
    FROM cand c
    JOIN penc e ON e.nid = c.nid
    JOIN pcbw b ON b.s = e.s AND b.j = e.code
    JOIN pss ss ON ss.s = e.s
    JOIN q ON q.qid = c.qid
  ) GROUP BY qid, nid
),
pshort AS (
  SELECT qid, nid, adc FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adc, nid) AS r
    FROM padc
  ) WHERE r <= {_IVFPQ_RERANK}
),
prr AS (
  SELECT s.qid, s.nid, s.adc, {sqflat('q.qv', 'corp.nv')} AS l2
  FROM pshort s
  JOIN corp ON corp.nid = s.nid
  JOIN q ON q.qid = s.qid
)"""


_IVFPQ_SELECT = """
SELECT qid AS query_id, nid AS corpus_id, CAST(rank AS BIGINT) AS rank,
       ROUND(l2, 6) AS l2_dist, ROUND(adc, 6) AS adc_dist
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY l2, nid) AS rank
  FROM prr
) WHERE rank <= 5
"""

_PQSUBV_SQL = (
    "pqsubv AS (SELECT vec_id, CAST(ss.s AS INT) AS s, "
    "list_transform(range(ss.s*8 + 1, ss.s*8 + 9), "
    "d -> CAST(embedding[d] AS DOUBLE)) AS sv "
    "FROM embeddings, (SELECT unnest(range(0, 8)) AS s) ss)"
)


def _ivfpq_oracle() -> str:
    from .pq_train_sql import train_chain

    return (
        "WITH\n"
        + _lloyd_chain()
        + ",\n"
        + _TAIL_CTES
        + ",\n"
        + train_chain(prefix="pq")
        + ",\n"
        + _ivfpq_trained_ctes()
        + _IVFPQ_SELECT
    )


def _ivfpq_sf_oracle(con, sf_dir):
    from .pq_train_sql import duckdb_pq_train

    _duckdb_lloyd_converged(con)
    duckdb_pq_train(con)
    return con.execute(
        "WITH cents AS (SELECT cid, dim, component FROM _km_cents),\n"
        + _TAIL_CTES
        + ",\npqcb AS (SELECT * FROM _pq_cb),\n"
        + _PQSUBV_SQL
        + ",\n"
        + _ivfpq_trained_ctes()
        + _IVFPQ_SELECT
    ).fetchdf()


def _ivfpq_spark(spark, sf_dir, residual: bool):
    """Shared Spark pipeline for the two IVF-PQ composites: coarse
    converged routing (nprobe=3) + PQ-ADC candidate ranking from 8-byte
    codes + exact rerank of the top-R. ``residual=True`` encodes
    v − coarse_centroid(cell) with codebooks TRAINED ON RESIDUALS and
    ranks by residual-space ADC (query residual per probed cell)."""
    from pyspark.sql import Window

    from ..operators.pq import (
        adc_distance,
        encode_codes,
        exact_l2_distance,
        pq_train_codebooks,
        residual_struct,
    )

    cents, _, _ = lloyd_converged(spark, sf_dir)
    e = load(spark, sf_dir, "embeddings")
    corpus_raw = e.filter(F.col("vec_id") >= 10).select(
        F.col("vec_id").alias("corpus_id"), "embedding"
    )
    n_corpus = corpus_raw.count()
    rerank_r = max(100, -(-n_corpus // 20))  # ceil(n/20)

    if residual:
        resid_all = e.select(
            "vec_id", residual_struct(cents).alias("r")
        ).select("vec_id", F.col("r.cell").alias("cell"), F.col("r.rv").alias("rv"))
        cbs, _, _ = pq_train_codebooks(
            spark,
            sf_dir,
            vec_col="rv",
            train_df=resid_all,
        )
        corpus = encode_codes(
            resid_all.filter(F.col("vec_id") >= 10), cbs, vec_col="rv"
        ).select(F.col("vec_id").alias("corpus_id"), "cell", "codes")
    else:
        cbs, _, _ = pq_train_codebooks(spark, sf_dir)
        corpus = assign_cells(
            encode_codes(
                e.filter(F.col("vec_id") >= 10).select("vec_id", "embedding"),
                cbs,
            ),
            cents,
        ).select(F.col("vec_id").alias("corpus_id"), "cell", "codes")

    queries = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_embedding"),
        F.explode(
            probe_cells_expr(F.col("embedding"), cents, _NPROBE)
        ).alias("cell"),
    )
    if residual:
        # the query's residual DIFFERS per probed cell: q − centroid(cell)
        from pyspark.sql.functions import pandas_udf
        import pandas as pd  # noqa: F401 (module-level import exists)

        cents_local = [[float(x) for x in c] for c in cents]

        @pandas_udf("array<double>")
        def _q_res(emb, cell):
            import numpy as np

            if len(emb) == 0:
                return emb
            M = np.vstack(emb.to_numpy()).astype(np.float64)
            C = np.asarray(cents_local, dtype=np.float64)[
                cell.to_numpy().astype(np.int64)
            ]
            return pd.Series(list(M - C))

        queries = queries.withColumn(
            "q_res", _q_res(F.col("q_embedding"), F.col("cell"))
        )
        adc_col = adc_distance(cbs, query_col="q_res")
    else:
        adc_col = adc_distance(cbs)

    scored = corpus.join(F.broadcast(queries), "cell").withColumn(
        "adc", adc_col
    )
    w_adc = Window.partitionBy("query_id").orderBy(
        F.col("adc").asc(), F.col("corpus_id").asc()
    )
    shortr = (
        scored.withColumn("r", F.row_number().over(w_adc))
        .filter(F.col("r") <= rerank_r)
        .select("query_id", "corpus_id", "adc", "q_embedding")
    )
    rr = shortr.join(corpus_raw, "corpus_id").withColumn(
        "l2", exact_l2_distance("q_embedding", "embedding")
    )
    w_l2 = Window.partitionBy("query_id").orderBy(
        F.col("l2").asc(), F.col("corpus_id").asc()
    )
    return (
        rr.withColumn("rank", F.row_number().over(w_l2))
        .filter(F.col("rank") <= 5)
        .select(
            "query_id",
            "corpus_id",
            F.col("rank").cast("long").alias("rank"),
            F.round("l2", 6).alias("l2_dist"),
            F.round("adc", 6).alias("adc_dist"),
        )
    )


@register(
    "knn_ivf_pq_adc",
    oracle=_ivfpq_oracle(),
    sf_oracle=_ivfpq_sf_oracle,
)
def knn_ivf_pq_adc(spark, sf_dir):
    """IVF-PQ composite ANN, production shape (FAISS IVFPQ, per Jégou
    et al.; r6 verdict item #1 applied to the composite): a CONVERGED
    coarse quantizer routes each query to its nprobe=3 nearest cells;
    within those cells candidates are ranked by asymmetric distance
    from 8-byte codes of the TRAINED 64-codeword codebooks
    (pq_trained_codebooks); the top-R ADC survivors (R = max(100, 5% of
    corpus)) are then EXACT-reranked by true squared-L2. Raw corpus
    vectors are touched only by the R-row rerank join — the routing and
    the scan see cells + codes only.

    Upgraded from r6's untrained sampled codebook (recall@5 0.22, no
    rerank): measured end-to-end recall@5 is now bounded by the cell-
    routing ceiling (0.86 at sf0.01 for nprobe=3 — see
    knn_ivf_nprobe_recall_audit), which the rerank approaches.

    100 TB design: cell assignment and PQ codes are both shuffle-free
    Arrow maps computed once at ingest (stored partitioned by cell →
    probing prunes partitions); a query reads ~nprobe/k of the code
    table and ranks with codebook lookups; scan cost ≈ (3/8 corpus) ×
    8-byte codes ≈ 1/85th of brute force over float32 vectors, and the
    rerank adds R × |queries| vector fetches."""
    return _ivfpq_spark(spark, sf_dir, residual=False)


# ---------------------------------------------------------------------------
# Query 5: residual IVF-PQ (r6 verdict item #2) — encode
# v − coarse_centroid, the real-FAISS refinement that makes small
# codebooks usable
# ---------------------------------------------------------------------------


def _resid_ctes() -> str:
    """acass (ALL vectors → coarse cell) + resid (v − centroid) — the
    residual training set the rpq chain trains on."""
    return f"""
acass AS MATERIALIZED (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY dist, cid) AS rn
    FROM (SELECT e2.vec_id, cwv.cid,
                 {sqdist("e2.embedding", "cwv.cv")} AS dist
          FROM embeddings e2 CROSS JOIN cw cwv)
  ) WHERE rn = 1
),
resid AS MATERIALIZED (
  SELECT e.vec_id,
         list_transform(range(1, len(e.embedding) + 1),
                        d -> CAST(e.embedding[d] AS DOUBLE) - cwv.cv[d]) AS rv
  FROM embeddings e
  JOIN acass a USING (vec_id)
  JOIN cw cwv ON cwv.cid = a.cid
)"""


def _rivfpq_tail() -> str:
    """From rpqcb (+ coarse namespace) to the residual-ADC reranked
    top-5: encode corpus residuals, per-(query, probed-cell) query
    residual, residual ADC, shortlist, exact rerank on RAW vectors."""
    from .pq_train_sql import sq_fold

    qrsub = (
        "list_transform(range(ss.s*8 + 1, ss.s*8 + 9), "
        "d -> qr.qrv[d])"
    )
    return f"""
rcbw AS MATERIALIZED (SELECT s, j, list(component ORDER BY dim) AS cw
                      FROM rpqcb GROUP BY s, j),
rss AS (SELECT unnest(range(0, 8)) AS s),
renc AS MATERIALIZED (
  SELECT vec_id AS nid, s, j AS code FROM (
    SELECT v.vec_id, v.s, b.j,
           ROW_NUMBER() OVER (PARTITION BY v.vec_id, v.s
                              ORDER BY {sq_fold('v.sv', 'b.cw')}, b.j) AS rn
    FROM rpqsubv v JOIN rcbw b ON b.s = v.s
    WHERE v.vec_id >= 10
  ) WHERE rn = 1
),
qres AS (
  SELECT p.qid, p.cid,
         list_transform(range(1, len(q.qv) + 1),
                        d -> CAST(q.qv[d] AS DOUBLE) - cwv.cv[d]) AS qrv
  FROM qprobe p
  JOIN q ON q.qid = p.qid
  JOIN cw cwv ON cwv.cid = p.cid
  WHERE p.pr <= {_NPROBE}
),
rcand AS (
  SELECT p.qid, p.cid, ca.nid
  FROM qprobe p JOIN cass ca ON ca.cid = p.cid AND p.pr <= {_NPROBE}
),
radc AS MATERIALIZED (
  SELECT qid, nid,
         {fold_sum("list(ds ORDER BY s)")} AS adc
  FROM (
    SELECT c.qid, c.nid, e.s, {sq_fold(qrsub, 'b.cw')} AS ds
    FROM rcand c
    JOIN qres qr ON qr.qid = c.qid AND qr.cid = c.cid
    JOIN renc e ON e.nid = c.nid
    JOIN rcbw b ON b.s = e.s AND b.j = e.code
    JOIN rss ss ON ss.s = e.s
  ) GROUP BY qid, nid
),
rshort AS (
  SELECT qid, nid, adc FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adc, nid) AS r
    FROM radc
  ) WHERE r <= {_IVFPQ_RERANK}
),
prr AS (
  SELECT s.qid, s.nid, s.adc, {sqflat('q.qv', 'corp.nv')} AS l2
  FROM rshort s
  JOIN corp ON corp.nid = s.nid
  JOIN q ON q.qid = s.qid
)"""


def _rivfpq_oracle() -> str:
    from .pq_train_sql import train_chain

    return (
        "WITH\n"
        + _lloyd_chain()
        + ",\n"
        + _TAIL_CTES
        + ",\n"
        + _resid_ctes()
        + ",\n"
        + train_chain(prefix="rpq", source="resid", vec="rv")
        + ",\n"
        + _rivfpq_tail()
        + _IVFPQ_SELECT
    )


def _rivfpq_sf_oracle(con, sf_dir):
    from .pq_train_sql import duckdb_pq_train

    _duckdb_lloyd_converged(con)
    con.execute(
        "CREATE OR REPLACE TEMP TABLE _rcw AS "
        "SELECT cid, list(component ORDER BY dim) AS cv "
        "FROM _km_cents GROUP BY cid"
    )
    con.execute(
        "CREATE OR REPLACE TEMP TABLE _racass AS "
        "SELECT vec_id, cid FROM ("
        "  SELECT vec_id, cid, row_number() OVER "
        "    (PARTITION BY vec_id ORDER BY dist, cid) AS rn"
        "  FROM (SELECT e2.vec_id, cwv.cid, "
        + sqdist("e2.embedding", "cwv.cv")
        + " AS dist FROM embeddings e2 CROSS JOIN _rcw cwv)"
        ") WHERE rn = 1"
    )
    con.execute(
        "CREATE OR REPLACE TEMP TABLE _rresid AS "
        "SELECT e.vec_id, list_transform(range(1, len(e.embedding) + 1), "
        "d -> CAST(e.embedding[d] AS DOUBLE) - cwv.cv[d]) AS rv "
        "FROM embeddings e JOIN _racass a USING (vec_id) "
        "JOIN _rcw cwv ON cwv.cid = a.cid"
    )
    duckdb_pq_train(
        con,
        source_sql="SELECT vec_id, rv FROM _rresid",
        vec="rv",
        out_table="_rpq_cb",
    )
    return con.execute(
        "WITH cents AS (SELECT cid, dim, component FROM _km_cents),\n"
        + _TAIL_CTES
        + ",\nrpqcb AS (SELECT * FROM _rpq_cb),\n"
        "rpqsubv AS (SELECT vec_id, CAST(ss.s AS INT) AS s, "
        "list_transform(range(ss.s*8 + 1, ss.s*8 + 9), "
        "d -> rv[d]) AS sv "
        "FROM _rresid, (SELECT unnest(range(0, 8)) AS s) ss),\n"
        + _rivfpq_tail()
        + _IVFPQ_SELECT
    ).fetchdf()


@register(
    "knn_ivf_pq_residual",
    oracle=_rivfpq_oracle(),
    sf_oracle=_rivfpq_sf_oracle,
)
def knn_ivf_pq_residual(spark, sf_dir):
    """RESIDUAL IVF-PQ (r6 verdict item #2): identical routing and
    rerank to knn_ivf_pq_adc, but the PQ stage encodes the RESIDUAL
    v − coarse_centroid(cell) with codebooks trained on residuals —
    what real FAISS IVFPQ does, because residuals are cell-centered
    and a small codebook spends its 64 codewords on the informative
    displacement instead of re-describing the cell mean. The query side
    forms its own residual PER PROBED CELL (q − centroid(cell)), so
    ADC compares like with like.

    Measured quantization gain on the fixtures: residual encoding cuts
    mean squared reconstruction error a further 5–7% below the trained
    raw-vector codebooks at every SF (0.323 → 0.302 at sf0.001 — the
    oracle-checked numbers are ivfpq_residual_quantization_audit's
    output; isotropic-random fixtures are the minimum-benefit case —
    clustered real embeddings gain far more). End-to-end recall@5
    after the rerank matches the raw composite (both approach the
    nprobe cell ceiling).

    Scale shape identical to knn_ivf_pq_adc: two shuffle-free Arrow
    index maps at ingest (cell+residual, codes), code-only probed
    scan, R-row rerank; the only addition is one centroid subtraction
    per row, fused into the same Arrow pass."""
    return _ivfpq_spark(spark, sf_dir, residual=True)


# ---------------------------------------------------------------------------
# Query 6: the quantization-error audit — the stable metric on which
# residual encoding provably beats raw-vector encoding (recall@5 over
# 10 sampled queries is too noisy to separate them on isotropic
# fixtures; reconstruction MSE over the whole corpus is exact)
# ---------------------------------------------------------------------------

# integer-rational 6-dp mean (the pq_train_sql component recipe): no
# ROUND(double) anywhere, so both engines produce the identical double
_MSE_MEAN = """
CAST(CASE WHEN am >= 0 THEN (2 * am + n) // (2 * n)
          ELSE -((-2 * am + n) // (2 * n)) END AS DOUBLE) / 1000000.0
"""


def _quant_audit_ctes() -> str:
    from .pq_train_sql import sq_fold

    err_raw = sqflat("corp.nv", "rc.recon")
    err_res = sqflat("corp.nv", "rr.recon")
    return f"""
pcbw AS (SELECT s, j, list(component ORDER BY dim) AS cw
         FROM pqcb GROUP BY s, j),
rcbw AS (SELECT s, j, list(component ORDER BY dim) AS cw
         FROM rpqcb GROUP BY s, j),
penc AS MATERIALIZED (
  SELECT vec_id AS nid, s, j AS code FROM (
    SELECT v.vec_id, v.s, b.j,
           ROW_NUMBER() OVER (PARTITION BY v.vec_id, v.s
                              ORDER BY {sq_fold('v.sv', 'b.cw')}, b.j) AS rn
    FROM pqsubv v JOIN pcbw b ON b.s = v.s
    WHERE v.vec_id >= 10
  ) WHERE rn = 1
),
renc AS MATERIALIZED (
  SELECT vec_id AS nid, s, j AS code FROM (
    SELECT v.vec_id, v.s, b.j,
           ROW_NUMBER() OVER (PARTITION BY v.vec_id, v.s
                              ORDER BY {sq_fold('v.sv', 'b.cw')}, b.j) AS rn
    FROM rpqsubv v JOIN rcbw b ON b.s = v.s
    WHERE v.vec_id >= 10
  ) WHERE rn = 1
),
recon_raw AS (
  SELECT e.nid, flatten(list(b.cw ORDER BY e.s)) AS recon
  FROM penc e JOIN pcbw b ON b.s = e.s AND b.j = e.code
  GROUP BY e.nid
),
recon_res AS (
  SELECT e.nid,
         list_transform(range(1, 65),
                        d -> cwv.cv[d] + fl.dec[d]) AS recon
  FROM (SELECT e.nid, flatten(list(b.cw ORDER BY e.s)) AS dec
        FROM renc e JOIN rcbw b ON b.s = e.s AND b.j = e.code
        GROUP BY e.nid) fl(nid, dec)
  JOIN renc e ON e.nid = fl.nid AND e.s = 0
  JOIN acass a ON a.vec_id = fl.nid
  JOIN cw cwv ON cwv.cid = a.cid
),
err_raw AS (
  SELECT 'raw' AS variant, COUNT(*) AS n,
         CAST(SUM(CAST(err AS DECIMAL(30,6))) * 1000000 AS BIGINT) AS am
  FROM (SELECT {err_raw} AS err
        FROM corp JOIN recon_raw rc ON rc.nid = corp.nid)
),
err_res AS (
  SELECT 'residual' AS variant, COUNT(*) AS n,
         CAST(SUM(CAST(err AS DECIMAL(30,6))) * 1000000 AS BIGINT) AS am
  FROM (SELECT {err_res} AS err
        FROM corp JOIN recon_res rr ON rr.nid = corp.nid)
)"""


_QUANT_SELECT = f"""
SELECT variant, CAST(n AS BIGINT) AS n_vectors, {_MSE_MEAN} AS mse
FROM (SELECT * FROM err_raw UNION ALL SELECT * FROM err_res)
"""


def _quant_oracle() -> str:
    from .pq_train_sql import train_chain

    return (
        "WITH\n"
        + _lloyd_chain()
        + ",\n"
        + _TAIL_CTES
        + ",\n"
        + _resid_ctes()
        + ",\n"
        + train_chain(prefix="pq")
        + ",\n"
        + train_chain(prefix="rpq", source="resid", vec="rv")
        + ",\n"
        + _quant_audit_ctes()
        + _QUANT_SELECT
    )


def _quant_sf_oracle(con, sf_dir):
    from .pq_train_sql import duckdb_pq_train

    _duckdb_lloyd_converged(con)
    con.execute(
        "CREATE OR REPLACE TEMP TABLE _rcw AS "
        "SELECT cid, list(component ORDER BY dim) AS cv "
        "FROM _km_cents GROUP BY cid"
    )
    con.execute(
        "CREATE OR REPLACE TEMP TABLE _racass AS "
        "SELECT vec_id, cid FROM ("
        "  SELECT vec_id, cid, row_number() OVER "
        "    (PARTITION BY vec_id ORDER BY dist, cid) AS rn"
        "  FROM (SELECT e2.vec_id, cwv.cid, "
        + sqdist("e2.embedding", "cwv.cv")
        + " AS dist FROM embeddings e2 CROSS JOIN _rcw cwv)"
        ") WHERE rn = 1"
    )
    con.execute(
        "CREATE OR REPLACE TEMP TABLE _rresid AS "
        "SELECT e.vec_id, list_transform(range(1, len(e.embedding) + 1), "
        "d -> CAST(e.embedding[d] AS DOUBLE) - cwv.cv[d]) AS rv "
        "FROM embeddings e JOIN _racass a USING (vec_id) "
        "JOIN _rcw cwv ON cwv.cid = a.cid"
    )
    duckdb_pq_train(con)
    duckdb_pq_train(
        con,
        source_sql="SELECT vec_id, rv FROM _rresid",
        vec="rv",
        out_table="_rpq_cb",
    )
    return con.execute(
        "WITH cents AS (SELECT cid, dim, component FROM _km_cents),\n"
        + _TAIL_CTES
        + ",\nacass AS (SELECT * FROM _racass),\n"
        "pqcb AS (SELECT * FROM _pq_cb),\n"
        "rpqcb AS (SELECT * FROM _rpq_cb),\n"
        + _PQSUBV_SQL
        + ",\nrpqsubv AS (SELECT vec_id, CAST(ss.s AS INT) AS s, "
        "list_transform(range(ss.s*8 + 1, ss.s*8 + 9), "
        "d -> rv[d]) AS sv "
        "FROM _rresid, (SELECT unnest(range(0, 8)) AS s) ss),\n"
        + _quant_audit_ctes()
        + _QUANT_SELECT
    ).fetchdf()


@register(
    "ivfpq_residual_quantization_audit",
    oracle=_quant_oracle(),
    sf_oracle=_quant_sf_oracle,
)
def ivfpq_residual_quantization_audit(spark, sf_dir):
    """Quantization-quality audit of the two trained PQ encodings
    (r6 verdict item #2's acceptance metric): mean squared
    reconstruction error over the WHOLE corpus for (a) raw-vector
    codes, recon = concat(codewords), and (b) residual codes,
    recon = coarse_centroid + concat(codewords). Residual must come
    out LOWER — measured 0.323 → 0.302 at sf0.001 (-6.5%), 0.325 →
    0.303 at sf0.01 (-6.8%), 0.390 → 0.372 at sf0.1 (-4.6%); vs the r6
    untrained codebook's 0.77 both trained variants are ~2.4× better.
    (Pinned by tests/test_r7_advisories.py.)

    The mean is the integer-rational 6-dp recipe (no double ROUND), so
    the audit is oracle-exact, not a tolerance compare. Scale shape:
    two Arrow decode-error maps over the corpus + one 2-row
    aggregation; nothing driver-side but the two scalars."""
    from ..operators.pq import (
        decode_error,
        encode_codes,
        pq_train_codebooks,
        residual_struct,
    )

    cents, _, _ = lloyd_converged(spark, sf_dir)
    e = load(spark, sf_dir, "embeddings")
    corpus_raw = e.filter(F.col("vec_id") >= 10).select("vec_id", "embedding")

    cbs_raw, _, _ = pq_train_codebooks(spark, sf_dir)
    raw_err = encode_codes(corpus_raw, cbs_raw).withColumn(
        "err", decode_error(cbs_raw)
    )

    resid_all = e.select("vec_id", residual_struct(cents).alias("r")).select(
        "vec_id",
        F.col("r.cell").alias("cell"),
        F.col("r.rv").alias("rv"),
    )
    cbs_res, _, _ = pq_train_codebooks(
        spark, sf_dir, vec_col="rv", train_df=resid_all
    )
    res_err = (
        encode_codes(resid_all.filter(F.col("vec_id") >= 10), cbs_res, vec_col="rv")
        .join(corpus_raw, "vec_id")
        .withColumn(
            "err",
            decode_error(cbs_res, cents=cents, cell_col="cell"),
        )
    )

    def _mse(df, variant):
        return (
            df.agg(
                F.count(F.lit(1)).alias("n"),
                (
                    F.sum(F.col("err").cast("decimal(30,6)")) * 1000000
                ).cast("long").alias("am"),
            )
            .select(
                F.lit(variant).alias("variant"),
                F.col("n").cast("long").alias("n_vectors"),
                (
                    F.expr(
                        "CASE WHEN am >= 0 THEN (2 * am + n) DIV (2 * n) "
                        "ELSE -((-2 * am + n) DIV (2 * n)) END"
                    ).cast("double")
                    / 1000000.0
                ).alias("mse"),
            )
        )

    return _mse(raw_err, "raw").unionByName(_mse(res_err, "residual"))
