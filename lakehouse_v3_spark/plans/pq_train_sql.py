"""DuckDB oracle SQL builders for TRAINED product-quantization
codebooks (r6 verdict item #1) — shared by pq_trained_queries.py,
similarity_queries.py (trained knn_pq_adc + rerank) and ivf_queries.py
(trained IVF-PQ, residual IVF-PQ), so the training formulation cannot
drift between the queries that embed it.

NOT a registered query module — pure SQL text + an early-exit DuckDB
twin for the big-SF gates.

Oracle strategy mirrors plans/ivf_queries.py: per-subspace converged
Lloyd is a loop; the primary oracles UNROLL ``PQ_UNROLL`` iterations
as one CTE chain in LONG form (s, j, dim, component) covering all 8
subspaces at once, compute integer micro-unit shifts PER SUBSPACE
between consecutive chains, and snapshot each subspace's codebook at
its own first converged iteration (per-subspace stopping — subspace
updates are independent, so rows of a later iteration never affect an
already-converged subspace's snapshot). Measured convergence maxima:
15 / 10 / 19 iterations at sf0.001 / 0.01 / 0.1 (re-measured r8; depth
is NOT monotone in corpus size) — PQ_UNROLL = 24 covers the worst with
headroom, pinned by
tests/test_r7_advisories.py::test_pq_unroll_covers_fixtures. The
big-SF gates use ``duckdb_pq_train`` (identical per-iteration SQL,
real early exit). Above PQ_TRAIN_SAMPLE_CAP vectors both engines train
on the deterministic vec_id-stride sample (``train_source_sql``).

Determinism contract (shared with operators/pq.pq_train_codebooks):
  - seeds: subvector s of the 6-dp-rounded vectors vec_id < k;
  - assignment: 0.0-seeded left-fold subspace distance, (dist, j)
    tie-break;
  - component: half-away-from-zero 6-dp mean computed ENTIRELY in
    int64 rational arithmetic — micro = (2a + n) // (2n) on the exact
    decimal-sum micros (sign-mirrored), component = micro / 1e6. The
    older ROUND(decimal_sum / n, 6) recipe rounds a DOUBLE quotient;
    with ~8-member codeword cells it hits .xxxxxx5 boundaries often
    enough that Spark's BigDecimal ROUND and DuckDB's disagreed on
    3/4096 components (measured r7) — integer arithmetic removes the
    boundary entirely;
  - shift/stop: max |Δ| in micro-units per subspace, ≤ tol stops THAT
    subspace.
"""

from __future__ import annotations

from ..operators.pq import (
    PQ_N_SUB,
    PQ_TRAIN_K,
    PQ_TRAIN_MAX_ITER,
    PQ_TRAIN_SAMPLE_CAP,
    PQ_TRAIN_TOL_MICRO,
)
from .oracle_sql import SHIFT_EXPR, fold_sum

PQ_UNROLL = 24
_W = 8  # subspace width on the 64-dim fixtures


def train_source_sql(source: str = "embeddings", vec: str = "embedding") -> str:
    """The oracle twin of operators/pq's deterministic training sample
    (r7 verdict item #4): ``vec_id % ceil(n / cap) == 0`` with the
    SAME exact-integer ceil — ``(COUNT(*) + cap - 1) // cap``, cap =
    PQ_TRAIN_SAMPLE_CAP. Below the cap the stride is 1 and the
    expression reduces to the full corpus (bit-identical to the
    unsampled recipe on every driver fixture). Returns a parenthesized
    subquery usable wherever the chain builders take a ``source``."""
    cap = PQ_TRAIN_SAMPLE_CAP
    return (
        f"(SELECT vec_id, {vec} FROM {source} WHERE vec_id % "
        f"(SELECT (COUNT(*) + {cap - 1}) // {cap} FROM {source}) = 0)"
    )


def sq_fold(a: str, b: str) -> str:
    """0.0-seeded left-fold Σ (a[d]-b[d])² over a width-_W subspace —
    both operands already-DOUBLE lists (the DuckDB twin of
    train_blocks._cell_dists_mat and the numpy kernels in
    operators/pq.py)."""
    return fold_sum(
        f"list_transform(range(1, {_W + 1}), "
        f"d -> ({a}[d] - {b}[d]) * ({a}[d] - {b}[d]))"
    )


def subv_sql(source: str = "embeddings", vec: str = "embedding") -> str:
    """Long-form training subvectors (vec_id, s, sv) from ``source``;
    ``vec`` may be any list expression (e.g. a residual)."""
    return f"""
SELECT t.vec_id, CAST(ss.s AS INT) AS s,
       list_transform(range(ss.s*{_W} + 1, ss.s*{_W} + {_W} + 1),
                      d -> CAST(t.{vec}[d] AS DOUBLE)) AS sv
FROM {source} t, (SELECT unnest(range(0, {PQ_N_SUB})) AS s) ss
"""


def c0_sql(source: str = "embeddings", vec: str = "embedding") -> str:
    """Seed codebooks: subvector s of the k = PQ_TRAIN_K LOWEST-vec_id
    vectors of ``source``, codeword index j = rank within those seeds
    (for a full contiguous-id corpus this is exactly ``vec_id < k`` with
    j = vec_id — the original recipe; for a sampled train set the
    seeds are the k lowest surviving ids). Components 6-dp rounded
    (same seed recipe as the coarse quantizer); Spark twin:
    operators/pq.pq_codebooks' ORDER BY id LIMIT k."""
    return f"""
SELECT CAST(ss.s AS INT) AS s, CAST(sd.j AS INT) AS j,
       CAST(dd.dim AS INT) AS dim,
       ROUND(CAST(sd.v[ss.s*{_W} + dd.dim + 1] AS DOUBLE), 6) AS component
FROM (SELECT vec_id, {vec} AS v,
             row_number() OVER (ORDER BY vec_id) - 1 AS j
      FROM {source} src_t ORDER BY vec_id LIMIT {PQ_TRAIN_K}) sd,
     (SELECT unnest(range(0, {PQ_N_SUB})) AS s) ss,
     (SELECT unnest(range(0, {_W})) AS dim) dd
"""


def iter_body(prev: str, subv: str = "subv") -> str:
    """One per-subspace Lloyd update from centroid table/CTE ``prev``
    (long form s, j, dim, component) over subvector CTE ``subv`` —
    shared verbatim between the unrolled primary chain and the
    early-exit big-SF twin so the two formulations cannot drift."""
    wide = (
        f"SELECT s, j, list(component ORDER BY dim) AS cw "
        f"FROM {prev} GROUP BY s, j"
    )
    return f"""
SELECT s, j, dim, n_assigned,
       CAST(CASE WHEN am >= 0 THEN (2 * am + n_assigned) // (2 * n_assigned)
                 ELSE -((-2 * am + n_assigned) // (2 * n_assigned)) END
            AS DOUBLE) / 1000000.0 AS component
FROM (
  SELECT s, j, CAST(dim AS INT) AS dim, COUNT(*) AS n_assigned,
         CAST(SUM(CAST(val AS DECIMAL(30,6))) * 1000000 AS BIGINT) AS am
  FROM (
    SELECT a.s, a.j, unnest(range(0, {_W})) AS dim, unnest(a.sv) AS val
    FROM (
      SELECT vec_id, s, j, sv FROM (
        SELECT v.vec_id, v.s, b.j, v.sv,
               row_number() OVER (PARTITION BY v.vec_id, v.s
                                  ORDER BY {sq_fold("v.sv", "b.cw")}, b.j) AS rn
        FROM {subv} v JOIN ({wide}) b ON b.s = v.s
      ) WHERE rn = 1
    ) a
  )
  GROUP BY s, j, dim
)
"""


def train_chain(
    prefix: str = "pq",
    source: str = "embeddings",
    vec: str = "embedding",
) -> str:
    """Unrolled WITH-clause body ending in ``{prefix}cb`` =
    (s, j, dim, n_assigned, component, n_iters): each subspace's
    codebook snapshotted at its own first converged iteration. If any
    subspace never converges within the PQ_UNROLL unrolled iterations
    it is ABSENT from ``{prefix}cb`` → fewer rows → the gate fails
    LOUDLY (the _N_UNROLL lesson from r5). ``prefix`` namespaces the CTEs so two chains
    (raw + residual) can coexist in one statement. The training
    source is the deterministic ``train_source_sql`` sample of
    ``source`` (stride 1 = full corpus below PQ_TRAIN_SAMPLE_CAP) —
    the same rows operators/pq.pq_train_codebooks trains on."""
    p = prefix
    src = train_source_sql(source, vec)
    parts = [
        f"{p}subv AS MATERIALIZED ({subv_sql(src, vec)})",
        f"{p}c0 AS MATERIALIZED ({c0_sql(src, vec)})",
    ]
    for i in range(1, PQ_UNROLL + 1):
        parts.append(
            f"{p}c{i} AS MATERIALIZED ({iter_body(f'{p}c{i - 1}', f'{p}subv')})"
        )
        parts.append(
            f"{p}s{i} AS (SELECT {i} AS i, n.s, {SHIFT_EXPR} AS shift "
            f"FROM {p}c{i} n JOIN {p}c{i - 1} p USING (s, j, dim) GROUP BY n.s)"
        )
    shifts = " UNION ALL ".join(
        f"SELECT * FROM {p}s{i}" for i in range(1, PQ_UNROLL + 1)
    )
    allc = " UNION ALL ".join(
        f"SELECT {i} AS i, s, j, dim, n_assigned, component FROM {p}c{i}"
        for i in range(1, PQ_UNROLL + 1)
    )
    parts.append(f"{p}shifts AS ({shifts})")
    parts.append(
        f"{p}tsel AS (SELECT s, MIN(i) AS t FROM {p}shifts "
        f"WHERE shift <= {PQ_TRAIN_TOL_MICRO} GROUP BY s)"
    )
    parts.append(
        f"{p}cb AS (SELECT u.s, u.j, u.dim, u.n_assigned, u.component, "
        f"CAST(t.t AS INT) AS n_iters "
        f"FROM ({allc}) u JOIN {p}tsel t ON u.i = t.t AND u.s = t.s)"
    )
    return ",\n".join(parts)


def duckdb_pq_train(
    con,
    source_sql: str = "SELECT vec_id, embedding FROM embeddings",
    vec: str = "embedding",
    out_table: str = "_pq_cb",
) -> dict[int, int]:
    """Early-exit twin of the unrolled chain for the big-SF gates: the
    same per-iteration SQL against temp tables, each subspace frozen
    into ``out_table`` at its own first converged iteration — over the
    same deterministic training sample as the unrolled chain. Returns
    {subspace: n_iters}."""
    con.execute(f"CREATE OR REPLACE TEMP TABLE _pqt_all AS {source_sql}")
    cap = PQ_TRAIN_SAMPLE_CAP
    con.execute(
        "CREATE OR REPLACE TEMP TABLE _pqt_src AS "
        "SELECT * FROM _pqt_all WHERE vec_id % "
        f"(SELECT (COUNT(*) + {cap - 1}) // {cap} "
        "FROM _pqt_all) = 0"
    )
    con.execute(
        "CREATE OR REPLACE TEMP TABLE _pqt_subv AS "
        + subv_sql("_pqt_src", vec)
    )
    con.execute(
        "CREATE OR REPLACE TEMP TABLE _pqt_prev AS " + c0_sql("_pqt_src", vec)
    )
    con.execute(
        f"CREATE OR REPLACE TEMP TABLE {out_table} "
        "(s INT, j INT, dim INT, n_assigned BIGINT, component DOUBLE, "
        "n_iters INT)"
    )
    done: dict[int, int] = {}
    for it in range(1, PQ_TRAIN_MAX_ITER + 1):
        con.execute(
            "CREATE OR REPLACE TEMP TABLE _pqt_new AS "
            + iter_body("_pqt_prev", "_pqt_subv")
        )
        rows = con.execute(
            f"SELECT n.s, {SHIFT_EXPR} AS shift FROM _pqt_new n "
            "JOIN _pqt_prev p USING (s, j, dim) GROUP BY n.s"
        ).fetchall()
        newly = [int(s) for s, shift in rows if shift <= PQ_TRAIN_TOL_MICRO]
        for s in newly:
            done[s] = it
            con.execute(
                f"INSERT INTO {out_table} "
                "SELECT s, j, dim, n_assigned, component, "
                f"CAST({it} AS INT) FROM _pqt_new WHERE s = {s}"
            )
        if newly:
            con.execute(
                "CREATE OR REPLACE TEMP TABLE _pqt_subv AS "
                "SELECT * FROM _pqt_subv WHERE s NOT IN "
                f"({', '.join(str(s) for s in newly)})"
            )
        con.execute(
            "CREATE OR REPLACE TEMP TABLE _pqt_prev AS "
            "SELECT s, j, dim, component FROM _pqt_new WHERE s IN "
            "(SELECT DISTINCT s FROM _pqt_subv)"
        )
        if len(done) == PQ_N_SUB:
            return done
    raise RuntimeError(
        f"duckdb_pq_train: subspaces "
        f"{sorted(set(range(PQ_N_SUB)) - set(done))} did not converge "
        f"within {PQ_TRAIN_MAX_ITER} iterations"
    )
