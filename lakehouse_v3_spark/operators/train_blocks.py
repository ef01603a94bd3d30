"""The one training loop (:func:`train`) for the Lloyd coarse
quantizers and the PQ codebooks, over an RDD of numpy blocks.

The r13 loop ran one DataFrame aggregation per training iteration
(Arrow-batched argmin assignment → posexplode → decimal groupBy →
collect). Per iteration that pays a fresh Catalyst plan, a pandas_udf
pickle + broadcast, a 2-stage shuffle job, and an Arrow round trip of
the whole training frame — ~0.35 s of fixed latency at sf0.1 against
~20 ms of actual math (guide §1.2: fix the distributed algorithm
first). This module replaces the PER-ITERATION path with:

  1. ONE projection of the training frame into per-partition numpy
     blocks — the raw float64 matrix (for the exact left-fold
     distances) plus an int64 MICRO matrix computed by Spark's own
     ``cast(double → decimal(30,6)) × 1e6`` (so the 6-dp decimal
     quantization stays the JVM's, with no Python re-implementation to
     diverge) — persisted as a pickled-numpy RDD for the duration of
     one training call (the same within-call reuse as the r13 persist
     of the DataFrame; nothing outlives the call);
  2. per iteration, ONE single-stage ``mapPartitions → collect`` job:
     assignment argmin via the exact left fold, then per-cell int64
     scatter-add of the micro matrix (integer sums are EXACTLY the
     decimal(30,6) sums scaled by 1e6, and order-independent, so the
     values cannot depend on partitioning or reduction order). No
     shuffle, no Catalyst, no Arrow; the job ships k × dim ints per
     partition to the driver — the same bytes the old reduce shuffled.

A DataFrame-vs-blocks lockstep equality harness
(tools/probe_train_equiv.py) pins that every iteration's components
and counts are identical to the r13 recipe on every fixture; the
shuffle-stage-reuse trap that killed the r13 static-plan attempt does
not exist here because each iteration is a fresh RDD action over an
explicitly persisted parent (nothing reuses a completed shuffle map
stage — there is no shuffle).

Scale shape: identical to the r13 loop — each iteration is one
embarrassingly-parallel pass over the persisted training set with a
k × dim-scalar result; at corpus scale the blocks RDD holds the same
bytes the DataFrame persist held.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..partitioning import training_frame_width


def _cell_dists_mat(M, cents: list[list[float]]):
    """(n × k) float64 distance matrix from an (n × dim) float64 matrix
    via an EXACT LEFT FOLD: for each centroid, acc starts at 0.0 and the
    per-dimension (v-c)² terms are added SEQUENTIALLY (vectorized over
    rows, sequential over dims) — each output element sees the identical
    IEEE operation sequence as DuckDB's
    ``list_reduce(list_prepend(0.0, ...), +)`` fold, so argmin/tie-break
    decisions are bit-identical across engines. ``np.dot``/``np.sum``
    would be faster but use pairwise/SIMD summation — a DIFFERENT
    rounding order that can flip an argmin on near-ties and silently
    diverge from the oracle. Lives here (not operators/ivf) so the
    iteration closures below can reference it without a circular
    import; operators/ivf re-exports the pandas front-end."""
    import numpy as np

    n = M.shape[0]
    dists = np.empty((n, len(cents)), dtype=np.float64)
    for cid, cent in enumerate(cents):
        acc = np.zeros(n, dtype=np.float64)
        for d, c in enumerate(cent):
            diff = M[:, d] - c
            acc = acc + diff * diff
        dists[:, cid] = acc
    return dists


def micro_col(vec_col: str):
    """array<long> column: each component's EXACT 6-dp decimal value in
    micro-units, via the JVM's own decimal cast — float32 → double →
    decimal(30,6) (the kmeans_lloyd_step promotion recipe), then an
    exact decimal shift: decimal(30,6) × decimal(7,0) → decimal(38,6)
    (38 ≤ MAX_PRECISION, so no precision loss), integral-valued, cast
    to long. Python never re-implements the decimal quantization."""
    return F.transform(
        F.col(vec_col),
        lambda x: (
            x.cast("double").cast("decimal(30,6)")
            * F.lit(1000000).cast("decimal(7,0)")
        ).cast("long"),
    )


def build_blocks(df: DataFrame, vec_col: str = "embedding"):
    """One (M float64 n×dim, Mm int64 n×dim) numpy pair per non-empty
    partition of ``df`` — the iteration working set. Caller persists."""
    proj = df.select(F.col(vec_col).alias("_v"), micro_col(vec_col).alias("_m"))

    def to_block(rows):
        import numpy as np

        vs, ms = [], []
        for r in rows:
            vs.append(r[0])
            ms.append(r[1])
        if vs:
            yield (
                np.array(vs, dtype=np.float64),
                np.array(ms, dtype=np.int64),
            )

    return proj.rdd.mapPartitions(to_block)


def training_blocks(e: DataFrame, vec_col: str = "embedding"):
    """The PERSISTED blocks RDD one training call iterates over: ``e``
    hashed on ``vec_id`` at the bytes-derived training width (r13: a
    one-split scan would run everything single-task, full session
    parallelism over-shards the tiny per-iteration jobs). The caller
    unpersists it when its loop ends."""
    return build_blocks(
        e.repartition(training_frame_width(e), "vec_id"), vec_col=vec_col
    ).persist()


def partial_sums(blocks, models: dict[int, list[list[float]]], w: int):
    """One training iteration over the blocks RDD for every model in
    ``models`` (key m = the columns ``m*w : (m+1)*w`` of the block —
    PQ subspace m, or Lloyd as model 0 with ``w = dim``): returns
    {m: (sums int64 k×w, counts int64 k)}, the exact micro-unit sums
    and member counts per cell. Assignment = argmin over the exact
    left-fold distances with first-minimum (lowest-id) tie-break,
    identical to assign_cells and _pq_update's Arrow UDF."""
    import numpy as np

    sc = blocks.context
    keys = sorted(models)
    ks = {m: len(models[m]) for m in keys}
    models_b = sc.broadcast(
        {m: [[float(x) for x in c] for c in models[m]] for m in keys}
    )

    def zeros():
        return {
            m: (np.zeros((ks[m], w), dtype=np.int64), np.zeros(ks[m], dtype=np.int64))
            for m in keys
        }

    def part(it):
        out = zeros()
        for M, Mm in it:
            for m in keys:
                cols = slice(m * w, (m + 1) * w)
                a = np.argmin(_cell_dists_mat(M[:, cols], models_b.value[m]), axis=1)
                sums, counts = out[m]
                np.add.at(sums, a, Mm[:, cols])  # exact int64 scatter-add
                counts += np.bincount(a, minlength=ks[m]).astype(np.int64)
        yield out

    try:
        parts = blocks.mapPartitions(part).collect()
    finally:
        models_b.destroy()
    merged = zeros()
    for p in parts:
        for m in keys:
            sums, counts = merged[m]
            sums += p[m][0]
            counts += p[m][1]
    return merged


def micro(component: float) -> int:
    """Half-away-from-zero micro-units — DuckDB/Spark
    ``CAST(ROUND(x * 1e6, 0) AS BIGINT)``, NOT Python's banker's
    rounding — so the driver-side shift integers are the same ones the
    SQL oracles compute."""
    x = component * 1e6
    return int(math.copysign(math.floor(abs(x) + 0.5), x))


def pq_component(sum_micro: int, n: int) -> float:
    """PQ codeword component: half-away-from-zero(Σ/n at 6 dp) computed
    ENTIRELY in int64 rational arithmetic — round_half_up(a/n) =
    (2a + n) div (2n) for a ≥ 0, mirrored for a < 0. A ROUND of the
    double quotient lands on a .xxxxxx5 boundary often enough with the
    small cells of a 64-codeword codebook (~8 members) that Spark's
    BigDecimal-expansion ROUND and DuckDB's scaled-double ROUND
    disagreed on 3 of 4096 components (measured r8); integer
    arithmetic has no boundary, and micro/1e6 is the same double in
    both engines (plans/pq_train_sql and _pq_update carry the SQL
    twin)."""
    a = int(sum_micro)
    rounded = (2 * a + n) // (2 * n) if a >= 0 else -((-2 * a + n) // (2 * n))
    return rounded / 1e6


def micro_mean(sum_micro: int, n: int) -> float:
    """Cell-mean component before ROUND: the decimal(38,6) sum (held as
    exact int micro-units) cast to double, divided by the member count —
    Spark's ``CAST(SUM(decimal) AS DOUBLE) / COUNT(*)``. The Fraction
    gives the correctly rounded double of the decimal, as the JVM cast
    does; ``int / 1e6`` would round twice and drift once sums pass 2^53
    micro-units."""
    from fractions import Fraction

    return float(Fraction(int(sum_micro), 1_000_000)) / n


def make_round6(spark):
    """ROUND(x, 6) with Spark's double semantics:
    ``BigDecimal.valueOf(x).setScale(6, HALF_UP).doubleValue()``.
    The Python fast path quantizes ``Decimal(repr(x))`` — repr(x) is
    the shortest round-trip decimal, which is what BigDecimal.valueOf
    parses on modern JVMs; on JDK 17 Double.toString can emit one digit
    more than minimal, so any value whose half-up decision sits within
    1 part in 1e12 of the .5 boundary (far wider than the ~2⁻⁵² repr
    ambiguity) is deferred to the JVM's own BigDecimal via py4j. The
    fallback fires ~never; the lockstep harness checks end to end."""
    from decimal import ROUND_FLOOR, ROUND_HALF_UP, Decimal

    jdouble = spark._jvm.java.lang.Double
    q6 = Decimal("0.000001")
    half = Decimal("0.5")
    band = Decimal("1e-12")

    def round6(x: float) -> float:
        d = Decimal(repr(float(x)))
        v = d.scaleb(6)
        frac = v - v.to_integral_value(rounding=ROUND_FLOOR)
        if abs(frac - half) < band * max(abs(v), Decimal(1)):
            # defer to the JVM's exact digits: BigDecimal.valueOf(x) is
            # new BigDecimal(Double.toString(x)); fetch that string and
            # quantize it (setScale HALF_UP ≡ quantize ROUND_HALF_UP,
            # doubleValue ≡ float() — both correctly rounded)
            d = Decimal(jdouble.toString(float(x)))
        return float(d.quantize(q6, rounding=ROUND_HALF_UP))

    return round6


def train(blocks, seeds: dict, component, tol_micro: int, max_iter: int, capped: bool):
    """THE training loop (Lloyd coarse quantizers and PQ codebooks
    alike): advance every model in ``seeds`` (key → k × w codebook, see
    :func:`partial_sums`) with ONE single-stage ``mapPartitions →
    collect`` job per iteration over the persisted blocks RDD — no
    Catalyst plan, no pandas_udf pickle, no shuffle, no Arrow round
    trip (r14, guide §1.2). The partial sums are the exact int64
    decimal(30,6) micro sums, so ``component(sum_micro, n)`` sees the
    same integers the DuckDB oracle's decimal SUM does; the lockstep
    harness (tools/probe_train_equiv.py) pins every iteration
    bit-identical to the r13 DataFrame recipe.

    Each model stops on its OWN: once its max micro-unit shift is ≤
    ``tol_micro`` it is final and drops out of later jobs (a converged
    k-means, not a snapshot of a jointly-stopped loop). ``capped``
    picks the two rule sets the oracles replay:

    - ``capped=False`` (lloyd_converged, PQ): an empty cell raises, and
      so does a model still moving at ``max_iter`` — either would
      silently diverge from the oracle's unrolled chain;
    - ``capped=True`` (lloyd_capped): an empty cell keeps its previous
      centroid, and iteration ``max_iter`` is final whatever its shift.

    Returns ``(final, n_iters, prev)`` keyed like ``seeds``: the final
    codebook, the iteration it was reached at, and the codebook one
    iteration earlier (catalog queries rebuild the final aggregation
    lazily from it)."""
    w = len(next(iter(seeds.values()))[0])
    active = dict(seeds)
    final: dict = {}
    n_iters: dict = {}
    prev: dict = {}
    for it in range(1, max_iter + 1):
        if not active:
            break
        merged = partial_sums(blocks, active, w)
        for m, old in list(active.items()):
            sums, counts = merged[m]
            if not capped and counts.min() == 0:
                empty = [int(j) for j in (counts == 0).nonzero()[0]]
                raise RuntimeError(
                    f"train: empty cell(s) {empty} in model {m} at "
                    f"iteration {it} — undefined vs the oracle"
                )
            new = [
                [component(int(sums[j][d]), int(counts[j])) for d in range(w)]
                if counts[j]
                else list(old[j])  # capped: an empty cell carries over
                for j in range(len(old))
            ]
            shift = max(
                abs(micro(a) - micro(b))
                for row_new, row_old in zip(new, old)
                for a, b in zip(row_new, row_old)
            )
            if shift <= tol_micro or (capped and it == max_iter):
                final[m], n_iters[m], prev[m] = new, it, old
                del active[m]
            else:
                active[m] = new
    if active:
        raise RuntimeError(
            f"train: models {sorted(active)} did not converge to "
            f"{tol_micro} micro-units within {max_iter} iterations"
        )
    return final, n_iters, prev
