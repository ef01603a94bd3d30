"""RDD-level iteration kernel for the Lloyd / PQ training loops.

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

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


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


def lloyd_partial_sums(blocks, cents: list[list[float]]):
    """One Lloyd iteration over the persisted blocks RDD: returns
    (sums int64 k×dim, counts int64 k) — exact micro-unit sums and
    member counts per cell. Assignment = argmin over the exact
    left-fold distances with first-minimum (lowest-cid) tie-break,
    identical to assign_cells."""
    import numpy as np

    sc = blocks.context
    k, dim = len(cents), len(cents[0])
    cents_b = sc.broadcast([[float(v) for v in c] for c in cents])

    def part(it):
        sums = np.zeros((k, dim), dtype=np.int64)
        counts = np.zeros(k, dtype=np.int64)
        for M, Mm in it:
            a = np.argmin(_cell_dists_mat(M, cents_b.value), axis=1)
            np.add.at(sums, a, Mm)  # exact int64 scatter-add
            counts += np.bincount(a, minlength=k).astype(np.int64)
        yield (sums, counts)

    try:
        parts = blocks.mapPartitions(part).collect()
    finally:
        cents_b.destroy()
    sums = np.zeros((k, dim), dtype=np.int64)
    counts = np.zeros(k, dtype=np.int64)
    for s, c in parts:
        sums += s
        counts += c
    return sums, counts


def pq_partial_sums(blocks, cbs_by_s: dict[int, list[list[float]]], w: int):
    """One PQ training iteration over the blocks RDD for every ACTIVE
    subspace: returns {s: (sums int64 k×w, counts int64 k)}. Assignment
    per subspace = argmin over the exact left-fold subvector distances
    (first minimum → lowest j), identical to _pq_update's Arrow UDF."""
    import numpy as np

    sc = blocks.context
    active = sorted(cbs_by_s)
    k = len(cbs_by_s[active[0]])
    cbs_b = sc.broadcast(
        {s: [[float(x) for x in cw] for cw in cbs_by_s[s]] for s in active}
    )

    def part(it):
        out = {
            s: (np.zeros((k, w), dtype=np.int64), np.zeros(k, dtype=np.int64))
            for s in active
        }
        for M, Mm in it:
            for s in active:
                Ms = M[:, s * w : (s + 1) * w]
                Mms = Mm[:, s * w : (s + 1) * w]
                a = np.argmin(_cell_dists_mat(Ms, cbs_b.value[s]), axis=1)
                sums, counts = out[s]
                np.add.at(sums, a, Mms)
                counts += np.bincount(a, minlength=k).astype(np.int64)
        yield out

    try:
        parts = blocks.mapPartitions(part).collect()
    finally:
        cbs_b.destroy()
    merged = {
        s: (np.zeros((k, w), dtype=np.int64), np.zeros(k, dtype=np.int64))
        for s in active
    }
    for p in parts:
        for s in active:
            merged[s] = (merged[s][0] + p[s][0], merged[s][1] + p[s][1])
    return merged


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
