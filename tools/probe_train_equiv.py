"""Lockstep equality harness: the r14 RDD-blocks training iteration vs
the r13 DataFrame recipe (_lloyd_update / _pq_update), every iteration,
on every fixture SF. Exits non-zero on the first mismatch. Not part of
the bench contract — a verification tool.

Usage: python tools/probe_train_equiv.py [sf_dirs...]
Defaults to /root/testdata/sf0.001 sf0.01 sf0.1.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)


def lloyd_old_iter(e, cents):
    """One r13-recipe Lloyd update: DataFrame agg → (new, counts)."""
    from lakehouse_v3_spark.operators.ivf import _lloyd_update

    k, dim = len(cents), len(cents[0])
    rows = _lloyd_update(e, cents).collect()
    new = [[None] * dim for _ in range(k)]
    counts = [0] * k
    for r in rows:
        new[r["cid"]][r["dim"]] = float(r["component"])
        counts[r["cid"]] = int(r["n_assigned"])
    return new, counts


def lloyd_new_iter(blocks, cents, round6):
    from lakehouse_v3_spark.operators.train_blocks import (
        lloyd_partial_sums,
        micro_mean,
    )

    k, dim = len(cents), len(cents[0])
    sums, counts = lloyd_partial_sums(blocks, cents)
    new = [
        [
            round6(micro_mean(sums[c][d], int(counts[c])))
            if counts[c]
            else None
            for d in range(dim)
        ]
        for c in range(k)
    ]
    return new, [int(c) for c in counts]


def check_lloyd(spark, sf_dir, k, max_iter=60, tol_micro=2000) -> int:
    from lakehouse_v3_spark.io_utils import load
    from lakehouse_v3_spark.operators.ivf import _micro, _seed_cents
    from lakehouse_v3_spark.operators.train_blocks import (
        build_blocks,
        make_round6,
    )
    from lakehouse_v3_spark.partitioning import training_frame_width

    e = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents = _seed_cents(e, k)
    ew = e.repartition(training_frame_width(e), "vec_id")
    ed = ew.persist()
    blocks = build_blocks(ew).persist()
    round6 = make_round6(spark)
    mismatches = 0
    try:
        for it in range(1, max_iter + 1):
            old, old_counts = lloyd_old_iter(ed, cents)
            new, new_counts = lloyd_new_iter(blocks, cents, round6)
            # r13 parse leaves missing (cid,dim) as None, as does the
            # empty-cell branch of the new path — compare verbatim
            if old != new or old_counts != new_counts:
                mismatches += 1
                for c in range(k):
                    for d in range(len(cents[0])):
                        if old[c][d] != new[c][d]:
                            print(
                                f"  MISMATCH sf={sf_dir} it={it} cid={c} "
                                f"dim={d}: old={old[c][d]!r} new={new[c][d]!r}"
                            )
                if old_counts != new_counts:
                    print(
                        f"  COUNTS sf={sf_dir} it={it}: "
                        f"old={old_counts} new={new_counts}"
                    )
            if any(x is None for row in old for x in row):
                print(f"  (empty cell at it={it}, k={k} — stopping lloyd)")
                break
            shift = max(
                abs(_micro(old[c][d]) - _micro(cents[c][d]))
                for c in range(k)
                for d in range(len(cents[0]))
            )
            cents = old
            if shift <= tol_micro:
                print(f"  lloyd k={k} converged at it={it}")
                break
        else:
            print(f"  lloyd k={k}: max_iter reached")
    finally:
        ed.unpersist()
        blocks.unpersist()
    return mismatches


def check_pq(spark, sf_dir, max_iter=60, tol_micro=10000) -> int:
    from pyspark.sql import functions as F

    from lakehouse_v3_spark.io_utils import load
    from lakehouse_v3_spark.operators.pq import (
        PQ_TRAIN_K,
        PQ_TRAIN_SAMPLE_CAP,
        _micro,
        _pq_update,
        corpus_rows,
        pq_codebooks,
        pq_train_stride,
    )
    from lakehouse_v3_spark.operators.train_blocks import (
        build_blocks,
        pq_partial_sums,
    )
    from lakehouse_v3_spark.partitioning import training_frame_width

    e = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    stride = pq_train_stride(corpus_rows(sf_dir), PQ_TRAIN_SAMPLE_CAP)
    if stride > 1:
        e = e.filter((F.col("vec_id") % stride) == 0)
    seeds = pq_codebooks(spark, e, k_codes=PQ_TRAIN_K)
    w = len(seeds[0][0])
    k = PQ_TRAIN_K
    ew = e.repartition(training_frame_width(e))
    vecs = ew.select("embedding").persist()
    blocks = build_blocks(ew).persist()

    def comp(am, n):
        return (
            ((2 * am + n) // (2 * n)) if am >= 0 else -((-2 * am + n) // (2 * n))
        ) / 1e6

    active = {s: seeds[s] for s in range(len(seeds))}
    mismatches = 0
    try:
        for it in range(1, max_iter + 1):
            if not active:
                break
            rows = _pq_update(vecs, active).collect()
            by_s = {s: {} for s in active}
            for r in rows:
                by_s[r["s"]][(r["j"], r["dim"])] = (
                    float(r["component"]),
                    int(r["n_assigned"]),
                )
            merged = pq_partial_sums(blocks, active, w)
            for s in sorted(active):
                sums, counts = merged[s]
                for j in range(k):
                    for d in range(w):
                        o = by_s[s].get((j, d))
                        n_val = (
                            (comp(int(sums[j][d]), int(counts[j])), int(counts[j]))
                            if counts[j]
                            else None
                        )
                        if o != n_val:
                            mismatches += 1
                            print(
                                f"  MISMATCH pq sf={sf_dir} it={it} s={s} "
                                f"j={j} d={d}: old={o!r} new={n_val!r}"
                            )
            # advance with the OLD values (both equal if no mismatch)
            for s in list(active):
                got = by_s[s]
                if len(got) != k * w:
                    print(f"  (pq empty codeword, s={s}, it={it} — stop)")
                    del active[s]
                    continue
                new = [[got[(j, d)][0] for d in range(w)] for j in range(k)]
                old_cb = active[s]
                shift = max(
                    abs(_micro(new[j][d]) - _micro(old_cb[j][d]))
                    for j in range(k)
                    for d in range(w)
                )
                if shift <= tol_micro:
                    print(f"  pq s={s} converged at it={it}")
                    del active[s]
                else:
                    active[s] = new
    finally:
        vecs.unpersist()
        blocks.unpersist()
    return mismatches


def main() -> None:
    sf_dirs = sys.argv[1:] or [
        "/root/testdata/sf0.001",
        "/root/testdata/sf0.01",
        "/root/testdata/sf0.1",
    ]
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from lakehouse_v3_spark.session import get_spark

    spark = get_spark(
        app_name="train-equiv",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
        driver_memory="48g",
    )
    total = 0
    for sf_dir in sf_dirs:
        print(f"== {sf_dir} ==")
        total += check_lloyd(spark, sf_dir, k=8)
        total += check_lloyd(spark, sf_dir, k=64)  # capped-trainer k range
        total += check_pq(spark, sf_dir)
    print(f"TOTAL MISMATCHES: {total}")
    spark.stop()
    sys.exit(1 if total else 0)


if __name__ == "__main__":
    main()
