"""Interleaved A/B: full Lloyd / PQ training with the r13 DataFrame
per-iteration recipe vs the r14 RDD-blocks recipe, in ONE session.
Reports wall seconds per arm (min + sorted list) and iterations.

Usage: SPARK_GRAFT_CPUS=32 python tools/probe_train_ab.py [reps]
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)


def old_lloyd(spark, sf_dir, k=8, tol_micro=2000, max_iter=60):
    """The r13 recipe verbatim: persisted DataFrame at training width,
    AQE-off + 8-partition-reduce conf window, _lloyd_update per iter."""
    from pyspark.sql import functions as F

    from lakehouse_v3_spark.io_utils import load
    from lakehouse_v3_spark.operators.ivf import _lloyd_update, _seed_cents
    from lakehouse_v3_spark.operators.train_blocks import micro
    from lakehouse_v3_spark.partitioning import training_frame_width

    e = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents = _seed_cents(e, k)
    dim = len(cents[0])
    e = e.repartition(training_frame_width(e), "vec_id").persist()
    c = spark.conf
    old_aqe, old_sp = c.get("spark.sql.adaptive.enabled"), c.get(
        "spark.sql.shuffle.partitions"
    )
    c.set("spark.sql.adaptive.enabled", "false")
    c.set("spark.sql.shuffle.partitions", str(min(int(old_sp), 8)))
    try:
        for it in range(1, max_iter + 1):
            rows = _lloyd_update(e, cents).collect()
            new = [[0.0] * dim for _ in range(k)]
            for r in rows:
                new[r["cid"]][r["dim"]] = float(r["component"])
            shift = max(
                abs(micro(new[cc][d]) - micro(cents[cc][d]))
                for cc in range(k)
                for d in range(dim)
            )
            cents = new
            if shift <= tol_micro:
                return cents, it
        raise RuntimeError("no convergence")
    finally:
        c.set("spark.sql.adaptive.enabled", old_aqe)
        c.set("spark.sql.shuffle.partitions", old_sp)
        e.unpersist()


def main() -> None:
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 2
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from lakehouse_v3_spark.session import get_spark

    spark = get_spark(
        app_name="train-ab",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
        driver_memory="48g",
    )

    from lakehouse_v3_spark.operators.ivf import lloyd_converged
    from lakehouse_v3_spark.operators.pq import pq_train_codebooks

    results: dict[str, list[float]] = {}
    iters: dict[str, int] = {}

    def run(arm: str) -> None:
        spark.sparkContext.setJobDescription(f"train[{arm}]")
        t0 = time.monotonic()
        if arm == "lloyd_old":
            _, it = old_lloyd(spark, sf_dir)
            iters[arm] = it
        elif arm == "lloyd_new":
            _, it, _ = lloyd_converged(spark, sf_dir)
            iters[arm] = it
        elif arm == "pq_new":
            _, n_iters, _ = pq_train_codebooks(spark, sf_dir)
            iters[arm] = max(n_iters)
        results.setdefault(arm, []).append(
            round(time.monotonic() - t0, 3)
        )
        spark.catalog.clearCache()
        import gc

        gc.collect()

    arms = ["lloyd_old", "lloyd_new", "pq_new"]
    for a in arms:
        run(a)  # warm
    for _ in range(reps):
        for a in arms:
            run(a)
        for a in reversed(arms):
            run(a)
    print(
        {
            "cpus": cpus,
            "iters": iters,
            **{
                a: (min(v[1:]), sorted(v[1:]))
                for a, v in results.items()
            },
        }
    )
    spark.stop()


if __name__ == "__main__":
    main()
