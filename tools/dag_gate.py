"""DAG-e2e value gate (r10 verdict item #7): run the INCREMENTAL
curation DAG over a real SF fixture in N monotone ticks, then value-
compare every silver/gold/pair table against one run_funnel composition
over the union corpus — the orchestrated path gets the same scale
evidence as the catalog path (the toy-scale form of this check lives in
tests/test_curation.py).

Emits one JSONL row per table: {"table", "rows", "match", "sec"} plus a
summary row, appended to --out (resumable is unnecessary — one run).

Usage::

    python tools/dag_gate.py --sf-dir /root/repo/testdata/sf1 \
        --out GATE_dag_sf1.jsonl [--ticks 2] [--embed]
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import sys
import tempfile
import time

REPO_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_DIR not in sys.path:
    sys.path.insert(0, REPO_DIR)


def _value_hash(df, cols=None) -> "tuple[int, str]":
    """(row_count, order-insensitive md5) over the selected columns —
    the driver-compare discipline: sort columns by name, canonicalize
    each row, xor-fold row digests so ordering cannot matter."""
    cols = sorted(cols or df.columns)
    rows = df.select(cols).collect()
    acc = 0
    for r in rows:
        h = hashlib.md5(
            "|".join(repr(x) for x in r).encode("utf-8")
        ).digest()
        acc ^= int.from_bytes(h, "big")
    return len(rows), f"{acc:032x}"


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/repo/testdata/sf1")
    ap.add_argument("--out", required=True)
    ap.add_argument("--ticks", type=int, default=2)
    ap.add_argument("--embed", action="store_true")
    ap.add_argument(
        "--plant-near-dups",
        type=int,
        default=0,
        help="append N mutated near-duplicates (first token dropped, "
        "fresh monotone ids) of tick-1 docs to the LAST tick's landing "
        "slice — the gen_sf corpus' duplicates are exact copies that "
        "die at the exact-dedup stage, so without planting the sf1 "
        "near-dup PAIR path would be exercised on an empty set; both "
        "the DAG and the run_funnel reference see the planted docs, so "
        "every table comparison stays meaningful and the pair table is "
        "provably non-empty through the incremental probe",
    )
    ap.add_argument(
        "--violate",
        action="store_true",
        help="after the monotone ticks, land ONE extra tick that "
        "re-delivers low ids (violating the max-id watermark) — ingest "
        "must report mode='rebuild', replay the corpus through the same "
        "task bodies, and the final tables must STILL equal run_funnel "
        "(r11 verdict item #6: the rebuild escape hatch value-gated at "
        "scale, not just unit scale)",
    )
    ap.add_argument(
        "--retrain",
        action="store_true",
        help="(implies --embed) grow the embeddings FEATURE table "
        "mid-run: early ticks see a one-third slice, later ticks the "
        "full table (≥ 2x the trained n) — the r12 verdict item #2 "
        "staleness rule must fire exactly once (ingest mode='rebuild', "
        "rebuild_reason='cluster_model_stale'), the model must retrain "
        "with the grown trained_n, and the final tables must equal "
        "run_funnel over the FULL feature table",
    )
    args = ap.parse_args()
    if args.retrain:
        args.embed = True

    from pyspark.sql import functions as F

    from lakehouse_v3_spark.pipelines import curation as C
    from lakehouse_v3_spark.session import get_spark
    from lakehouse_v3_spark.tables import TableManager

    spark = get_spark(app_name="dag-gate")
    spark.sparkContext.setLogLevel("ERROR")

    docs = spark.read.parquet(f"{args.sf_dir}/documents.parquet").select(
        "doc_id", "text", "lang"
    )
    emb = (
        spark.read.parquet(f"{args.sf_dir}/embeddings.parquet")
        if args.embed
        else None
    )
    hi = docs.agg(F.max("doc_id")).collect()[0][0]
    landing = tempfile.mkdtemp(prefix="dag_gate_land_")
    wh = tempfile.mkdtemp(prefix="dag_gate_wh_")
    tm = TableManager(spark, wh, backend="parquet")

    emb_small = None
    switch_tick = None
    retrain_tick = None
    if args.retrain:
        if args.ticks < 2:
            raise SystemExit("--retrain needs --ticks >= 2")
        vmax = emb.agg(F.max("vec_id")).collect()[0][0]
        emb_small = emb.filter(F.col("vec_id") <= vmax // 3)
        switch_tick = (args.ticks + 1) // 2  # grow at the midpoint

    t_dag0 = time.monotonic()
    n_pairs_expected = 0
    for i in range(args.ticks):
        lo = hi * i // args.ticks
        up = hi * (i + 1) // args.ticks
        sl = docs.filter(
            (F.col("doc_id") > lo) & (F.col("doc_id") <= up)
            if i
            else (F.col("doc_id") <= up)
        )
        if args.plant_near_dups and i == args.ticks - 1:
            seeds = docs.filter(F.col("doc_id") <= hi // args.ticks).limit(
                args.plant_near_dups
            )
            mutated = seeds.select(
                (F.col("doc_id") + F.lit(hi + 1_000_000)).alias("doc_id"),
                # drop the first token: high-but-not-exact jaccard, so
                # the copy SURVIVES exact dedup and hits the pair path
                F.expr(
                    "array_join(slice(split(text, ' '), 2, 100000), ' ')"
                ).alias("text"),
                "lang",
            )
            n_pairs_expected = args.plant_near_dups
            sl = sl.unionByName(mutated)
        sl.write.mode("overwrite").parquet(os.path.join(landing, f"tick{i}"))
        emb_i = emb
        if args.retrain and i < switch_tick:
            emb_i = emb_small
        rep = C.curation_dag(
            spark, landing, tm, retries=0, embeddings=emb_i
        ).run()
        assert rep.ok, rep.states()
        ing = rep.tasks["ingest"].result
        if args.retrain and i == switch_tick:
            assert ing["mode"] == "rebuild", ing
            assert ing.get("rebuild_reason") == "cluster_model_stale", ing
            retrain_tick = i
            trained_n = tm.properties("curation.cluster_centroids").get(
                "trained_n"
            )
            n_full = emb.count()
            assert trained_n == str(n_full), (trained_n, n_full)
        else:
            assert ing["mode"] == "incremental", (i, ing)
    if args.violate:
        # re-deliver a low-id slice verbatim: the watermark contract
        # breaks and ingest must take the loud rebuild path
        docs.filter(F.col("doc_id") <= hi // (args.ticks * 4)).write.mode(
            "overwrite"
        ).parquet(os.path.join(landing, "violation"))
        rep = C.curation_dag(
            spark, landing, tm, retries=0, embeddings=emb
        ).run()
        assert rep.ok, rep.states()
        assert rep.tasks["ingest"].result["mode"] == "rebuild", (
            rep.tasks["ingest"].result
        )
    t_dag = time.monotonic() - t_dag0

    f = C.run_funnel(tm.read("curation.bronze_docs"), embeddings=emb)
    checks = [
        ("curation.silver_quality", f["quality"], ["doc_id"]),
        ("curation.silver_exact", f["exact_dedup"], ["doc_id"]),
        ("curation.near_dup_pairs", f["pairs"], None),
        ("curation.silver_neardup", f["near_dup"], ["doc_id"]),
        ("curation.silver_clean", f["decontaminate"], ["doc_id"]),
        ("curation.gold_split", f["split"], ["doc_id", "split"]),
        ("curation.gold_corpus", f["leakage"], ["doc_id", "split"]),
        ("curation.gold_packed", C.pack_corpus(f["leakage"]), None),
        ("curation.gold_summary", f["gold"], None),
    ]
    if args.embed:
        # ids only: the rectangle-probe vs full-matrix BLAS dots can
        # differ in low bits; membership is what downstream consumes
        checks.insert(3, ("curation.emb_pairs", f["emb_pairs"], ["id_a", "id_b"]))

    n_match = 0
    with open(args.out, "a") as out:
        for table, frame, cols in checks:
            t0 = time.monotonic()
            # round the float pair scores identically on both sides
            # (same lineage, but collect() canonicalization is repr-
            # based — keep the check strict yet representation-safe)
            got = _value_hash(tm.read(table), cols)
            want = _value_hash(frame, cols)
            ok = got == want
            n_match += ok
            row = {
                "table": table,
                "rows": got[0],
                "expected_rows": want[0],
                "match": ok,
                "sec": round(time.monotonic() - t0, 2),
            }
            out.write(json.dumps(row) + "\n")
            out.flush()
            print(row, file=sys.stderr)
        n_pairs = tm.read("curation.near_dup_pairs").count()
        out.write(
            json.dumps(
                {
                    "table": "_summary",
                    "sf": args.sf_dir,
                    "ticks": args.ticks,
                    "embed": bool(args.embed),
                    "violate": bool(args.violate),
                    "retrain": bool(args.retrain),
                    "retrain_tick": retrain_tick,
                    "planted_near_dups": args.plant_near_dups,
                    "n_near_dup_pairs": n_pairs,
                    "dag_wall_sec": round(t_dag, 1),
                    "n_tables": len(checks),
                    "n_match": n_match,
                }
            )
            + "\n"
        )
        if args.plant_near_dups:
            # most plants pair up; a few seeds legitimately die before
            # the pair stage (short text falls under the quality gate
            # once a token is dropped, or the seed was itself deduped),
            # so demand a clear majority rather than all N
            assert n_pairs >= n_pairs_expected * 0.5 and n_pairs > 0, (
                f"planted {n_pairs_expected} near-dups but the pair "
                f"table holds only {n_pairs}"
            )
    shutil.rmtree(landing, ignore_errors=True)
    shutil.rmtree(wh, ignore_errors=True)
    print(f"# {n_match}/{len(checks)} tables match", file=sys.stderr)
    sys.exit(0 if n_match == len(checks) else 1)


if __name__ == "__main__":
    main()
