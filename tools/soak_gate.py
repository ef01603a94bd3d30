"""Long-horizon DAG soak gate (r12 verdict item #5): run the
incremental curation DAG for ~a month of daily ticks (default 30) at
sf0.1 under the DEFAULT maintain bound, and assert the three
steady-state properties no short test exercises:

1. **file counts stay bounded** — every maintained state table's
   data-file count never exceeds MAINTAIN_FILE_BOUND plus one tick's
   worth of appends (the sweep cadence), and compaction actually fires
   over the horizon;
2. **tick wall time stays flat** — the median of the last 5 ticks is
   within --creep-factor of the median of ticks 3-7 (warmup excluded):
   the tick tracks the BATCH, not the corpus or the tick count;
3. **convergence** — the final silver/gold/pair tables equal one
   run_funnel composition over the union corpus (the dag_gate check).

Emits one JSONL row per tick: {"tick", "sec", "files": {table: n}},
then per-table match rows and a summary row.

Usage::

    python tools/soak_gate.py --sf-dir /root/testdata/sf0.1 \
        --out GATE_soak_sf0.1.jsonl [--ticks 30] [--embed]
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

REPO_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_DIR not in sys.path:
    sys.path.insert(0, REPO_DIR)


def _value_hash(df, cols=None) -> "tuple[int, str]":
    cols = sorted(cols or df.columns)
    rows = df.select(cols).collect()
    acc = 0
    for r in rows:
        h = hashlib.md5("|".join(repr(x) for x in r).encode("utf-8")).digest()
        acc ^= int.from_bytes(h, "big")
    return len(rows), f"{acc:032x}"


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--out", required=True)
    ap.add_argument("--ticks", type=int, default=30)
    ap.add_argument("--embed", action="store_true")
    ap.add_argument(
        "--creep-factor",
        type=float,
        default=2.0,
        help="max allowed ratio of late-tick median wall over early-"
        "tick median (GC noise at small batch sizes argues against a "
        "tighter default; LINEAR creep over 30 ticks would far exceed "
        "2x)",
    )
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from lakehouse_v3_spark.pipelines import curation as C
    from lakehouse_v3_spark.pipelines.maintenance import MAINTAIN_FILE_BOUND
    from lakehouse_v3_spark.session import get_spark
    from lakehouse_v3_spark.tables import TableManager

    spark = get_spark(app_name="soak-gate")
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
    landing = tempfile.mkdtemp(prefix="soak_land_")
    wh = tempfile.mkdtemp(prefix="soak_wh_")
    tm = TableManager(spark, wh, backend="parquet")

    def file_counts() -> dict:
        return {
            t: len(tm.files(t))
            for t in C._MAINTAINED_TABLES
            if tm.exists(t)
        }

    tick_secs: list[float] = []
    max_tick_delta: dict[str, int] = {}
    bound_ok = True
    n_compactions = 0
    prev_counts: dict = {}
    with open(args.out, "a") as out:
        for i in range(args.ticks):
            lo = hi * i // args.ticks
            up = hi * (i + 1) // args.ticks
            sl = docs.filter(
                (F.col("doc_id") > lo) & (F.col("doc_id") <= up)
                if i
                else (F.col("doc_id") <= up)
            )
            sl.write.mode("overwrite").parquet(
                os.path.join(landing, f"tick{i:02d}")
            )
            t0 = time.monotonic()
            rep = C.curation_dag(
                spark, landing, tm, retries=0, embeddings=emb
            ).run()
            sec = time.monotonic() - t0
            assert rep.ok, rep.states()
            mode = rep.tasks["ingest"].result["mode"]
            assert mode in ("incremental", "rebuild"), mode
            if rep.states()["maintain"] == "success":
                n_compactions += len(
                    rep.tasks["maintain"].result["compacted"]
                )
            counts = file_counts()
            for t, n in counts.items():
                d = n - prev_counts.get(t, 0)
                if d > 0:
                    max_tick_delta[t] = max(max_tick_delta.get(t, 0), d)
                # the sweep runs at END of tick: a table may exceed the
                # bound by at most one tick's append before compaction
                if n > MAINTAIN_FILE_BOUND + max(max_tick_delta.values(), default=0):
                    bound_ok = False
            prev_counts = counts
            tick_secs.append(sec)
            row = {
                "tick": i,
                "sec": round(sec, 2),
                "mode": mode,
                "files": counts,
            }
            out.write(json.dumps(row) + "\n")
            out.flush()
            print(
                f"tick {i}: {sec:.1f}s files_max="
                f"{max(counts.values(), default=0)}",
                file=sys.stderr,
            )

        early = statistics.median(tick_secs[2:7])
        late = statistics.median(tick_secs[-5:])
        creep = late / early if early else 1.0
        flat_ok = creep <= args.creep_factor

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
            checks.insert(
                3, ("curation.emb_pairs", f["emb_pairs"], ["id_a", "id_b"])
            )
        n_match = 0
        for table, frame, cols in checks:
            t0 = time.monotonic()
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
        summary = {
            "table": "_summary",
            "sf": args.sf_dir,
            "ticks": args.ticks,
            "embed": bool(args.embed),
            "bound": MAINTAIN_FILE_BOUND,
            "bound_ok": bound_ok,
            "n_compactions": n_compactions,
            "max_tick_file_delta": max_tick_delta,
            "median_early_sec": round(early, 2),
            "median_late_sec": round(late, 2),
            "creep_ratio": round(creep, 3),
            "flat_ok": flat_ok,
            "n_tables": len(checks),
            "n_match": n_match,
        }
        out.write(json.dumps(summary) + "\n")
        print(summary, file=sys.stderr)
    shutil.rmtree(landing, ignore_errors=True)
    shutil.rmtree(wh, ignore_errors=True)
    ok = bound_ok and flat_ok and n_match == len(checks) and n_compactions > 0
    print(
        f"# soak {'PASS' if ok else 'FAIL'}: {n_match}/{len(checks)} tables, "
        f"creep {creep:.2f}, compactions {n_compactions}, "
        f"bound_ok {bound_ok}",
        file=sys.stderr,
    )
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
