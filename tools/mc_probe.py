"""Multi-core idle canary (round 13 addition to the BASELINE protocol).

A single-core CPU loop (the old idle probe) misses host-level MULTI-CORE
interference (vCPU overcommit): it read ~0.68 s while a 32-way bench
showed uniform 1.4-4x stalls on untouched queries. This probe times the
SAME loop on every core concurrently; on a quiet host the parallel
per-loop time is close to the serial time, and the ratio
(parallel / serial) is the overcommit signal.

Usage: python tools/mc_probe.py [--iters 20000000] [--max-ratio 1.6]
Prints one JSON line with serial seconds, parallel seconds (max over
workers), the ratio, and a pass/fail verdict.
"""

from __future__ import annotations

import argparse
import json
import os
import time
from concurrent.futures import ProcessPoolExecutor


def cpu_loop_seconds(iters: int) -> float:
    t = time.monotonic()
    x = 0
    for i in range(iters):
        x += i
    return round(time.monotonic() - t, 3)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--iters", type=int, default=20_000_000)
    ap.add_argument("--max-ratio", type=float, default=1.6)
    args = ap.parse_args()

    n = os.cpu_count() or 1
    serial = min(cpu_loop_seconds(args.iters), cpu_loop_seconds(args.iters))
    with ProcessPoolExecutor(max_workers=n) as pool:
        par = max(pool.map(cpu_loop_seconds, [args.iters] * n))
    ratio = round(par / serial, 3) if serial else float("inf")
    print(
        json.dumps(
            {
                "cores": n,
                "serial_sec": serial,
                "parallel_max_sec": par,
                "ratio": ratio,
                "load1": round(os.getloadavg()[0], 3),
                "quiet": ratio <= args.max_ratio,
            }
        )
    )


if __name__ == "__main__":
    main()
