"""Smoke test of the benchmark at a tiny input size.

Run from the repository root::

    python3 perfbench/smoke.py [--workload NAME ...]

For every workload it checks that

- a traced run exits 0, reports no failed operation and prints every
  ``per_layer`` metric of ``BENCHMARK.json`` with its unit;
- an untraced run whose expected outputs are deliberately perturbed
  prints every ``end_to_end`` metric with its unit and reports the
  wrong outputs as failed operations;

and that the benchmark exits non-zero without a result line when the
program it measures is absent. Exits 1 on the first broken check.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys

ROOT = os.getcwd()
SPEC = os.path.join(ROOT, "BENCHMARK.json")


def bench(args: list[str], cwd: str = ROOT) -> tuple[int, dict | None, str]:
    spec = json.load(open(SPEC))
    p = subprocess.run(
        spec["command"] + args, cwd=cwd, capture_output=True, text=True, timeout=300
    )
    lines = p.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1]) if lines else None
    except ValueError:
        result = None
    return p.returncode, result, p.stderr


def expect(cond: bool, what: str, detail: str = "") -> None:
    print(("ok   " if cond else "FAIL ") + what, flush=True)
    if not cond:
        print(detail[-4000:], file=sys.stderr)
        sys.exit(1)


def check_metrics(result: dict, wanted: list[dict], label: str) -> None:
    got = result["metrics"]
    for m in wanted:
        v = got.get(m["name"])
        expect(
            v is not None and v.get("unit") == m["unit"]
            and isinstance(v.get("value"), (int, float)),
            f"{label}: {m['name']} printed in {m['unit']}",
        )
    expect(set(got) == {m["name"] for m in wanted}, f"{label}: no unlisted metric")


def main() -> None:
    spec = json.load(open(SPEC))
    names = [w["name"] for w in spec["workloads"]]
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", action="append", choices=names)
    chosen = ap.parse_args().workload or names
    tiny = ["--seed", "7", "--seconds", "1", "--scale", "0.2"]
    for w in chosen:
        code, res, err = bench(["--workload", w, "--trace", "1", *tiny])
        expect(code == 0 and res is not None, f"{w}: traced run exits 0 with a result", err)
        expect(res["failed"] == 0 and res["correct"], f"{w}: no failed operation")
        check_metrics(res, spec["per_layer"], f"{w} traced")

        code, res, err = bench(["--workload", w, "--trace", "0", "--corrupt-expected", *tiny])
        expect(code == 0 and res is not None, f"{w}: untraced run exits 0 with a result", err)
        check_metrics(res, spec["end_to_end"], f"{w} untraced")
        expect(res["attempted"] >= 1, f"{w}: attempted >= 1")
        expect(res["failed"] > 0 and not res["correct"],
               f"{w}: wrong expected outputs reported ({res['failed']}/{res['attempted']} failed)")

    bare = os.path.join(ROOT, ".perfbench", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(SPEC, bare)
    for p in spec["paths"]:
        shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p),
                        ignore=shutil.ignore_patterns("__pycache__"))
    code, res, _err = bench(["--workload", names[0], *tiny[:4], "--trace", "0"], cwd=bare)
    shutil.rmtree(bare, ignore_errors=True)
    expect(code != 0 and res is None, "without the program: non-zero exit, no result")


if __name__ == "__main__":
    main()
