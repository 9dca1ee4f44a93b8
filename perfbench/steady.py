#!/usr/bin/env python3
"""Steadiness check: run each workload with several seeds and report, per
end-to-end metric, the median, quartiles and inter-quartile range as a
share of the median, against the metric's bound in BENCHMARK.json.

    python3 perfbench/steady.py --runs 10 --first-seed 100 [--workloads mvcc_cdc]
        [--out perfbench/STEADINESS.md]

Run from the repository root. Runs are sequential; each is one
``perfbench/run.py`` process with ``--trace 0``.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

from stats import spread

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_once(workload: str, seed: int, seconds: int) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    t = time.perf_counter()
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=180)
    if out.returncode != 0:
        raise RuntimeError(f"{' '.join(cmd)} exited {out.returncode}:\n{out.stderr[-2000:]}")
    result = json.loads(out.stdout.strip().splitlines()[-1])
    result["wall_s"] = time.perf_counter() - t
    return result


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        contract = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads", nargs="+", default=[w["name"] for w in contract["workloads"]])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--out", help="markdown record to write")
    args = ap.parse_args()

    lines = [
        "| workload | metric | bound | median | q1 | q3 | IQR/median | IQR/bound |",
        "|---|---|---|---|---|---|---|---|",
    ]
    raw = {}
    for w in args.workloads:
        runs = []
        for i in range(args.runs):
            r = run_once(w, args.first_seed + i, contract["run_seconds"])
            print(f"  seed {args.first_seed + i}: {r['attempted']} ops, wall {r['wall_s']:.1f} s, "
                  + ", ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()), flush=True)
            runs.append(r)
        raw[w] = runs
        bad = [r for r in runs if not r["correct"]]
        print(f"{w}: {len(runs)} runs, {len(bad)} incorrect, wall "
              f"{min(r['wall_s'] for r in runs):.1f}-{max(r['wall_s'] for r in runs):.1f} s")
        for m in contract["end_to_end"]:
            s = spread([r["metrics"][m["name"]]["value"] for r in runs])
            row = (f"| {w} | {m['name']} | {m['bound']} | {s['median']:.4g} | {s['q1']:.4g} "
                   f"| {s['q3']:.4g} | {s['iqr_share']:.3f} | {s['iqr_share'] / m['bound']:.2f} |")
            print(row)
            lines.append(row)
    if args.out:
        with open(os.path.join(ROOT, args.out), "w") as f:
            f.write("# Steadiness record\n\n")
            f.write(f"`python3 perfbench/steady.py --runs {args.runs} --first-seed "
                    f"{args.first_seed}`, run_seconds={contract['run_seconds']}, "
                    f"{len(os.sched_getaffinity(0))} cores.\n\n")
            f.write("\n".join(lines) + "\n\n## Raw results\n\n```json\n")
            f.write(json.dumps(raw, indent=1) + "\n```\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
