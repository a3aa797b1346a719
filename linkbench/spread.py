"""Repeat one workload and print each metric's spread against its bound.

    python3 linkbench/spread.py --workload code_graph --runs 10 [--first-seed 1] [--trace 0]

Runs ``linkbench/run.py`` once per seed (first-seed, first-seed+1, ...),
one after another, from the root of the checkout.  For every metric it
prints the median and the distance between the first and third quartile
(``statistics.quantiles(values, n=4)``) as a share of the median, next
to the metric's bound in BENCHMARK.json, and the share of failed
operations.  Raw results go to ``.linkbench_work/spread-<workload>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=1)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    results = []
    for i in range(args.runs):
        seed = args.first_seed + i
        cmd = bench["command"] + ["--workload", args.workload, "--seed", str(seed),
                                  "--seconds", str(bench["run_seconds"]),
                                  "--trace", str(args.trace)]
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
        last = proc.stdout.strip().splitlines()[-1] if proc.stdout.strip() else ""
        if proc.returncode != 0 or not last.startswith("{"):
            sys.stderr.write(proc.stderr[-3000:])
            print(f"seed {seed}: exit {proc.returncode}, no result")
            return 1
        res = json.loads(last)
        results.append(res)
        print(f"seed {seed}: correct={res['correct']} attempted={res['attempted']} "
              f"failed={res['failed']}", flush=True)
    out = os.path.join(ROOT, ".linkbench_work", f"spread-{args.workload}.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as f:
        json.dump(results, f, indent=1)
    print(f"{'metric':34} {'median':>14} {'q1':>14} {'q3':>14} {'spread':>7} {'bound':>6}")
    for name in results[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in results]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
        spread = (q3 - q1) / med if med else float("nan")
        bound = bounds.get(name)
        flag = "" if bound is None else (" OVER" if spread > bound else
                                         (" >1/3" if spread > bound / 3 else ""))
        print(f"{name:34} {med:14.6g} {q1:14.6g} {q3:14.6g} {spread:7.3f} "
              f"{'' if bound is None else bound:>6}{flag}")
    failed = [r["failed"] / r["attempted"] for r in results]
    print(f"failed share per run: {sorted(set(failed))}; "
          f"all correct: {all(r['correct'] for r in results)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
