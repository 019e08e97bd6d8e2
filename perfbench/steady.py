#!/usr/bin/env python3
"""Run-to-run spread of the benchmark's end-to-end metrics.

    python3 perfbench/steady.py --workloads om_requests ingest --seeds 1 2 3 4 5

Runs perfbench/run.py once per (workload, seed) with the definition's
run_seconds and, for each end-to-end metric, prints the median and the
distance between the first and third quartile (statistics.quantiles, n=4)
as a share of the median, next to the metric's bound. A spread above a
third of the bound is flagged.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", nargs="+", required=True)
    ap.add_argument("--seeds", nargs="+", type=int, required=True)
    args = ap.parse_args()
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    ok = True
    for w in args.workloads:
        values = {m["name"]: [] for m in bench["end_to_end"]}
        for seed in args.seeds:
            out = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                 "--seed", str(seed), "--seconds", str(bench["run_seconds"]),
                 "--trace", "0"], cwd=ROOT, capture_output=True, text=True)
            if out.returncode != 0:
                print(f"{w} seed {seed}: exit {out.returncode}\n{out.stderr[-2000:]}")
                ok = False
                continue
            metrics = json.loads(out.stdout.strip().splitlines()[-1])["metrics"]
            for k in values:
                values[k].append(metrics[k]["value"])
        for m in bench["end_to_end"]:
            xs = values[m["name"]]
            if len(xs) < 2:
                continue
            q1, med, q3 = statistics.quantiles(xs, n=4)
            spread = (q3 - q1) / med
            flag = "" if spread < m["bound"] / 3 else "  <-- above bound/3"
            ok &= not flag or m["name"] == "setup_s"
            print(f"{w:<12} {m['name']:<15} median {med:10.3f} {m['unit']:<5} "
                  f"spread {spread:6.3f} bound {m['bound']}{flag}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
