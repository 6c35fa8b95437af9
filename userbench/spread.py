#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

    python3 userbench/spread.py --workloads pushdown_query,wire_join --seeds 1,2,3,4,5 [--out f.json]

Runs userbench/run.py once per (workload, seed), one after another, with
run_seconds from BENCHMARK.json, and reports for each metric the median,
the quartiles (Python's statistics.quantiles(values, n=4)) and their
distance as a share of the median, next to the metric's bound.
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
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--seeds", required=True)
    ap.add_argument("--out")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    seeds = [int(s) for s in a.seeds.split(",")]
    report = {}
    for w in a.workloads.split(","):
        runs = []
        for seed in seeds:
            out = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w, "--seed", str(seed),
                 "--seconds", str(spec["run_seconds"]), "--trace", "0"],
                cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            if out.returncode != 0:
                sys.exit(f"{w} seed {seed}: exit {out.returncode}")
            res = json.loads(out.stdout.strip().splitlines()[-1])
            if not res["correct"] or res["failed"]:
                sys.exit(f"{w} seed {seed}: {res['failed']} of {res['attempted']} ops failed")
            runs.append({k: v["value"] for k, v in res["metrics"].items()})
            print(f"{w} seed {seed}: " + " ".join(f"{k}={v:.4g}" for k, v in runs[-1].items()),
                  file=sys.stderr)
        report[w] = {"seeds": seeds, "runs": runs, "metrics": {}}
        print(f"\n{w} ({len(runs)} seeds)\n{'metric':16} {'median':>12} {'q1':>12} {'q3':>12} "
              f"{'spread':>8} {'bound':>6}")
        for m in runs[0]:
            vals = [r[m] for r in runs]
            q1, med, q3 = statistics.quantiles(vals, n=4)
            med = statistics.median(vals)
            spread = (q3 - q1) / abs(med) if med else 0.0
            report[w]["metrics"][m] = {"median": med, "q1": q1, "q3": q3, "spread": spread,
                                       "bound": bounds.get(m)}
            print(f"{m:16} {med:12.4f} {q1:12.4f} {q3:12.4f} {spread:8.4f} {bounds.get(m, 0):6.2f}")
    if a.out:
        with open(a.out, "w") as fh:
            json.dump(report, fh, indent=1)


if __name__ == "__main__":
    main()
