#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics, as the acceptance rule takes it.

    python3 perfbench/spread.py --workloads ingest_refresh,scan_serve --seeds 1-5

Runs each workload once per seed (untraced), then prints per metric the
median and the interquartile distance as a share of the median
(`statistics.quantiles(values, n=4)`), next to the metric's bound from
BENCHMARK.json, and each run's wall time.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--seeds", default="1-10")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    seconds = bench["run_seconds"]
    for w in args.workloads.split(","):
        values, walls = {}, []
        for s in seeds(args.seeds):
            t0 = time.time()
            proc = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                                   "--seed", str(s), "--seconds", str(seconds), "--trace", "0"],
                                  cwd=ROOT, capture_output=True, text=True)
            walls.append(time.time() - t0)
            res = json.loads(proc.stdout.strip().splitlines()[-1])
            if proc.returncode != 0 or not res["correct"] or res["failed"]:
                print(f"{w} seed {s}: exit {proc.returncode}, failed {res['failed']}")
            for name, m in res["metrics"].items():
                values.setdefault(name, []).append(m["value"])
        print(f"== {w}: run wall s {[round(x, 1) for x in walls]}")
        for name, vs in values.items():
            med = statistics.median(vs)
            q1, _, q3 = statistics.quantiles(vs, n=4)
            spread = (q3 - q1) / med if med else float("inf")
            print(f"  {name:18s} median {med:12.4f}  spread {spread:6.3f}  "
                  f"bound {bounds.get(name, '-')}")


if __name__ == "__main__":
    main()
