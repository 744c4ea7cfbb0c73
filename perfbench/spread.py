#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py

Runs every workload in BENCHMARK.json once per seed 1-10 (untraced,
run_seconds from BENCHMARK.json) and prints, per workload and metric, the
median and the distance between the first and third quartile as a share
of the median (statistics.quantiles(values, n=4)), next to the metric's
bound.
"""
import json
import os
import statistics
import subprocess
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SEEDS = range(1, 11)


def main():
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    runs = {}
    for w in (w["name"] for w in bench["workloads"]):
        for seed in SEEDS:
            t = time.time()
            p = subprocess.run(["python3", os.path.join(HERE, "run.py"), "--workload", w,
                                "--seed", str(seed), "--seconds", str(bench["run_seconds"]),
                                "--trace", "0"], cwd=ROOT, stdout=subprocess.PIPE,
                               stderr=subprocess.DEVNULL, text=True)
            res = json.loads(p.stdout.strip().splitlines()[-1])
            runs.setdefault(w, []).append(res)
            print(f"{w} seed {seed}: exit {p.returncode} correct {res['correct']} "
                  f"{time.time() - t:.0f} s " +
                  " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
                  flush=True)
    worst = 0.0
    for w, rs in runs.items():
        for m in bounds:
            vals = [r["metrics"][m]["value"] for r in rs]
            med = statistics.median(vals)
            q = statistics.quantiles(vals, n=4)
            share = (q[2] - q[0]) / med if med else float("inf")
            if m != "setup_s":
                worst = max(worst, share / bounds[m])
            print(f"{w:16s} {m:22s} median {med:12.4f} iqr/median {share:6.3f} "
                  f"bound {bounds[m]:.2f}{'  OVER' if share > bounds[m] else ''}")
    print(f"largest spread as a share of its bound (setup_s excluded): {worst:.2f}")


if __name__ == "__main__":
    main()
