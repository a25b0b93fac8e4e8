#!/usr/bin/env python3
"""Run-to-run spread of the benchmark's end-to-end metrics.

    python3 graftbench/spread.py --workload W [--runs 10] [--first-seed 1]

Runs `run.py` once per seed (untraced, `run_seconds` from BENCHMARK.json)
and prints, per end-to-end metric, the median, the interquartile range as
a share of the median (Python's `statistics.quantiles(values, n=4)`) and
that spread against a third of the metric's bound. Run from the root of a
graft checkout.
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
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    a = ap.parse_args()
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    values = {m["name"]: [] for m in spec["end_to_end"]}
    for seed in range(a.first_seed, a.first_seed + a.runs):
        out = subprocess.run(spec["command"] + [
            "--workload", a.workload, "--seed", str(seed),
            "--seconds", str(spec["run_seconds"]), "--trace", "0"],
            cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        res = json.loads(out.stdout.strip().splitlines()[-1])
        print("seed %d: correct=%s failed=%d/%d %s" % (
            seed, res["correct"], res["failed"], res["attempted"],
            " ".join("%s=%.4g" % (k, v["value"]) for k, v in res["metrics"].items())),
            flush=True)
        for k, v in res["metrics"].items():
            values[k].append(v["value"])
    for m in spec["end_to_end"]:
        xs = values[m["name"]]
        if len(xs) < 2:
            continue
        q1, med, q3 = statistics.quantiles(xs, n=4)
        spread = (q3 - q1) / med
        print("%-18s median %-12.5g spread %.3f (a third of the bound: %.3f) %s" % (
            m["name"], med, spread, m["bound"] / 3,
            "ok" if spread < m["bound"] / 3 or m["name"] == "setup_s" else "WIDE"))


if __name__ == "__main__":
    sys.exit(main())
