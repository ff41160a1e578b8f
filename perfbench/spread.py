#!/usr/bin/env python3
"""Run one workload over several seeds and print each end-to-end metric's
median, quartiles and spread ((Q3 - Q1) / median) against its bound.

    python3 perfbench/spread.py <workload> <runs> [first_seed]

Run from the checkout root; seeds are first_seed, first_seed + 1, ...
"""
import json
import statistics
import subprocess
import sys
from pathlib import Path


def main():
    workload, runs = sys.argv[1], int(sys.argv[2])
    first = int(sys.argv[3]) if len(sys.argv) > 3 else 1
    spec = json.loads(Path("BENCHMARK.json").read_text())
    values = {m["name"]: [] for m in spec["end_to_end"]}
    for seed in range(first, first + runs):
        p = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", workload,
             "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
             "--trace", "0"], capture_output=True, text=True)
        res = json.loads(p.stdout.strip().splitlines()[-1])
        for name, m in res["metrics"].items():
            values[name].append(m["value"])
        shown = " ".join(f"{k} {m['value']:.4f}" for k, m in res["metrics"].items())
        print(f"seed {seed}: exit {p.returncode} correct {res['correct']} "
              f"failed {res['failed']}/{res['attempted']} {shown}", flush=True)
    for m in spec["end_to_end"]:
        v = values[m["name"]]
        q1, med, q3 = statistics.quantiles(v, n=4)
        med = statistics.median(v)
        print(f"{m['name']:16s} median {med:10.4f} {m['unit']:3s} "
              f"q1 {q1:10.4f} q3 {q3:10.4f} spread {(q3 - q1) / med:.3f} "
              f"(bound {m['bound']})")


if __name__ == "__main__":
    main()
