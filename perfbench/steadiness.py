#!/usr/bin/env python3
"""Runs every workload on several seeds and reports how steady each
end-to-end metric is against its bound in BENCHMARK.json.

Usage: python3 perfbench/steadiness.py [--runs 10] [--first-seed 1]
                                       [--workloads a,b] [--out FILE]

For each workload and end-to-end metric it prints the median and the
spread (distance between the first and third quartile of
statistics.quantiles(values, n=4), as a share of the median) beside the
metric's bound, and writes every run's line to --out as JSON.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=1)
    p.add_argument("--workloads")
    p.add_argument("--out")
    a = p.parse_args()
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    names = a.workloads.split(",") if a.workloads else [w["name"] for w in bench["workloads"]]
    report = {"run_seconds": bench["run_seconds"], "workloads": {}}
    for name in names:
        runs = []
        for seed in range(a.first_seed, a.first_seed + a.runs):
            t = time.time()
            done = subprocess.run(
                [sys.executable, str(HERE / "run.py"), "--workload", name, "--seed", str(seed),
                 "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                cwd=ROOT, stdout=subprocess.PIPE, text=True)
            line = json.loads(done.stdout.strip().splitlines()[-1])
            line.update(seed=seed, wall_s=round(time.time() - t, 1))
            runs.append(line)
            print(json.dumps(line), flush=True)
        spreads = {}
        for m in bench["end_to_end"]:
            values = [r["metrics"][m["name"]]["value"] for r in runs]
            q1, _, q3 = statistics.quantiles(values, n=4)
            med = statistics.median(values)
            spreads[m["name"]] = {"median": med, "spread": (q3 - q1) / med, "bound": m["bound"]}
            print(f"{name:16s} {m['name']:12s} median {med:10.3f} {m['unit']:3s} "
                  f"spread {(q3 - q1) / med:6.3f}  bound {m['bound']}", flush=True)
        report["workloads"][name] = {
            "correct": all(r["correct"] for r in runs),
            "wall_s": [r["wall_s"] for r in runs], "metrics": spreads, "runs": runs}
    if a.out:
        Path(a.out).write_text(json.dumps(report, indent=1) + "\n")


if __name__ == "__main__":
    main()
