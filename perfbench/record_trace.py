#!/usr/bin/env python3
"""Records one traced run of a workload next to an untraced run of the
same seed, and states the tracing overhead as the change in every
end-to-end metric between the two.

Usage: python3 perfbench/record_trace.py --workload NAME --seed N
                                         [--seconds S] --out FILE

The output holds the untraced run's metrics, the traced run's per-layer
metrics, its end-to-end metrics as measured with the listeners on, the
overhead, every span, and, for the catalog, each pass's time, JVM GC
time, heap in use and resident set (to see whether later passes slow
down as the heap grows).
"""
import argparse
import json
import subprocess
import sys
import tempfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def run(workload, seed, seconds, trace, trace_out=None):
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    if trace_out:
        cmd += ["--trace-out", trace_out]
    done = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, check=True)
    return json.loads(done.stdout.strip().splitlines()[-1])


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float)
    p.add_argument("--out", required=True)
    a = p.parse_args()
    seconds = a.seconds or json.loads((ROOT / "BENCHMARK.json").read_text())["run_seconds"]
    untraced = run(a.workload, a.seed, seconds, 0)
    (HERE / ".work").mkdir(exist_ok=True)
    with tempfile.TemporaryDirectory(dir=HERE / ".work") as tmp:
        spans_file = f"{tmp}/trace.json"
        traced = run(a.workload, a.seed, seconds, 1, spans_file)
        trace = json.loads(Path(spans_file).read_text())
    e2e_off = {k: v["value"] for k, v in untraced["metrics"].items()}
    e2e_on = trace["run"]["end_to_end"]
    record = {
        "workload": a.workload, "seed": a.seed, "seconds": seconds,
        "correct": untraced["correct"] and traced["correct"],
        "untraced_end_to_end": e2e_off,
        "traced_end_to_end": e2e_on,
        "tracing_overhead": {k: e2e_on[k] / v - 1 for k, v in e2e_off.items() if k in e2e_on},
        "per_layer": {k: v["value"] for k, v in traced["metrics"].items()},
        "samples": trace["run"]["samples"], "setup_parts": trace["run"]["setup_parts"],
        "passes": trace["run"]["passes"], "spans": trace["spans"]}
    Path(a.out).write_text(json.dumps(record, indent=1) + "\n")
    print(json.dumps({k: record[k] for k in ("untraced_end_to_end", "tracing_overhead")}))


if __name__ == "__main__":
    main()
