#!/usr/bin/env python3
"""Runs one benchmark workload and prints its metrics as one JSON line.

Usage:
  python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
                           [--trace-out FILE]

Builds the program from source when needed (build.py), makes the
workload's inputs from the seed, runs set-up and then the timed closed
loop for S seconds in one JVM on local[<cores>], checks the outputs
(row counts in the JVM; DuckDB twins here), and prints
{"correct", "attempted", "failed", "metrics"} as the last line of stdout:
the end-to-end metrics of BENCHMARK.json with --trace 0, its per-layer
metrics with --trace 1. A traced run also writes its spans to
--trace-out (default perfbench/.work/traces/<workload>-<seed>.json).
The workloads are defined in perfbench/workloads.json.
"""
import argparse
import importlib.util
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import build  # noqa: E402
import gen_catalog  # noqa: E402

# the module flags build.sbt gives every forked JVM (Spark on JDK 17)
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
JVM_HEAP = "2g"
DEADLINE_S = 170


def log(msg):
    sys.stderr.write(f"perfbench: {msg}\n")


def cpu_times():
    """Busy and stolen jiffies of the whole machine (/proc/stat), to tell a
    slow run caused by a busy host from a slow program."""
    f = [int(x) for x in Path("/proc/stat").read_text().split("\n")[0].split()[1:9]]
    return sum(f) - f[3] - f[4] - f[7], f[7]


def jvm(work, classes, args, timeout):
    opts = [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
    # -XX:-UsePerfData: no perf-counter file in the system temp directory
    cmd = [build.java(), "-XX:-UsePerfData", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", *opts,
           f"-Djava.io.tmpdir={work / 'tmp'}", "-cp", f"{classes}:{build.spark_jars()}/*",
           "perfbench.Main", *args]
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "tmp"))
    with open(work / "jvm.log", "w") as out:
        return subprocess.run(cmd, cwd=work, env=env, stdout=out, stderr=subprocess.STDOUT,
                              timeout=timeout).returncode


def duckdb_checks(checks, out_dir, data_dir):
    """Compares each dumped output with its DuckDB twin under the repr-exact
    rule of tools/compare.py; an output without a twin must have rows."""
    import duckdb
    import pandas as pd
    import pyarrow.dataset as ds
    spec = importlib.util.spec_from_file_location("compare", ROOT / "tools" / "compare.py")
    compare = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(compare)
    con = duckdb.connect()
    if data_dir is not None:
        for t in gen_catalog.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir / t}.parquet'")
    failures = []
    for name, sql in sorted(checks.items()):
        rows = out_dir / f"{name}.json"
        if rows.exists():
            got = pd.DataFrame([json.loads(line) for line in rows.read_text().splitlines()])
        else:
            got = ds.dataset(str(out_dir / name)).to_table().to_pandas()
        if sql is None:
            if len(got) == 0:
                failures.append(f"{name}: no rows")
            continue
        want = con.execute(sql).fetchdf()
        if sorted(got.columns) != sorted(want.columns):
            failures.append(f"{name}: columns {sorted(got.columns)} != {sorted(want.columns)}")
        elif len(got) != len(want):
            failures.append(f"{name}: {len(got)} rows != {len(want)} in the twin")
        else:
            g, w = compare.canon(got), compare.canon(want)
            bad = [c for c in g.columns
                   if [compare.cell(v) for v in g[c]] != [compare.cell(v) for v in w[c]]]
            if bad:
                failures.append(f"{name}: values differ in {bad}")
    return failures


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--trace-out")
    a = p.parse_args()
    t0 = time.time()
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    spec = json.loads((HERE / "workloads.json").read_text())[a.workload]
    classes = build.ensure()

    work = HERE / ".work" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    try:
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--work", str(work),
                "--cpus", str(len(os.sched_getaffinity(0)))]
        data_dir, gen_s = None, 0.0
        if spec["kind"] == "catalog":
            # set-up step done here: write the tables three times, keep the median
            data_dir, times = work / "data", []
            for _ in range(3):
                t = time.time()
                gen_catalog.write(data_dir, spec["sf"], a.seed)
                times.append(time.time() - t)
            gen_s = statistics.median(times)
            args += ["--data", str(data_dir),
                     "--queries", ",".join(q for half in spec["queries"].values() for q in half)]
        else:
            for k in ("rows", "growth", "days"):
                args += ["--set", f"{k}={spec[k]}"]
        busy0, steal0 = cpu_times()
        code = jvm(work, classes, args, DEADLINE_S - (time.time() - t0))
        busy1, steal1 = cpu_times()
        result_file = work / "result.json"
        if code != 0 or not result_file.exists():
            sys.stderr.write((work / "jvm.log").read_text()[-4000:])
            raise SystemExit(f"perfbench: the benchmark JVM failed (exit {code})")
        r = json.loads(result_file.read_text())
        failures = r["failed_checks"] + r["errors"]
        failures += duckdb_checks(r["checks"], work / "check", data_dir)
        for f in failures:
            log(f"FAILED {f}")
        e2e = dict(r["end_to_end"])
        e2e["setup_s"] += gen_s
        if a.trace:
            values, defs = r["per_layer"], bench["per_layer"]
            for half, names in spec.get("queries", {}).items():
                values[f"query.{half}_s"] = sum(values[f"query.{q.split('_')[0]}.s"] for q in names)
        else:
            values, defs = e2e, bench["end_to_end"]
        metrics = {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]}
                   for m in defs}
        if a.trace:
            out = Path(a.trace_out) if a.trace_out else \
                HERE / ".work" / "traces" / f"{a.workload}-{a.seed}.json"
            out.parent.mkdir(parents=True, exist_ok=True)
            spans = [json.loads(line) for line in (work / "trace.jsonl").read_text().splitlines()]
            summary = {k: r[k] for k in ("workload", "seed", "samples", "setup_parts",
                                          "measure_s", "passes", "end_to_end", "per_layer")}
            summary["setup_parts"]["generate_outside_jvm_s"] = gen_s
            out.write_text(json.dumps({"run": summary, "spans": spans}, indent=1) + "\n")
        log(f"{a.workload} seed {a.seed}: samples {r['samples']}, "
            f"set-up {r['setup_parts']}, {time.time() - t0:.1f} s in all, "
            f"{(steal1 - steal0) / max(1, busy1 - busy0 + steal1 - steal0):.1%} of CPU time stolen")
        print(json.dumps({"correct": not failures, "attempted": int(r["attempted"]),
                          "failed": len(failures), "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
