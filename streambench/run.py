#!/usr/bin/env python3
"""Benchmark of the gmall streaming warehouse and its batch queries.

    python3 streambench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the program from source on first use
(see build.py), generates the workload's inputs from the seed, runs the
workload in one JVM (one process, local[4]), checks the outputs, and prints
every metric with its unit; the last line of stdout is one JSON object with
`correct`, `attempted`, `failed` and `metrics`. With `--trace 0` the metrics
are the end-to-end metrics of BENCHMARK.json, with `--trace 1` the per-layer
ones. Everything the run writes stays under `.bench_work/` and the build
directory. See streambench/README.md for the workloads and metrics.
"""
import argparse
import json
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORKLOADS = ("chain_backfill", "warehouse_queries")
DEADLINE_S = 170  # a run must end within 180 s of the build

ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def declared(trace: bool) -> list:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def check_queries(work: str, tables: str) -> set:
    """Compare the dumped query results with DuckDB through the repo's
    correctness tool; return the queries that do not match."""
    results = os.path.join(work, "results")
    with open(os.path.join(work, "dumped_queries.json")) as f:
        dumped = json.load(f)
    # the dump writes the oracle SQL of every query; keep those dumped
    sql_path = os.path.join(results, "oracle_sql.json")
    with open(sql_path) as f:
        sql = json.load(f)
    with open(sql_path, "w") as f:
        json.dump({q: s for q, s in sql.items() if q in dumped}, f)
    tool = os.path.join(ROOT, "tools", "check_correctness.py")
    r = subprocess.run([sys.executable, tool, tables, results], stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=120)
    fails = {line.split()[1].rstrip(":") for line in r.stdout.splitlines()
             if line.startswith("FAIL ")}
    for line in r.stdout.splitlines():
        if line.startswith("FAIL "):
            print(f"check FAIL oracle {line[5:]}")
    if r.returncode not in (0, 1) or not re.search(r"^\d+ pass, \d+ fail$", r.stdout, re.M):
        sys.stderr.write(r.stdout[-4000:])
        return set(dumped)  # the tool did not finish: nothing is verified
    print(f"check oracle: {len(dumped) - len(fails)} of {len(dumped)} queries match DuckDB")
    return fails


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()

    sys.path.insert(0, HERE)
    import build  # noqa: E402  (the benchmark's own build file)
    classes = build.ensure(ROOT)
    t_start = time.time()  # a run may take 180 s once the program is built

    work = os.path.join(ROOT, ".bench_work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    extra = []
    tables = None
    if a.workload == "warehouse_queries":
        import tables as tables_gen  # noqa: E402
        tables = os.path.join(work, "tables")
        tables_gen.write(tables, a.seed)
        extra = ["--tables", tables]

    # the heap limit the program runs with (build.sbt), growable from the
    # JVM's default initial size, so that peak RSS follows the working set
    cmd = (["java", "-Xmx8g", "-Xss8m"] +
           [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            "-cp", classes + os.pathsep + os.path.join(build.spark_jars(ROOT), "*"),
            "streambench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work,
            "--root", ROOT] + extra)
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=log, text=True)
        try:
            out, _ = proc.communicate(timeout=max(10, DEADLINE_S - (time.time() - t_start)))
        except subprocess.TimeoutExpired:
            proc.kill()
            out, _ = proc.communicate()
            sys.stderr.write(out)
            sys.stderr.write(f"streambench: {a.workload} exceeded {DEADLINE_S} s\n")
            return 3
    sys.stdout.write(out)
    result_path = os.path.join(work, "result.json")
    if proc.returncode != 0 or not os.path.exists(result_path):
        with open(os.path.join(work, "jvm.log")) as log:
            sys.stderr.write(log.read()[-6000:])
        sys.stderr.write(f"streambench: harness exited with {proc.returncode}\n")
        return 4
    with open(result_path) as f:
        result = json.load(f)

    if tables is not None:
        failed = check_queries(work, tables)
        # a query that failed to run is already counted; add the mismatches
        # of those that ran
        with open(os.path.join(work, "failed_queries.json")) as f:
            crashed = set(json.load(f))
        result["failed"] += len(failed - crashed)
        result["correct"] = result["failed"] == 0
        if a.trace and "error_rate" in result["metrics"]:
            result["metrics"]["error_rate"]["value"] = result["failed"] / result["attempted"]

    names = declared(bool(a.trace))
    missing = [n for n in names if n not in result["metrics"]]
    if missing:
        sys.stderr.write(f"streambench: harness did not report {missing}\n")
        return 5
    result["metrics"] = {n: result["metrics"][n] for n in names}
    print(json.dumps(result, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    sys.exit(main())
