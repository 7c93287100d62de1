#!/usr/bin/env python3
"""graft's benchmark: one run of one workload.

    python3 perfbench/run.py --workload medallion --seed 1 --seconds 5 --trace 0

Builds the library and the harness from this checkout (once per source
digest), generates the seeded inputs, runs the harness in a fresh JVM at
local[k] with a run-private tmpdir, scratch dir and working directory,
checks every query's output against its DuckDB oracle, and prints one JSON
object as the last line of stdout. `--trace 0` reports the end-to-end
metrics, `--trace 1` the per-layer ones. `--workload all` runs every
workload in turn and prints the end-to-end summary of each. A readable
summary goes to stderr. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from statistics import median

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# the output check shares tools/crosscheck.py's tables and normalization
sys.path[:0] = [HERE, os.path.join(ROOT, "tools")]

import inputs  # noqa: E402
import oracle  # noqa: E402

WORK = os.path.join(HERE, "work")
WORKLOADS = ("medallion", "corpus_prep")
SOURCE = os.environ.get("GRAFT_BENCH_SOURCE", os.path.expanduser("~/testdata/sf0.1"))
THREADS = min(4, os.cpu_count() or 1)  # DuckDB threads of the output check
HEAP = "3g"
RUN_TIMEOUT_S = 170

END_TO_END = {"setup_s": "s", "cold_s": "s", "warm_s": "s", "scratch_bytes": "bytes",
              "heap_retained_mb": "MB"}

# Spark 4 on JDK 17 outside spark-submit (the root build's list)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def build():
    """Compiles library + harness with sbt; returns the runtime classpath.

    sbt compiles into the one shared perfbench/target, so each digest gets
    its own copy of the compiled classes, and its classpath names that copy:
    a checkout that alternates between two sources never runs the classes
    of the other."""
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        raise SystemExit("perfbench: graft sources not found next to perfbench/; run from a checkout")
    if not os.environ.get("SPARK_HOME"):
        raise SystemExit("perfbench: SPARK_HOME is not set")
    out = os.path.join(WORK, "build", source_digest())
    cp_file = os.path.join(out, "classpath")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            return f.read().strip()
    log("building library and harness with sbt")
    t0 = time.time()
    p = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, stdin=subprocess.DEVNULL, capture_output=True, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        raise SystemExit("perfbench: build failed")
    target = os.path.join(HERE, "target", "scala-2.13", "classes")
    classes = os.path.join(out, "classes")
    shutil.rmtree(out, ignore_errors=True)
    shutil.copytree(target, classes)
    cp = ":".join(classes if e == target else e
                  for e in p.stdout.strip().splitlines()[-1].split(":"))
    if classes not in cp.split(":"):
        raise SystemExit(f"perfbench: {target} is not on the exported classpath")
    with open(cp_file + ".tmp", "w") as f:
        f.write(cp)
    os.replace(cp_file + ".tmp", cp_file)
    log(f"built in {time.time() - t0:.1f} s")
    return cp


def run_one(cp, workload, seed, seconds, trace):
    """One run in a fresh JVM; returns (result json, {"<pass>/<query>": check error})."""
    if not os.path.isdir(SOURCE):
        raise SystemExit(f"perfbench: source tables not found at {SOURCE} (set GRAFT_BENCH_SOURCE)")
    run = os.path.join(WORK, "runs", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(run, ignore_errors=True)
    d = {k: os.path.join(run, k) for k in ("tmp", "scratch", "local", "wd", "check", "spill")}
    for p in d.values():
        os.makedirs(p)
    data = os.path.join(run, "data")
    try:
        t0 = time.time()
        inputs.generate(SOURCE, data, seed)
        digest = inputs.digest(data)
        log(f"inputs for seed {seed} (content digest {digest}) in {time.time() - t0:.1f} s")
        out = os.path.join(run, "result.json")
        spans_dir = os.path.join(WORK, "spans")
        os.makedirs(spans_dir, exist_ok=True)
        spans = os.path.join(spans_dir, f"{workload}-seed{seed}-trace{trace}.jsonl")
        java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
        cmd = [java, *ADD_OPENS, f"-Xmx{HEAP}", f"-Djava.io.tmpdir={d['tmp']}",
               f"-Dspark.local.dir={d['local']}", "-Dspark.ui.enabled=false",
               "-cp", cp, "graftbench.Harness",
               "--workload", workload, "--data", data, "--seconds", str(seconds),
               "--trace", str(trace), "--out", out, "--check", d["check"], "--spans", spans]
        env = dict(os.environ, SPARK_GRAFT_SCRATCH=d["scratch"])
        t0 = time.time()
        with open(os.path.join(run, "jvm.log"), "w") as jl:
            p = subprocess.Popen(cmd, cwd=d["wd"], env=env, stdin=subprocess.DEVNULL,
                                 stdout=jl, stderr=subprocess.STDOUT)
            try:
                rc = p.wait(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
                rc = "timeout"
        if rc != 0 or not os.path.exists(out):
            with open(os.path.join(run, "jvm.log")) as f:
                sys.stderr.write(f.read()[-6000:])
            raise SystemExit(f"perfbench: harness failed ({rc})")
        log(f"harness JVM in {time.time() - t0:.1f} s")
        with open(out) as f:
            res = json.load(f)
        t0 = time.time()
        sqls = {q: v["oracle_sql"] for q, v in res["queries"].items()}
        checks = oracle.check(data, digest, d["check"], res["passes"], sqls,
                              os.path.join(WORK, "oracle"), d["spill"], THREADS)
        log(f"oracle check in {time.time() - t0:.1f} s")
        res["inputs"] = inputs.size(data)
        return res, checks
    finally:
        shutil.rmtree(run, ignore_errors=True)


def summarize(workload, res, checks):
    """Prints the run to stderr; returns (correct, attempted, failed, end-to-end values).

    Every query run of every pass is attempted and checked; a failed run
    counts once, whether it threw, could not be written or mismatched."""
    check_failed = {r: e for r, e in checks.items() if e}
    for r, e in check_failed.items():
        log(f"{workload}: {r} does not match its oracle: {e}")
    for e in res["errors"] + res["check_errors"]:
        log(f"{workload}: query failed: {e}")
    failed_runs = set(check_failed) | {e.split(":")[0] for e in res["errors"] + res["check_errors"]}
    attempted = res["query_runs"]
    failed = len(failed_runs)
    values = {"setup_s": res["setup_s"], "cold_s": res["cold_s"],
              "warm_s": median(res["warm_s"]), "scratch_bytes": res["scratch_bytes"],
              "heap_retained_mb": res["heap_retained_mb"]}
    log(f"{workload}: inputs " + ", ".join(
        f"{t} {v['rows']} rows / {v['bytes']} B in {v['files']} files" for t, v in res["inputs"].items()))
    log(f"{workload}: k={res['cores']}, {len(res['queries'])} queries, closed loop with one client, "
        f"{len(res['warm_s'])} warm passes")
    for k, u in END_TO_END.items():
        log(f"{workload}: {k:>17} = {values[k]:.4f} {u}")
    log(f"{workload}: {'error_rate':>17} = {failed / attempted:.4f} ({failed}/{attempted} query runs)")
    for q, v in res["queries"].items():
        bad = [r for r in failed_runs if r.endswith("/" + q)]
        log(f"{workload}:   {q:<30} cold {v['cold_s']:7.3f} s  warm {v['warm_s']:7.3f} s  "
            f"{'FAILED in ' + ', '.join(sorted(bad)) if bad else 'ok'}")
    return failed == 0, attempted, failed, values


def unit(name):
    if name.endswith("rows_per_s"):
        return "1/s"
    if name.endswith(("_s", ".s")) or ".construct_s." in name:
        return "s"
    if name.endswith("bytes"):
        return "bytes"
    return "count"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    cp = build()
    if a.workload == "all":
        summary = {}
        for w in WORKLOADS:
            res, checks = run_one(cp, w, a.seed, a.seconds, 0)
            correct, attempted, failed, values = summarize(w, res, checks)
            summary[w] = dict(values, error_rate=failed / attempted)
        print(json.dumps(summary))
        return
    res, checks = run_one(cp, a.workload, a.seed, a.seconds, a.trace)
    correct, attempted, failed, values = summarize(a.workload, res, checks)
    if a.trace:
        layers = res["per_layer"]
        for k, v in layers.items():
            log(f"{a.workload}: {k} = {v:.6g} {unit(k)}")
        metrics = {k: {"value": v, "unit": unit(k)} for k, v in layers.items()}
    else:
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
