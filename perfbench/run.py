#!/usr/bin/env python3
"""Benchmark of the ingestion front end (with the bulk ingest operator as
its parity check) and of the declared queries. Run from the repository
root:

    python3 perfbench/run.py --workload parse_files --seed 1 --seconds 12 --trace 0

Workloads (perfbench/BENCHMARK.md has the details):
  parse_files  AnyFile.parse + collect of every answer, per file of a
               seeded mixed-format corpus; then, untimed, the whole corpus
               through BulkIngest.parseTreeAuto, checked against the same
               manifest
  queries      SparkEntry.queries through the graft.Bench contract on
               the sf0.1 tables, checked against DuckDB

Each run builds the program (cached in .bench_build), then starts one
measured JVM: SparkSession start and an untimed warm-up on fixed inputs
(the set-up), then the seeded inputs are written (untimed), then the timed
ops run. The last stdout line is the result JSON.
"""
import argparse
import hashlib
import json
import math
import os
import re
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("parse_files", "queries")
# The fixed work is a whole number of passes over the workload's op list,
# at least MIN_PASSES, about `seconds` long at RATE ops/s (4 cores); a
# traced run makes one pass, as each op runs twice in it. One pass of the
# four queries takes about 13 s on 4 cores, so they run once: a second
# pass would push the series of runs past its time limit.
RATE = {"parse_files": 12.8, "queries": 0.3}
MIN_PASSES = {"parse_files": 3, "queries": 1}
PASS = {"parse_files": 64}
# Untimed passes before the timed ones. On 4 cores parse_files latencies
# keep falling for five or six passes while the JIT compiles, and runs
# after one warm pass spread by 30-35% (perfbench/BENCHMARK.md); each
# pass costs about 6 s of every run, which the series of runs must fit.
WARM_PASSES = {"parse_files": 2, "queries": 1}
WARM_SEED = -1
# One query per group of ROADMAP's list: loop family, per-round driver
# round trips, heavy shuffle / carried items, single-pass relational.
QUERIES = ["q24_dedup_clusters", "q172_mmr_diversify", "q135_bpe_train",
           "q03_join_revenue_by_nation"]
HEAP = "3g"
# the JVM's hsperfdata file would land in /tmp, outside the checkout
NO_PERF_DATA = build.NO_PERF_DATA
# the bulk planner's size threshold: every big_* file of the corpus is
# above it, every other file below
BIG_BYTES = 32 * 1024
JVM_TIMEOUT = 150
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]

def jvm_flags(tmp):
    """The flags of build.sbt's `run / javaOptions`, with a fixed heap."""
    flags = []
    for p in ADD_OPENS:
        flags += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    return flags + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
                    f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=1g",
                    "-XX:+UseCodeCacheFlushing", f"-Djava.io.tmpdir={tmp}"] + NO_PERF_DATA


def java(classes, main, args, log, flags, timeout=JVM_TIMEOUT):
    cp = classes + os.pathsep + build.classpath(os.getcwd())
    cmd = ["java", *flags, "-cp", cp, main, *args]
    with open(log, "ab") as f:
        p = subprocess.Popen(cmd, stdout=f, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit(f"perfbench: {main} timed out, see {log}")
    if rc != 0:
        raise SystemExit(f"perfbench: {main} exited {rc}, see {log}")


def harrell_davis(xs, p):
    """Harrell-Davis estimate of the p-quantile: the mean of the order
    statistics weighted by a Beta(p(n+1), (1-p)(n+1)) density. Unlike a
    single order statistic it does not jump across gaps between groups
    of ops (malformed files, driver-side decodes, Spark jobs)."""
    s = sorted(xs)
    n = len(s)
    a, b = p * (n + 1), (1 - p) * (n + 1)
    lb = math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)

    def density(x):
        return math.exp(lb + (a - 1) * math.log(x) + (b - 1) * math.log1p(-x)) if 0 < x < 1 else 0.0

    # the Beta CDF at i/n by the trapezoid rule on a grid 64 times finer
    steps = 64 * n
    cdf, acc, prev = [0.0], 0.0, density(0.0)
    for k in range(1, steps + 1):
        cur = density(k / steps)
        acc += (prev + cur) / (2 * steps)
        prev = cur
        if k % 64 == 0:
            cdf.append(acc)
    return sum((cdf[i + 1] - cdf[i]) * s[i] for i in range(n)) / acc


def tail_percentile(lat):
    """Highest whole percentile (nearest rank) with at least ten samples
    beyond it; returns (p, Harrell-Davis value, samples beyond). With
    fewer than 20 ops that percentile would sit below the median, so the
    tail is the slowest op instead, recorded as p100 with 0 beyond."""
    n = len(lat)
    if n < 20:
        return 100, max(lat), 0
    p = min(99, 100 * (n - 10) // n)
    k = -(-p * n // 100)  # ceil(p n / 100)
    return p, harrell_davis(lat, p / 100), n - k


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", default=os.environ.get("PERFBENCH_SF_DIR"),
                    help="tables of the queries workload (default: graft.Bench's)")
    a = ap.parse_args()
    root = os.getcwd()
    wl = a.workload

    classes = build.build(root)
    base = os.path.join(root, build.BUILD_ROOT)
    work = os.path.join(base, "work", wl)
    shutil.rmtree(work, ignore_errors=True)
    local = os.path.join(work, "local")
    os.makedirs(local)
    log = os.path.join(work, "jvm.log")
    cpus = str(len(os.sched_getaffinity(0)))
    flags = jvm_flags(local)
    aux = NO_PERF_DATA + [f"-Djava.io.tmpdir={local}"]  # generator and oracle-SQL JVMs

    # ---- inputs: generated from the seed, outside every timed section
    t_gen = time.time()
    args = [f"workload={wl}", f"trace={a.trace}", f"cpus={cpus}", f"localDir={local}",
            f"warmPasses={WARM_PASSES[wl]}"]
    if wl in PASS:
        # written once per build; its seed is negative, so no run's seed repeats it
        warm = os.path.join(base, "warm-" + os.path.basename(classes))
        if not os.path.isdir(warm):
            java(classes, "perfbench.Corpus", [str(WARM_SEED), warm + ".tmp"], log, flags=aux)
            os.rename(warm + ".tmp", warm)
            os.rename(warm + ".tmp.manifest.tsv", warm + ".manifest.tsv")
        n = PASS[wl]
        args += [f"input={os.path.join(work, 'input')}", f"seed={a.seed}", f"warm={warm}",
                 f"bigBytes={BIG_BYTES}"]
    else:
        a.sf = a.sf or bench_sf_dir(root)
        if not os.path.isdir(a.sf):
            raise SystemExit(f"perfbench: no tables at {a.sf}")
        key = hashlib.sha256(",".join([classes, a.sf] + QUERIES).encode()).hexdigest()[:16]
        oracle = os.path.join(base, f"oracle-{key}.tsv")
        if not os.path.exists(oracle):
            sql = os.path.join(work, "oracle_sql.tsv")
            java(classes, "perfbench.OracleSql", [",".join(QUERIES), sql], log, flags=aux)
            r = subprocess.run([sys.executable, os.path.join(os.path.dirname(__file__), "oracle.py"),
                                a.sf, sql, oracle], timeout=JVM_TIMEOUT)
            if r.returncode != 0:
                raise SystemExit("perfbench: oracle failed")
        n = len(QUERIES)
        args += [f"queries={','.join(QUERIES)}", f"oracle={oracle}", f"sf={a.sf}"]
    passes = 1 if a.trace else max(MIN_PASSES[wl], round(a.seconds * RATE[wl] / n))
    args.append(f"ops={passes * n}")
    gen_s = time.time() - t_gen

    # ---- the measured JVM: set-up, then the seeded inputs, then the ops
    res = os.path.join(work, "result.json")
    t0 = time.time()
    java(classes, "perfbench.Main", args + [f"result={res}"], log, flags=flags)
    with open(res) as f:
        r = json.load(f)
    setup_s = r["warm_end_ms"] / 1e3 - t0

    # every timed op in order, pass after pass; each op's best over the
    # passes mostly leaves out the first parse of a file, which run_s keeps
    lat = r["latencies"]
    best = [min(lat[j::n]) for j in range(n)]
    p, tail, beyond = tail_percentile(best)
    errors = r["errors"]
    failed = r["failed"]
    attempted = len(r["latencies"]) * (2 if a.trace else 1) + r["checks"]
    e2e = {"setup_s": (setup_s, "s"), "run_s": (sum(lat), "s"),
           "op_p50_s": (harrell_davis(best, 0.5), "s"), "op_tail_s": (tail, "s"),
           "peak_rss_mb": (r["peak_rss_mb"], "MB")}
    diag = {"workload": wl, "seed": a.seed, "ops": attempted, "ops_failed": failed, "passes": passes,
            "pass_s": [sum(lat[k * n:(k + 1) * n]) for k in range(len(lat) // n)],
            "pass_jit_s": [j - i for i, j in zip([0.0] + r.get("op_jit_s", [])[n - 1::n], r.get("op_jit_s", [])[n - 1::n])],
            "tail_percentile": p, "tail_beyond": beyond,
            "input_gen_s": gen_s + r.get("gen_s", 0.0), "check_s": r.get("check_s"), "warm_failed": r["warm_failed"], "errors": errors[:10],
            "gc_s": r["gc_s"], "jit_s": r["jit_s"], "cpus": int(cpus), "heap": HEAP}
    if a.trace:
        layers = r["layers"]
        metrics = {k: {"value": layers.get(k, 0.0), "unit": u} for k, u in per_layer_units()}
        diag["trace_overhead"] = layers.get("trace.overhead")
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    print(json.dumps(diag))
    print(json.dumps({"correct": failed == 0 and r["warm_failed"] == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    shutil.rmtree(local, ignore_errors=True)


def bench_sf_dir(root):
    """The sf0.1 tables graft.Bench reads by default (SPARK_GRAFT_SF_DIR)."""
    with open(os.path.join(root, "src/main/scala/graft/Bench.scala")) as f:
        m = re.search(r'"SPARK_GRAFT_SF_DIR",\s*"([^"]+)"', f.read())
    if not m:
        raise SystemExit("perfbench: graft.Bench names no default table directory")
    return m.group(1)


def per_layer_units():
    """Per-layer metric names and units; the traced run reports all of them
    (0 for a layer its workload does not reach, see layers.json)."""
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "layers.json")) as f:
        return [(m["name"], m["unit"]) for m in json.load(f)]


if __name__ == "__main__":
    main()
