#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload ingest|curate --seed N \
        --seconds S --trace 0|1

Run from the root of a checkout of the repository. The first run builds the
harness together with the repository's sources (sbt, offline); later runs
reuse the build while the sources are unchanged. Every run generates the lake
for its seed, runs the workload in a fresh JVM, checks the outputs in DuckDB
and prints, as the last line of standard output,
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics with
--trace 0, the per-layer metrics with --trace 1. Everything the run writes
stays under .bench_build/ in the checkout; the full record of each run is
kept in .bench_build/records/ for `diff_counters.py`.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import check  # noqa: E402
import lakegen  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
HARNESS = os.path.join(HERE, "harness")
PROGRAM = os.path.join(ROOT, "src", "main", "scala")
WORKLOADS = ("ingest", "curate")
JVM_TIMEOUT_S = 165
# a fixed heap and young generation and two malloc arenas keep peak RSS from
# following G1's adaptive sizing and the number of threads that ever allocated
JVM_OPTS = ["-Xms3g", "-Xmx3g", "-Xmn512m"]
JVM_ENV = {"MALLOC_ARENA_MAX": "2"}
# replicas of the base lake: twice the sf0.01 test lake keeps one run of each
# workload, with its JVM start, about a minute on a 4-CPU host
REPLICAS = 2
# java.base packages Spark needs opened when it is not launched by spark-submit
# (Spark's JavaModuleOptions)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_digest():
    h = hashlib.sha256()
    for base in (PROGRAM, HARNESS):
        for d, dirs, files in sorted(os.walk(base)):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    for p in (os.path.join(HARNESS, "project", "build.properties"),):
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the harness and the program; return the classes directory."""
    target = os.path.join(BUILD, "target")
    classes = os.path.join(target, "scala-2.13", "classes")
    stamp = os.path.join(BUILD, "build.stamp")
    digest = source_digest()
    if os.path.isdir(classes) and os.path.exists(stamp) and open(stamp).read() == digest:
        return classes
    log("building harness and program sources with sbt")
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, PERFBENCH_TARGET=target, COURSIER_MODE="offline")
    t0 = time.time()
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "clean", "compile"],
                            cwd=HARNESS, env=env, stdout=out, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=850).returncode
    if rc != 0:
        sys.exit(f"build failed (rc={rc}); see {os.path.join(BUILD, 'build.log')}")
    with open(stamp, "w") as f:
        f.write(digest)
    log(f"built in {time.time() - t0:.0f}s")
    return classes


def cpu_times():
    """(steal, total) jiffies of this machine's CPUs so far, from /proc/stat:
    steal is time a hypervisor gave to other guests while a CPU wanted to run."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v[:8])


def run_jvm(classes, args, lake, work):
    out = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = ["java", *ADD_OPENS, *JVM_OPTS, f"-Djava.io.tmpdir={tmp}",
           f"-Dderby.stream.error.file={os.path.join(work, 'derby.log')}",
           "-cp", f"{classes}:{os.path.join(os.environ['SPARK_HOME'], 'jars', '*')}",
           "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--lake", lake, "--work", work, "--out", out]
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, cwd=work, env=dict(os.environ, **JVM_ENV), stdout=logf,
                             stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            sys.exit(f"workload JVM timed out after {JVM_TIMEOUT_S}s; see {work}/jvm.log")
    if rc != 0 or not os.path.exists(out):
        sys.exit(f"workload JVM failed (rc={rc}); see {work}/jvm.log")
    with open(out) as f:
        return json.load(f)


def end_to_end(res):
    ops = res["ops"]
    window = res["window_s"]
    return {
        "setup_s": (res["setup_s"], "s"),
        "ops_per_s": (len(ops) / window, "1/s"),
        "rows_per_s": (sum(o["rows"] for o in ops) / window, "1/s"),
        "peak_rss_mb": (res["peak_rss_mb"], "MB"),
    }


def per_layer(res, units):
    return {k: (v, units[k]) for k, v in res["layers"].items()}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(PROGRAM, "graft")):
        sys.exit(f"program sources not found under {PROGRAM}: run from a checkout of the repository")
    classes = build()
    run_dir = os.path.join(BUILD, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    lake, work = os.path.join(run_dir, "lake"), os.path.join(run_dir, "work")
    os.makedirs(work)
    t0 = time.time()
    manifest = lakegen.generate(lake, args.seed, REPLICAS)
    log(f"lake for seed {args.seed} in {time.time() - t0:.1f}s: {manifest['rows']}")

    t0, (steal0, total0) = time.time(), cpu_times()
    res = run_jvm(classes, args, lake, work)
    steal1, total1 = cpu_times()
    res["host_steal_frac"] = (steal1 - steal0) / max(1, total1 - total0)
    log(f"JVM {time.time() - t0:.1f}s: setup {res['setup_s']:.1f}s, warm-up {res['warmup_s']:.1f}s, "
        f"window {res['window_s']:.1f}s, host steal {100 * res['host_steal_frac']:.0f}%")
    t0 = time.time()
    failures = check.run(res["checks"], lake)
    log(f"{len(res['checks'])} output checks in {time.time() - t0:.1f}s, {len(failures)} failed")
    for op, p, msg in failures[:20]:
        log(f"  FAIL {op} pass {p}: {msg}")
    # a failed check of the warm-up pass (pass 0) fails every timed run of its
    # operation: they repeat the same work on the same inputs
    bad_ops = {(op, p) for op, p, _ in failures}
    failed = sum(1 for o in res["ops"]
                 if o["errors"] or (o["name"], o["pass"]) in bad_ops or (o["name"], 0) in bad_ops)
    attempted = len(res["ops"])

    if args.trace:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            units = {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}
        metrics = per_layer(res, units)
    else:
        metrics = end_to_end(res)

    records = os.path.join(BUILD, "records")
    os.makedirs(records, exist_ok=True)
    record = dict(res, lake=manifest, failures=failures, failed=failed, attempted=attempted,
                  failed_frac=failed / attempted, metrics={k: v for k, (v, _) in metrics.items()})
    base = os.path.join(records, f"{args.workload}-seed{args.seed}")
    if args.trace and os.path.exists(base + "-trace0.json"):
        with open(base + "-trace0.json") as f:
            untraced = json.load(f)
        traced = {k: v for k, (v, _) in end_to_end(res).items()}
        record["tracing_overhead"] = {k: traced[k] - untraced["metrics"][k]
                                      for k in traced if k in untraced["metrics"]}
        log(f"tracing overhead (traced - untraced): {record['tracing_overhead']}")
    with open(f"{base}-trace{args.trace}.json", "w") as f:
        json.dump(record, f, indent=1)
    log(f"{args.workload}: {res['passes']} timed passes in {res['window_s']:.1f}s, "
        f"{attempted} ops, {failed} failed; record {base}-trace{args.trace}.json")

    print(json.dumps({"correct": failed == 0 and not failures, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
