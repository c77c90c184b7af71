#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Builds the benchmark JVM from source when the sources changed (one offline
`sbt compile` in this directory, which compiles the program's ../src/main
together with the benchmark), stages the seeded inputs, runs one workload
in a single JVM started directly with `java`, checks every output against
an independent computation (checks.py), and prints one JSON object as the
last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

Everything it writes goes under perfbench/.work in the checkout.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
CLASSES = os.path.join(BENCH, "target", "scala-2.13", "classes")
SPARK_JARS = "/opt/spark/jars"
WORKLOADS = ("tweet_store", "corpus_dedup")
KEEP_INPUT_SETS = 4
JVM_TIMEOUT_S = 150

sys.path.insert(0, BENCH)
import checks  # noqa: E402
import stage  # noqa: E402

# the module-access flags Spark needs on JDK 17 outside spark-submit
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]

END_TO_END_UNITS = {"setup_s": "s", "op_ms_gmean_refhost": "ms", "ops_per_s_refhost": "1/s"}
# what the two scaled metrics were scaled from, logged on every run
UNSCALED = ("op_ms_gmean", "ops_per_s", "host.mem_access_ns")
# per-layer metrics of a traced run; times and counts are means per operation
PER_LAYER_UNITS = {
    "ops.construct_ms": "ms", "ops.construct_jobs": "count",
    "plans.analysis_ms": "ms", "plans.optimization_ms": "ms", "plans.planning_ms": "ms",
    "exec.ms": "ms", "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.task_run_ms": "ms", "exec.task_cpu_ms": "ms", "exec.task_gc_ms": "ms",
    "exec.task_wait_ms": "ms", "exec.slot_busy_ratio": "ratio",
    "exec.shuffle_read_bytes": "bytes", "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes", "exec.task_skew": "ratio",
    "stream.batches": "count", "stream.input_rows": "rows", "stream.start_ms": "ms",
    "stream.add_batch_ms": "ms", "stream.get_batch_ms": "ms", "stream.latest_offset_ms": "ms",
    "stream.query_planning_ms": "ms", "stream.wal_commit_ms": "ms",
    "stream.commit_offsets_ms": "ms", "stream.batch_ms_p50": "ms", "stream.batch_ms_p90": "ms",
    "stream.state_rows": "rows", "stream.state_bytes": "bytes", "stream.late_rows_dropped": "rows",
    "dedup.exact_ms": "ms", "dedup.minhash_ms": "ms", "dedup.simhash_ms": "ms",
    "dedup.containment_ms": "ms", "dedup.candidate_pairs": "count",
    "dedup.confirmed_pairs": "count", "dedup.confirm_ratio": "ratio", "dedup.docs_per_s": "docs/s",
    "similarity.knn_ms": "ms", "similarity.lsh_ms": "ms", "similarity.pairs_scored": "count",
    "similarity.queries_per_s": "1/s", "caches.frames_released": "count",
    "jvm.gc_ms": "ms", "jvm.heap_used_peak_mb": "MB", "host.mem_access_ns": "ns"}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources():
    files = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        files += sorted(glob.glob(os.path.join(base, "**", "*"), recursive=True))
    return [f for f in files if os.path.isfile(f)]


def build():
    """Compile when any source changed since the last build."""
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        sys.exit("perfbench: the program's sources (src/main/scala/graft) are not in this checkout")
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp_file = os.path.join(WORK, "build.stamp")
    stamp = h.hexdigest()
    if os.path.isdir(CLASSES) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    log("building (sbt compile, offline)")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "Compile/copyResources"],
                       cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=850)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        sys.exit(f"perfbench: build failed (exit {r.returncode})")
    os.makedirs(WORK, exist_ok=True)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.1f} s")


def prune_inputs(keep):
    sets = sorted(glob.glob(os.path.join(WORK, "inputs-*")), key=os.path.getmtime)
    for d in sets[:-KEEP_INPUT_SETS]:
        if d != keep:
            shutil.rmtree(d, ignore_errors=True)


def run_jvm(workload, seed, seconds, trace, inputs, out):
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp)
    # no hsperfdata file: the JVM would write it under /tmp, outside the checkout
    cmd = (["java", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            f"-Dderby.system.home={tmp}"] + ADD_OPENS +
           ["-cp", f"{CLASSES}:{SPARK_JARS}/*", "perfbench.Main", workload, str(seed),
            str(seconds), str(trace), inputs, os.path.join(out, "run")])
    with open(os.path.join(out, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, cwd=out, stdout=logf, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0:
        with open(os.path.join(out, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        sys.exit(f"perfbench: benchmark JVM failed ({rc})")
    with open(os.path.join(out, "run", "result.json")) as f:
        return json.load(f)


def bench(workload, seed, seconds, trace):
    t0 = time.time()
    build()
    t1 = time.time()
    inputs = stage.stage(WORK, seed)
    t2 = time.time()
    prune_inputs(inputs)
    out = os.path.join(WORK, f"run-{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    try:
        res = run_jvm(workload, seed, seconds, trace, inputs, out)
        t3 = time.time()
        problems = checks.check(workload, inputs, os.path.join(out, "run"))
        log(f"build check {t1 - t0:.1f} s, staging {t2 - t1:.1f} s, jvm {t3 - t2:.1f} s "
            f"(session {res['session_s']:.1f} s), checks {time.time() - t3:.1f} s")
        for p in problems[:20]:
            log(f"check failed: {p}")
        for e in res["errors"][:20]:
            log(f"operation failed: {e}")
        log(f"{workload}: {res['rounds']} round(s) of {res['ops_per_round']} operations")
        metrics = res["metrics"]
        log("unscaled: " + json.dumps({k: metrics[k] for k in UNSCALED}))
        if trace:
            shutil.copy(os.path.join(out, "run", "trace.json"), os.path.join(WORK, f"trace-{workload}.json"))
            # set against an untraced run of the same seed, this is the
            # tracing overhead
            log("end-to-end with tracing on: " + json.dumps({k: metrics[k] for k in END_TO_END_UNITS}))
            units = PER_LAYER_UNITS
        else:
            units = END_TO_END_UNITS
        return {"correct": not problems, "attempted": res["attempted"], "failed": res["failed"],
                "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()}}
    finally:
        shutil.rmtree(out, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true",
                    help="show that every checker fails on a corrupted result")
    a = ap.parse_args()
    if a.selftest:
        build()
        sys.exit(checks.selftest(WORKLOADS, lambda w: bench_dir(w, a.seed)))
    if not a.workload:
        ap.error("--workload is required")
    print(json.dumps(bench(a.workload, a.seed, a.seconds, a.trace)))


def bench_dir(workload, seed):
    """Run one round of `workload`; its outputs stay in the work dir."""
    dest = os.path.join(WORK, f"selftest-{workload}")
    inputs = stage.stage(WORK, seed)
    shutil.rmtree(dest, ignore_errors=True)
    os.makedirs(dest)
    run_jvm(workload, seed, 0, 0, inputs, dest)
    return inputs, os.path.join(dest, "run")


if __name__ == "__main__":
    main()
