#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Builds the library and the harness from
source with sbt (once per source state), runs one JVM for the
workload, compares the outputs that have registered DuckDB oracles,
and prints the result record as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones, with --trace 1
the per-layer ones. Everything it writes stays under perfbench/.
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

import oracle

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
DEADLINE_S = 170
# A fixed heap and young generation under the throughput collector, so
# the touched heap (and so VmHWM) depends on the work, not on how the
# collector chose to grow the heap in this particular run.
JVM_MEMORY = ["-XX:+UseParallelGC", "-Xms3g", "-Xmx3g", "-Xmn1g"]
WORKLOADS = ("gridmr_wordcount", "llm_dedup", "registry_sweep")

E2E_UNITS = {"setup_s": "s", "cold_pass_s": "s", "wall_s": "s", "cpu_s": "s", "peak_rss_mb": "MB"}

# Per-layer metrics of a traced run, with units. Every traced run
# reports all of them; a layer a workload does not touch reads 0.
GATED_OPS = ("wordcount", "mr_wordcount", "mr_pipe_awk", "mr_sink",
             "dedup_exact", "dedup_minhash", "dedup_simhash", "dedup_embedding", "ann_ivf")
PER_LAYER = [
    ("sources.scan_s", "s"), ("sources.input_mb", "MB"),
    ("sources.input_rows", "count"), ("sources.scan_tasks", "count"),
    ("mr.run_s", "s"), ("mr.pipe_s", "s"), ("mr.sink_s", "s"),
    ("mr.shuffle_records", "count"),
] + [(f"functions.{f}_ns_row", "ns/row") for f in (
    "minhash_sig", "simhash_agg", "kmv_distinct", "cms_sketch", "mg_topk",
    "cosine_sim", "dot_product", "xxhash64_seeded")] + [
    ("operators.build_s", "s"), ("operators.plan_s", "s"),
    ("operators.exec_s", "s"), ("operators.build_jobs", "count"),
    ("operators.exec_jobs", "count"),
] + [(f"op.{o}.s", "s") for o in GATED_OPS] + [
    ("cache.persisted_after_op", "count"), ("cache.storage_mb_peak", "MB"),
    ("spark.jobs", "count"), ("spark.stages", "count"),
    ("spark.tasks", "count"), ("spark.task_run_s", "s"),
    ("spark.task_cpu_s", "s"), ("spark.task_wait_s", "s"),
    ("spark.gc_s", "s"), ("spark.shuffle_write_mb", "MB"),
    ("spark.shuffle_write_records", "count"), ("spark.spill_mb", "MB"),
    ("spark.peak_exec_mem_mb", "MB"), ("spark.codegen_compile_s", "s"),
    ("spark.codegen_classes", "count"), ("jvm.heap_after_gc_mb", "MB"),
    ("host.calib_cpu_s", "s"), ("host.calib_shuffle_s", "s"),
    ("trace.overhead_s", "s"),
]

def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every file the build reads, so a changed source rebuilds."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for base in (ROOT, HERE):
        files += glob.glob(os.path.join(base, "project", "*.properties"))
        files += glob.glob(os.path.join(base, "project", "*.sbt"))
        files += glob.glob(os.path.join(base, "src", "main", "**", "*.scala"), recursive=True)
    h = hashlib.sha256()
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(deadline):
    """Compiles library + harness with sbt; returns the runtime classpath
    and the library build's JVM options."""
    if not os.path.exists(os.path.join(ROOT, "build.sbt")):
        fail("no build.sbt at the repository root: run from a full checkout")
    stamp = source_stamp()
    stamp_file = os.path.join(BUILD, "stamp")
    fresh = False
    if os.path.exists(stamp_file):
        with open(stamp_file) as f:
            fresh = f.read() == stamp
    if not fresh:
        os.makedirs(BUILD, exist_ok=True)
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
        log = os.path.join(BUILD, "sbt.log")
        with open(log, "w") as out:
            try:
                p = subprocess.run(
                    ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "launchFiles"],
                    cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                    stdin=subprocess.DEVNULL, timeout=max(10, deadline - time.time()))
            except subprocess.TimeoutExpired:
                fail(f"build timed out; see {log}")
        if p.returncode != 0:
            fail(f"build failed (exit {p.returncode}); see {log}")
        with open(stamp_file, "w") as f:
            f.write(stamp)
    with open(os.path.join(BUILD, "classpath")) as f:
        classpath = f.read().strip()
    with open(os.path.join(BUILD, "jvm-options")) as f:
        options = [l.strip() for l in f if l.strip()]
    return classpath, options


def run_jvm(args, build_out, work, out, deadline):
    classpath, options = build_out
    # The benchmark's heap settings come last, so they override the
    # library build's.
    cmd = ["java"] + options + JVM_MEMORY
    cmd += ["-cp", classpath, "graft.perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--out", out,
            "--data", os.path.join(HERE, "data", "sf0.01"),
            "--clk-tck", str(os.sysconf("SC_CLK_TCK"))]
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as fh:
        p = subprocess.Popen(cmd, cwd=work, stdout=fh, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=max(5, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail("run timed out")
    if rc != 0 or not os.path.exists(out):
        with open(log) as fh:
            tail = fh.read()[-3000:]
        fail(f"JVM exited {rc}\n{tail}")
    with open(out) as fh:
        return json.load(fh)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        fail("library sources not found: run from the root of a full checkout")
    t0 = time.time()
    build_out = build(t0 + 900)
    deadline = time.time() + DEADLINE_S

    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        rec = run_jvm(args, build_out, work, os.path.join(work, "result.json"), deadline)
        oracle_bad = oracle.failures(rec["oracle_checks"])
    finally:
        shutil.rmtree(work, ignore_errors=True)

    failures = rec["failures"] + oracle_bad
    attempted = rec["attempted"] + len(rec["oracle_checks"])
    failed = rec["failed"] + len(oracle_bad)
    print(json.dumps({k: rec[k] for k in ("workload", "seed", "config", "inputs", "jvm_boot_s",
                                          "steady_pass_s", "steady_cpu_s", "traced_pass_s",
                                          "check_s")}))
    for op in rec["ops"]:
        print(json.dumps(op))
    if args.trace:
        print(json.dumps({"spans": rec["spans"]}))
    for f in failures:
        print(f"FAILED {f}")
    if args.trace:
        units = dict(PER_LAYER)
        values = {n: 0.0 for n in units}
        values.update(rec["per_layer"])
        metrics = {k: {"value": v, "unit": units.get(k, "s")} for k, v in values.items()}
    else:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in rec["e2e"].items()}
    for k, m in metrics.items():
        print(f"{k:40s} {m['value']:14.6f} {m['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
