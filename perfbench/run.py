#!/usr/bin/env python3
"""Benchmark of graft: one workload per invocation, run from the repo root.

    python3 perfbench/run.py --workload dsl_tpch --seed 1 --seconds 10 --trace 0

Builds the library and the benchmark from source (scalac from the Spark
jars, cached under .bench_build/perfbench by a hash of the sources), runs
the workload in a fresh JVM and Spark session (perfbench/src), checks the
outputs against DuckDB (perfbench/oracle.py), and prints as its last line
one JSON object: the end-to-end metrics with --trace 0, the per-layer
metrics with --trace 1. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ["dsl_tpch", "delta_ingest"]
# input sizes (see README.md for why each workload is shaped as it is)
SIZES = {"dsl_sf": 0.02, "vecs": 1000, "delta_cycles": 1, "delta_batch_rows": 50000}
# the small inputs the build runs once to record the class-sharing archive
TRAIN_SIZES = {"dsl_sf": 0.001, "vecs": 100, "delta_cycles": 1, "delta_batch_rows": 1000}
# how many ops of one dsl_tpch pass read each input: rows_per_s counts
# input rows per pass, and an input read by n ops counts n times
DSL_PASS_READS = {"lineitem": 4, "orders": 5, "customer": 2, "orders_csv": 1,
                  "embeddings": 1}
BUILD_DIR = os.path.join(ROOT, ".bench_build", "perfbench")
# the JVM of a run: heap, collector and slots are part of the benchmark's
# definition (see README.md)
HEAP = "-Xmx2g"
GC = "-XX:+UseG1GC"
CPUS = 4
RUN_TIMEOUT_S = 170
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The Spark jars (with the Scala compiler among them): $SPARK_HOME/jars,
    else the directory build.sbt declares as `unmanagedBase`."""
    dirs = []
    if os.environ.get("SPARK_HOME"):
        dirs.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    build_sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(build_sbt):
        with open(build_sbt) as f:
            dirs += re.findall(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    for d in dirs:
        if glob.glob(os.path.join(d, "scala-compiler-*.jar")):
            return d
    fail("no Spark jars with a Scala compiler: set SPARK_HOME")


def sources():
    lib = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                           recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    if not lib:
        fail("no library sources under src/main/scala: run from the repo root")
    if not bench:
        fail("no benchmark sources under perfbench/src")
    return lib + bench


def build(jars):
    """Compiles the library and the benchmark together into one jar, and
    records a class-data-sharing archive of a small run of every workload
    (it halves the JVM's cold start). Reuses both when no source changed."""
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    out = os.path.join(BUILD_DIR, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".complete")):
        return out
    os.makedirs(BUILD_DIR, exist_ok=True)
    for old in glob.glob(os.path.join(BUILD_DIR, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    classes = os.path.join(tmp, "classes")
    os.makedirs(classes)
    compiler = [os.path.join(jars, n) for n in os.listdir(jars)
                if n.startswith(("scala-compiler-", "scala-library-", "scala-reflect-"))]
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", os.path.join(jars, "*"),
           "-d", classes] + srcs
    log = os.path.join(BUILD_DIR, "build.log")
    with open(log, "w") as f:
        rc = subprocess.run(cmd, stdout=f, stderr=subprocess.STDOUT, timeout=600).returncode
    if rc != 0:
        fail(f"build failed, see {log}")
    with zipfile.ZipFile(os.path.join(tmp, "app.jar"), "w") as z:
        for d, _, files in os.walk(classes):
            for name in files:
                path = os.path.join(d, name)
                z.write(path, os.path.relpath(path, classes))
    shutil.rmtree(classes)
    train_dir = os.path.join(BUILD_DIR, "train")
    shutil.rmtree(train_dir, ignore_errors=True)
    for w in WORKLOADS:
        generate(w, 1, os.path.join(train_dir, "in", w), TRAIN_SIZES)
    java(tmp, jars, ["-XX:ArchiveClassesAtExit=" + os.path.join(tmp, "app.jsa")],
         ["--workload", "train", "--seconds", "0", "--trace", "1",
          "--inputs", os.path.join(train_dir, "in"), "--run-dir", train_dir],
         train_dir, time.time() + 600)
    shutil.rmtree(train_dir, ignore_errors=True)
    os.rename(tmp, out)
    open(os.path.join(out, ".complete"), "w").close()
    return out


def generate(workload, seed, out, sizes=SIZES):
    """Writes the seeded inputs of one workload under out; returns the
    input rows of one pass."""
    os.makedirs(out)
    g = gen.Gen(seed)
    if workload == "dsl_tpch":
        rows = g.star(out, sizes["dsl_sf"])
        rows["orders_csv"] = g.orders_csv(out)
        rows["embeddings"] = g.embeddings(out, sizes["vecs"])
        return sum(rows[t] * n for t, n in DSL_PASS_READS.items())
    plan = gen.delta_plan(sizes["delta_cycles"], sizes["delta_batch_rows"])
    os.makedirs(os.path.join(out, "batches"))
    for s in plan:
        if s["op"] in ("append", "upsert"):
            g.batch(os.path.join(out, s["batch"]), s["day"], s["rows"], s.get("of"))
    with open(os.path.join(out, "plan.json"), "w") as f:
        json.dump(plan, f)
    return sum(s["rows"] for s in plan if "rows" in s)


def java(classes, jars, flags, args, run_dir, deadline):
    """Runs perfbench.Main in its own JVM, its output logged in run_dir."""
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = (["java", HEAP, GC, "-Xss8m", "-XX:-UsePerfData"] + flags
           + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
           + [f"-Djava.io.tmpdir={run_dir}/tmp", f"-Dderby.system.home={run_dir}",
              "-cp", os.path.join(classes, "app.jar") + os.pathsep + os.path.join(jars, "*"),
              "perfbench.Main", "--cpus", str(CPUS)] + args)
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=run_dir,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"JVM exceeded its time limit, see {run_dir}/jvm.log")
    if rc != 0:
        fail(f"benchmark JVM exited with {rc}, see {run_dir}/jvm.log")


def result(raw, oracle_result, trace):
    """The printed object: end-to-end metrics (or per-layer ones when
    traced), and every timed op counted as attempted; an op failed if it
    threw or did not reproduce its check-pass digest, or if its check
    output did not match the oracle or its warm-up run the check digest."""
    bad_ids = {i for i, why in oracle_result.items() if why is not None}
    bad_ids |= set(raw["warm_failures"])
    timed = raw["ops"]  # every recorded op is a timed one
    failed = sum(1 for o in timed if not o["ok"] or o["id"] in bad_ids)
    values = metrics.per_layer(raw) if trace else metrics.end_to_end(raw)
    units = metrics.LAYER_UNITS if trace else metrics.E2E_UNITS
    return {"correct": failed == 0 and not bad_ids, "attempted": len(timed),
            "failed": failed,
            "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()}}


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args()

    jars = spark_jars()
    classes = build(jars)
    deadline = time.time() + RUN_TIMEOUT_S
    run_dir = os.path.join(BUILD_DIR, "runs", args.workload)
    shutil.rmtree(run_dir, ignore_errors=True)
    # set-up repeated: the inputs are generated three times, the median
    # counts in setup_s
    gen_s = []
    for i in range(3):
        t = time.time()
        pass_rows = generate(args.workload, args.seed, os.path.join(run_dir, f"in{i}"))
        gen_s.append(time.time() - t)
    for i in range(2):
        shutil.rmtree(os.path.join(run_dir, f"in{i}"))
    os.rename(os.path.join(run_dir, "in2"), os.path.join(run_dir, "in"))
    launch_ms = time.time() * 1000.0
    java(classes, jars, ["-XX:SharedArchiveFile=" + os.path.join(classes, "app.jsa")],
         ["--workload", args.workload, "--seconds", str(args.seconds),
          "--trace", str(args.trace), "--inputs", os.path.join(run_dir, "in"),
          "--run-dir", run_dir], run_dir, deadline)
    with open(os.path.join(run_dir, "raw.json")) as f:
        raw = json.load(f)
    raw["pass_rows"] = pass_rows
    raw["setup"].update({"gen_s": gen_s, "jvm_launch_ms": launch_ms})
    with open(os.path.join(run_dir, "raw.json"), "w") as f:
        json.dump(raw, f)

    in_dir = os.path.join(run_dir, "in")
    plan = []
    if os.path.exists(os.path.join(in_dir, "plan.json")):
        with open(os.path.join(in_dir, "plan.json")) as f:
            plan = json.load(f)
    oracle_result = oracle.check(in_dir, raw["checks"], plan)
    with open(os.path.join(run_dir, "oracle.json"), "w") as f:
        json.dump(oracle_result, f, indent=1)
    # inputs and outputs are not needed once checked; samples and spans stay
    for d in ["in", "out", "check", "spark-local", "tmp"]:
        shutil.rmtree(os.path.join(run_dir, d), ignore_errors=True)

    out = result(raw, oracle_result, args.trace)
    context = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
               "cpus": raw["cpus"], "heap_max_mb": raw["heap_max_mb"], "gc": raw["gc"],
               "timed_passes": raw["timed_passes"], "warm_up_s": raw["setup"]["warm_up_s"],
               "host": raw["host"], "jvm_timed_window": raw["jvm"],
               "oracle_failures": {i: w for i, w in oracle_result.items() if w},
               "warm_failures": raw["warm_failures"]}
    print("context " + json.dumps(context))
    print(json.dumps(out))


if __name__ == "__main__":
    main()
