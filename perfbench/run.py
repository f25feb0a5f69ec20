#!/usr/bin/env python3
"""Repository benchmark: one workload per invocation.

    python3 perfbench/run.py --workload enrich_drain|upsert_serve|batch_ops \
        --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the harness and the
program from source with sbt (perfbench/build.sbt) into .bench_build/,
then runs one short pass of every workload to write a class-data-sharing
archive; later runs reuse both until a source file changes. Each run then

  1. builds the workload's inputs from the seed three times, keeping the
     last (the median build time is part of setup_s);
  2. starts the harness JVM, which warms up, runs the timed pass (and, with
     --trace 1, a second, traced pass) and writes its figures;
  3. checks every pass's outputs in DuckDB (checks.py), outside any timing;
  4. prints one JSON line: correct, attempted, failed and the metrics
     BENCHMARK.json lists — end_to_end ones with --trace 0, per_layer ones
     with --trace 1.

Everything the run writes goes under .bench_build/scratch/ (inputs, logs,
checkpoints, Spark local dirs), so every checkout measures the same path.
Definitions of the metrics and workloads are in perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
SCRATCH = os.path.join(BUILD, "scratch")
JSA = os.path.join(BUILD, "classes.jsa")
JVM_TIMEOUT_S = 170
HEAP = ["-Xmx3g"]
# batch_ops runs many short queries that churn the heap. Under G1 its peak
# RSS followed the heap resizing that GC pause times drive, so it swung with
# host load; a parallel collector with fixed generation sizes keeps the
# peak to the young generation plus what the queries keep live. Its jobs
# are small and mostly wait on the driver: on two CPUs (Spark local[2], and
# fewer GC and JIT threads) they ran faster on a 4-core VM and their peak
# RSS no longer rose when other processes took CPU time
JVM_BY_WORKLOAD = {
    "batch_ops": ["-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy",
                  "-Xms2g", "-Xmn1g", "-Xmx3g", "-XX:ActiveProcessorCount=2"],
}


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def newest_source_mtime():
    newest = 0.0
    for top in ("src/main", "project", "perfbench"):
        for d, _, fs in os.walk(os.path.join(ROOT, top)):
            if "target" in d.split(os.sep):
                continue
            for f in fs:
                if f.endswith((".scala", ".sbt", ".properties")):
                    newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    return max(newest, os.path.getmtime(os.path.join(ROOT, "build.sbt")))


def java_cmd(cp, opts, heap, *args):
    return ["java"] + opts + heap + ["-cp", cp, "perfbench.Main"] + list(args)


def build():
    """Compile the program and the harness, then write the class-data-sharing
    archive every run maps its classes from; returns (classpath, JVM options)."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    opts_file = os.path.join(BUILD, "jvm_options.txt")
    fresh = (os.path.exists(cp_file) and os.path.exists(opts_file)
             and os.path.exists(JSA)
             and os.path.getmtime(JSA) >= newest_source_mtime())
    if not fresh:
        os.makedirs(BUILD, exist_ok=True)
        if os.path.exists(JSA):
            os.remove(JSA)
        env = dict(os.environ, COURSIER_MODE=os.environ.get("COURSIER_MODE", "offline"))
        repos = os.path.expanduser("~/.sbt/repositories")
        if "SBT_OPTS" not in env and os.path.exists(repos):
            env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                               f"-Dsbt.repository.config={repos} -Xmx2g")
        with open(os.path.join(BUILD, "build.log"), "w") as log:
            r = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "writeRuntime"],
                cwd=HERE, env=env, stdout=log, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=840)
        if r.returncode != 0:
            fail(f"build failed, see {BUILD}/build.log", 3)
    with open(cp_file) as f:
        cp = f.read().strip()
    with open(opts_file) as f:
        opts = [o for o in f.read().split("\n") if o and not o.startswith("-Xmx")]
    if not fresh:
        # one short pass of every workload, archiving the classes it loads
        import inputs
        train = os.path.join(SCRATCH, "train")
        shutil.rmtree(train, ignore_errors=True)
        for w in inputs.GENERATORS:
            inputs.build(w, os.path.join(train, w, "inputs"), 0, 1)
        with open(os.path.join(BUILD, "train.log"), "w") as log:
            r = subprocess.run(
                java_cmd(cp, opts + [f"-XX:ArchiveClassesAtExit={JSA}"], HEAP,
                         "--train", ",".join(inputs.GENERATORS), "--dir", train),
                cwd=ROOT, stdout=log, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                timeout=600, env=dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(train, "tmp")))
        shutil.rmtree(train, ignore_errors=True)
        if r.returncode != 0 or not os.path.exists(JSA):
            if os.path.exists(JSA):
                os.remove(JSA)
            fail(f"class archive run failed, see {BUILD}/train.log", 3)
    return cp, opts + [f"-XX:SharedArchiveFile={JSA}"]


def metric_names(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return [(m["name"], m["unit"]) for m in spec["per_layer" if trace else "end_to_end"]]


# Layer metrics a workload does not exercise read 0; any other missing
# figure is a harness error.
APPLIES = {
    "enrich_drain": ("io.append", "io.records_out", "io.bytes_out", "mb.", "dsl.",
                     "engine.", "self.setup", "self.timed", "self.mb.", "self.io.append",
                     "trace."),
    "upsert_serve": ("io.source_lag", "gen.", "mb.", "dsl.source", "state.", "engine.",
                     "self.setup", "self.timed", "self.mb.", "self.state.", "self.http.",
                     "self.gen.", "trace."),
    "batch_ops": ("queries.", "engine.", "self.setup", "self.timed", "self.query.",
                  "trace."),
}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["enrich_drain", "upsert_serve", "batch_ops"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("run from the repository root: the program's sources are not here")
    launch_ms = int(time.time() * 1000)
    cp, jvm_opts = build()

    import checks
    import inputs

    work = os.path.join(SCRATCH, a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    run_id = f"{a.workload}-{a.seed}-{os.getpid()}-{launch_ms}"

    # set-up, part 1: the inputs, built three times; the median counts
    builds, spans = [], []
    for i in range(3):
        target = os.path.join(work, "inputs" if i == 2 else f"inputs.{i}")
        t0 = time.time_ns()
        manifest = inputs.build(a.workload, target, a.seed, a.seconds)
        t1 = time.time_ns()
        builds.append((t1 - t0) / 1e9)
        spans.append((t0, t1))
        if i < 2:
            shutil.rmtree(target)

    # set-up, part 2 and the timed passes: the harness JVM
    java_launch_ms = int(time.time() * 1000)
    cmd = java_cmd(cp, jvm_opts, JVM_BY_WORKLOAD.get(a.workload, HEAP),
                   "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                   "--trace", str(a.trace), "--dir", work, "--run-id", run_id,
                   "--launch-ms", str(java_launch_ms))
    with open(os.path.join(work, "jvm.log"), "w") as log:
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, cwd=ROOT, env=env)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"harness JVM timed out, see {work}/jvm.log", 4)
    if rc != 0:
        fail(f"harness JVM exited {rc}, see {work}/jvm.log", 4)
    with open(os.path.join(work, "result.json")) as f:
        res = json.load(f)
    got = res["metrics"]
    got["setup_s"] = statistics.median(builds) + got["setup_jvm_s"]

    if a.trace:
        with open(os.path.join(work, "trace.jsonl"), "a") as f:
            for i, (t0, t1) in enumerate(spans):
                f.write(json.dumps({"run_id": run_id, "id": 10**9 + i, "parent": 0,
                                    "name": "setup.input_build",
                                    "start_us": t0 // 1000, "end_us": t1 // 1000}) + "\n")
        got["self.setup.input_build.s"] = sum(builds)

    checked, mismatches = checks.check(a.workload, work, manifest)
    attempted = int(res["attempted"]) + checked
    failed = int(res["failed"]) + mismatches

    metrics = {}
    for name, unit in metric_names(a.trace):
        v = got.get(name)
        if v is None:
            if a.trace and not name.startswith(APPLIES[a.workload]):
                v = 0.0
            else:
                fail(f"harness reported no {name} for {a.workload}", 5)
        metrics[name] = {"value": v, "unit": unit}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
