#!/usr/bin/env python3
"""graft benchmark: one workload per fresh JVM, from a seed.

Usage (from the root of a graft checkout):
    python3 perfbench/run.py --workload <cel_msgs|paged_stream>
        --seed <n> --seconds <s> --trace <0|1>

Builds graft and the harness from source into .bench_build/ (once per
source state), generates the workload's inputs from the seed, runs the
harness JVM at local[nproc], checks every output, and prints one JSON
line last: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end ones, with --trace 1 the per-layer ones.
Exits non-zero on any output mismatch or failure.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
from checks import log  # noqa: E402
import gen  # noqa: E402
from metrics import END_TO_END, PER_LAYER  # noqa: E402

WORKLOADS = ("cel_msgs", "paged_stream")
BUILD = ".bench_build"
JVM_HEAP = "3g"
JVM_TIMEOUT_S = 170
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def spark_jars():
    """The Spark jars: $SPARK_HOME/jars, else the directory build.sbt
    names as unmanagedBase."""
    if "SPARK_HOME" in os.environ:
        d = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        with open("build.sbt") as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        d = m.group(1) if m else ""
    jars = sorted(glob.glob(os.path.join(d, "*.jar")))
    if not jars:
        sys.exit(f"no Spark jars in '{d}' (set SPARK_HOME)")
    return jars


def sources(root):
    main = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "scala/**/*.scala"), recursive=True))
    if not main:
        sys.exit("graft sources (src/main/scala) not found: run from a graft checkout")
    return main + bench


def build(root):
    """Compile graft and the harness with the Scala compiler that ships
    with Spark; skipped when the sources have not changed."""
    srcs = sources(root)
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    classes = os.path.join(root, BUILD, "classes")
    stamp_file = classes + ".stamp"
    if os.path.isdir(classes) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    jars = spark_jars()
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    log(f"compiling {len(srcs)} Scala files")
    t0 = time.monotonic()
    r = subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g",
                        "-cp", os.pathsep.join(compiler),
                        "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
                        "-classpath", os.pathsep.join(jars)] + srcs)
    if r.returncode != 0:
        sys.exit("compilation failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"compiled in {time.monotonic() - t0:.1f}s")
    return classes


def generate(workload, seed, inputs, trace):
    """Generate the inputs; returns the time it took, which leaves out
    the inputs only a traced run reads."""
    t0 = time.monotonic()
    gen.generate(workload, seed, inputs)
    took = time.monotonic() - t0
    if trace:
        for w in gen.TRACED_WRITERS[workload]:
            w(seed, inputs)
    return took


def run_jvm(classes, workload, inputs, out, seconds, trace):
    # no perf-data file: the JVM would write it outside the checkout
    cmd = (["java", "-XX:-UsePerfData", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:+UseParallelGC",
            f"-Djava.io.tmpdir={out}/tmp", "-Dfile.encoding=UTF-8",
            "-Dsun.jnu.encoding=UTF-8", "-Dspark.ui.enabled=false"] + ADD_OPENS +
           ["-cp", os.pathsep.join([classes] + spark_jars()),
            "graft.perfbench.Main", "--workload", workload, "--inputs", inputs,
            "--out", out, "--seconds", str(seconds), "--trace", str(trace)])
    os.makedirs(f"{out}/tmp", exist_ok=True)
    p = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr)
    try:
        rc = p.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        sys.exit("harness JVM timed out")
    if rc != 0:
        sys.exit(f"harness JVM exited with {rc}")
    with open(os.path.join(out, "result.json")) as f:
        return json.load(f)


def geomean(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def op_metrics(throughput, op_seconds):
    """The shared end-to-end shape: a throughput plus the median and
    geometric mean of per-operation times. Every operation repeats once
    per pass, and each counts with its median over the passes."""
    ms = [s * 1000.0 for s in op_seconds]
    return {"throughput_per_s": throughput, "op_p50_ms": statistics.median(ms),
            "op_geomean_ms": geomean(ms)}


def cel_msgs_metrics(res, inputs, out):
    meds = [statistics.median(j["samples"]) for j in res["jobs"]]
    # messages per second through the whole mix, all three tiers
    return op_metrics(res["n_messages"] / sum(meds), meds), {}


def stream_metrics(res, inputs, out):
    s = checks.stream_summary(inputs, out)
    layer = s["per_layer"]
    if "per_layer" in res:
        # the Drizzle scheduling share: batch time the cores spent idle
        busy = res["per_layer"]["exec.task_s"]
        layer["streaming.overhead_share"] = max(0.0, 1.0 - busy / (s["all_batches_s"] * res["cores"]))
    return op_metrics(s["events_per_s"], [ms / 1000.0 for ms in s["median_ms"]]), layer


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    root = os.getcwd()
    classes = build(root)

    work = os.path.join(root, BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    inputs, out = os.path.join(work, "inputs"), os.path.join(work, "out")
    os.makedirs(out)
    try:
        gen_s = generate(a.workload, a.seed, inputs, a.trace)
        log(f"inputs generated in {gen_s:.2f}s")
        res = run_jvm(classes, a.workload, inputs, out, a.seconds, a.trace)
        compute = {"cel_msgs": cel_msgs_metrics, "paged_stream": stream_metrics}[a.workload]
        e2e, layer = compute(res, inputs, out)
        e2e["setup_s"] = gen_s + res["jvm_setup_s"]
        e2e["retained_heap_mb"] = res["retained_heap_mb"]
        attempted, failed = res["attempted"], res["failed"]
        c_att, c_fail = checks.run(a.workload, inputs, out, a.trace)
        attempted += c_att
        failed += c_fail
        if a.trace:
            layer = {**res["per_layer"], **layer}
            # the traced run's own end-to-end values, for the tracing overhead
            print(json.dumps({"traced_end_to_end": e2e}))
            metrics = {m["name"]: {"value": float(layer.get(m["name"], 0.0)), "unit": m["unit"]}
                       for m in PER_LAYER}
        else:
            metrics = {m["name"]: {"value": float(e2e[m["name"]]), "unit": m["unit"]}
                       for m in END_TO_END}
        correct = failed == 0
        print(json.dumps({"correct": correct, "attempted": int(attempted),
                          "failed": int(failed), "metrics": metrics}))
        sys.stdout.flush()
        if not correct:
            sys.exit(1)
    finally:
        if a.trace and os.path.exists(os.path.join(out, "spans.jsonl")):
            traces = os.path.join(root, BUILD, "traces")
            os.makedirs(traces, exist_ok=True)
            shutil.copy(os.path.join(out, "spans.jsonl"),
                        os.path.join(traces, f"{a.workload}-{a.seed}.spans.jsonl"))
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
