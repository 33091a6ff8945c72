#!/usr/bin/env python3
"""Benchmark command: build, run one workload once, check its outputs.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first call builds the engine and the
harness from source with sbt (into the usual target/ directories; the
exported classpath is kept under .bench_build/). Each call then:

  1. generates the seeded inputs (producer CSV files; query order),
  2. starts one JVM running perfbench.Main on the shipped session,
  3. checks every output (query dumps against stored oracle hashes,
     producer sink against the generator's counts and checksum),
  4. prints a summary and, as the last line, one JSON object with
     `correct`, `attempted`, `failed` and `metrics` (the end-to-end
     metrics of BENCHMARK.json, or with --trace 1 its per-layer metrics).

It exits non-zero when an output check fails or the run breaks. Scratch
files live under .bench_work/ and are removed at the end; a traced run's
record and spans are kept in .bench_work/traces/.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen_producer  # noqa: E402

WORKLOADS = ("producer", "queries")

# producer inputs: a backlog to catch up on, then an open-loop tail of
# BURSTS bursts of BURST_SIZE files spread evenly over --seconds
BACKLOG_FILES, BACKLOG_ROWS = 3, 20000
BURSTS, BURST_SIZE, BURST_ROWS = 7, 3, 500

JVM_TIMEOUT_S = 170
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] error: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp(root):
    """Hash of every build input's path, size and mtime."""
    inputs = [os.path.join(root, "build.sbt"), os.path.join(root, "perfbench", "build.sbt")]
    for d in ("project", os.path.join("perfbench", "project")):
        inputs += glob.glob(os.path.join(root, d, "*.properties"))
        inputs += glob.glob(os.path.join(root, d, "*.sbt"))
    for d in (os.path.join("src", "main"), os.path.join("perfbench", "src")):
        for base, _, files in os.walk(os.path.join(root, d)):
            inputs += [os.path.join(base, f) for f in files]
    h = hashlib.sha256()
    for fp in sorted(inputs):
        if os.path.isfile(fp):
            st = os.stat(fp)
            h.update(f"{fp}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build(root):
    """Compile engine + harness with sbt once per source state; return the classpath."""
    out = os.path.join(root, ".bench_build")
    os.makedirs(out, exist_ok=True)
    stamp = source_stamp(root)
    cp_file, stamp_file = os.path.join(out, "classpath.txt"), os.path.join(out, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["sbt", "--batch", "-J-XX:-UsePerfData", f"-J-Djava.io.tmpdir={tmp}",
           "-Dsbt.server.autostart=false", "-Dsbt.log.noformat=true",
           "-Dsbt.override.build.repos=true",
           "-Dsbt.offline=true", "export perfbench/Runtime/fullClasspath"]
    print("[perfbench] building engine and harness with sbt", file=sys.stderr)
    p = subprocess.run(cmd, cwd=os.path.join(root, "perfbench"), env=env,
                       stdin=subprocess.DEVNULL, capture_output=True, text=True, timeout=840)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-2000:])
        fail("sbt build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(os.path.join(out, "stamp"), "w") as f:
        f.write(stamp)
    return cp


def run_jvm(root, cp, work, args, inputs):
    cores = len(os.sched_getaffinity(0))  # what `nproc` reports
    cmd = ["java", *[x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           "-Xmx4g", "-XX:+UseParallelGC", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
           "-cp", cp, "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed), "--trace", str(args.trace),
           "--work", work, "--data", os.path.join(HERE, "data"), "--cores", str(cores),
           "--inputs", inputs, "--burst-size", str(BURST_SIZE),
           "--burst-interval-ms", str(args.seconds * 1000 // BURSTS)]
    # Spark's shuffle scratch (spark.local.dir) goes under the run's own
    # directory: a run writes only inside its checkout. The session's
    # default would be /dev/shm where writable, so shuffle-file create and
    # delete cost lands on the checkout's filesystem instead of tmpfs.
    env = dict(os.environ, GRAFT_LOCAL_DIR=os.path.join(work, "spark-local"))
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    log = open(os.path.join(work, "jvm.log"), "w")
    p = subprocess.Popen(cmd, cwd=work, env=env, stdin=subprocess.DEVNULL, stdout=log,
                         stderr=subprocess.STDOUT, start_new_session=True)
    try:
        rc = p.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        rc = "timeout"
    finally:
        log.close()
    if rc != 0:
        sys.stderr.write(open(os.path.join(work, "jvm.log"), errors="replace").read()[-4000:])
        return None
    return json.load(open(os.path.join(work, "record.json")))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        fail("run from the root of a checkout of the engine (build.sbt, src/ missing)")
    spec = json.load(open(os.path.join(root, "BENCHMARK.json")))

    cp = build(root)
    work = os.path.join(root, ".bench_work", f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        inputs = os.path.join(work, "inputs")
        expected = None
        if args.workload == "producer":
            expected = gen_producer.generate(inputs, args.seed, BACKLOG_FILES, BACKLOG_ROWS,
                                             BURSTS * BURST_SIZE, BURST_ROWS)
        t0 = time.time()
        record = run_jvm(root, cp, work, args, inputs)
        if record is None:
            fail("benchmark JVM failed")
        if args.workload == "producer":
            verdict = checks.producer(record, expected)
        else:
            verdict = checks.queries(record, os.path.join(work, "dumps"),
                                     os.path.join(HERE, "expected_queries.json"))
        summary = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
                   "run_s": round(time.time() - t0, 3), **verdict["summary"]}
        print("[perfbench] summary " + json.dumps(summary, sort_keys=True))
        for problem in verdict["problems"]:
            print(f"[perfbench] check failed: {problem}")
        names = spec["per_layer"] if args.trace else spec["end_to_end"]
        metrics = {}
        for m in names:
            v = record["metrics"].get(m["name"])
            if v is None and args.trace:
                v = 0.0  # a layer this workload does not exercise
            if v is None:
                fail(f"metric {m['name']} missing from the run record")
            metrics[m["name"]] = {"value": v, "unit": m["unit"]}
        print(json.dumps({"correct": not verdict["problems"],
                          "attempted": verdict["attempted"], "failed": verdict["failed"],
                          "metrics": metrics}))
        sys.exit(1 if verdict["problems"] else 0)
    finally:
        if args.trace:  # a traced run's record and spans outlive its scratch
            traces = os.path.join(root, ".bench_work", "traces")
            os.makedirs(traces, exist_ok=True)
            for f in ("record.json", "spans.jsonl"):
                if os.path.exists(os.path.join(work, f)):
                    shutil.copy(os.path.join(work, f),
                                os.path.join(traces, f"{args.workload}-{args.seed}.{f}"))
        if not os.environ.get("PERFBENCH_KEEP"):
            shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
