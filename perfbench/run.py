#!/usr/bin/env python3
"""graft benchmark: runs one workload and prints its metrics.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 10 --trace 0

Run from the root of a graft checkout. The first run compiles the program
(`src/main/scala`) together with the benchmark's JVM side
(`perfbench/jvm`) against the Spark jars of `$SPARK_HOME`; later runs
reuse the classes while the sources are unchanged. Everything a run
writes stays under the build directory (`$CARGO_TARGET_DIR`, default
`.bench_build`). The last stdout line is the result object; the line
before it has every metric the run computed, and the full record (raw
samples, spans, host noise, query order) goes to
`<build>/perfbench/runs/`.
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

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402
import host  # noqa: E402
import summary  # noqa: E402

WORKLOADS = ("relational", "stream_ingest")
RUN_LIMIT_S = 170
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        fail("no Spark installation found (set SPARK_HOME)")
    return sorted(os.path.join(jars, j) for j in os.listdir(jars)
                  if j.endswith(".jar"))


def sources(*dirs):
    out = []
    for d in dirs:
        for base, _, files in os.walk(d):
            out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build(srcs, jars, build_dir):
    """Compile when the sources changed since the last build."""
    h = hashlib.sha256()
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = os.path.join(build_dir, "classes.sha256")
    classes = os.path.join(build_dir, "classes")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    cp = os.pathsep.join(jars)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-classpath", cp, "-nowarn", "-d", classes] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail("compilation failed")
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return classes


def run_jvm(classes, jars, work, args, deadline):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed set of JIT compiler threads, so that the CPU of the ones
    # the benchmark leaves out of an operation's CPU time never exits
    cmd = (["java", "-Xmx3g", "-XX:-UsePerfData",
            "-XX:-UseDynamicNumberOfCompilerThreads", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false"] +
           [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS] +
           ["-cp", os.pathsep.join([classes] + jars), "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work])
    if args.inject:
        cmd += ["--inject", args.inject]
    with open(os.path.join(work, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:  # also when this script is interrupted or terminated
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"benchmark JVM failed ({rc})")
    with open(os.path.join(work, "jvm.json")) as f:
        return json.load(f)


def main(argv=None):
    # turn SIGTERM into an exit, so the JVM is stopped on the way out
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # fault injection for the self-tests: query-throws, drop-row
    ap.add_argument("--inject", default="", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)

    root = os.getcwd()
    src = os.path.join(root, "src", "main", "scala")
    bench = os.path.join(root, "perfbench", "jvm")
    if not os.path.isdir(src) or not os.path.isdir(bench):
        fail("run from the root of a graft checkout")
    jars = spark_jars()
    build_dir = os.path.join(
        root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")
    os.makedirs(build_dir, exist_ok=True)
    classes = build(sources(src, bench), jars, build_dir)

    deadline = time.time() + RUN_LIMIT_S
    work = os.path.join(build_dir, "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        before = host.snapshot()
        t0 = time.time()
        jvm = run_jvm(classes, jars, work, args, deadline)
        noise = host.noise(before, host.snapshot())
        noise["jvm_s"] = time.time() - t0
        if args.workload == "stream_ingest":
            check = None
        else:
            names = sorted({o["kind"] for o in jvm["ops"]})
            check = checks.check_batch(
                os.path.join(work, "data"), os.path.join(work, "out"), names,
                jvm["oracle_sql"])
        noise["check_s"] = time.time() - t0 - noise["jvm_s"]
    finally:
        shutil.rmtree(work, ignore_errors=True)

    result = summary.summarize(jvm, check)
    record = {"args": vars(args), "host_noise": noise, "checks": check,
              "result": result, "jvm": jvm}
    runs = os.path.join(build_dir, "runs")
    os.makedirs(runs, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time())}.json"
    with open(os.path.join(runs, name), "w") as f:
        json.dump(record, f)
    print(json.dumps({"all_metrics": {
        n: {"value": v, "unit": summary.unit(n)}
        for n, v in result["all"].items()}, "failures": result["failures"],
        "host_noise": noise}))
    print(json.dumps({k: result[k] for k in
                      ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()
