#!/usr/bin/env python3
"""Open-loop streaming-sink benchmark.

Builds the harness in this directory together with the program's sources
(../src/main/scala) with sbt, once per source state, then runs one workload
in a fresh JVM:

    python3 streambench/run.py --workload upsert_ticks --seed 1 --seconds 15 --trace 0
    python3 streambench/run.py --workload all --seed 1        # every workload

The last line of standard output is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`. With `--trace 0` the metrics
are the end-to-end metrics of BENCHMARK.json, with `--trace 1` its per-layer
metrics. Run from the root of a checkout; everything it writes stays under
this directory. See README.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "classpath.txt")
STAMP = os.path.join(TARGET, "streambench.stamp")
WORKLOADS = ["upsert_ticks", "curate_text", "hot_updates"]
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 175

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print("streambench: " + msg, file=sys.stderr)
    sys.exit(code)


def source_hash():
    h = hashlib.sha256()
    roots = [PROGRAM_SRC, os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names
                      if n.endswith((".scala", ".java"))]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    digest = source_hash()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                return
    print("streambench: building (sbt compile)", file=sys.stderr)
    tmp = os.path.join(TARGET, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Djava.io.tmpdir=" + tmp).strip()
    try:
        res = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "writeClasspath"],
            cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S, env=env)
    except subprocess.TimeoutExpired:
        fail("build timed out", 1)
    if res.returncode != 0:
        sys.stderr.write(res.stdout.decode(errors="replace")[-4000:])
        fail("build failed", 1)
    with open(STAMP, "w") as fh:
        fh.write(digest)


def metric_names(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def cpu_times():
    """Aggregate CPU jiffies from /proc/stat, or None where it is missing."""
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def run_one(workload, seed, seconds, trace):
    """Run one workload in a fresh JVM. Returns (exit code, result dict)."""
    work = os.path.join(HERE, ".work", "run-%d" % os.getpid())
    out = os.path.join(HERE, ".out")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    with open(CLASSPATH) as fh:
        cp = fh.read().strip()
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-Xmx3g", "-XX:+UseG1GC",
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "streambench.Main",
            "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", "1" if trace else "0",
            "--work", work, "--out", out]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    cpu0 = cpu_times()
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                            stdin=subprocess.DEVNULL, env=env)
    try:
        stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("%s run timed out after %d s" % (workload, RUN_TIMEOUT_S), 1)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    cpu1 = cpu_times()
    if cpu0 and cpu1 and len(cpu0) > 7:
        # steal: time the hypervisor gave this machine's CPUs to others, a
        # sign that co-tenant load slowed the run
        d = [b - a for a, b in zip(cpu0, cpu1)]
        print("streambench: %s cpu busy %.0f%%, steal %.1f%% during the run"
              % (workload, 100.0 * (sum(d) - d[3] - d[4]) / max(1, sum(d)),
                 100.0 * d[7] / max(1, sum(d))), file=sys.stderr)
    lines = stdout.decode(errors="replace").splitlines()
    if proc.returncode != 0:
        sys.stdout.write("\n".join(lines) + "\n")
        return proc.returncode, None
    if not lines or not lines[-1].startswith("{"):
        sys.stdout.write("\n".join(lines) + "\n")
        fail("%s printed no result" % workload, 1)
    for line in lines[:-1]:
        print(line)
    result = json.loads(lines[-1])
    wanted = metric_names(trace)
    missing = [n for n in wanted if n not in result["metrics"]]
    if missing:
        fail("%s result lacks metrics %s" % (workload, missing), 1)
    result["metrics"] = {n: result["metrics"][n] for n in wanted}
    return 0, result


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[1])
    ap.add_argument("--workload", required=True,
                    choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    # a terminated run stops its JVM too (see the finally in run_one)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join(PROGRAM_SRC, "graft", "streaming",
                                       "SinkPipeline.scala")):
        fail("the program's sources (src/main/scala) are not in this "
             "checkout; nothing to benchmark")
    if not os.path.isfile(os.path.join(ROOT, "BENCHMARK.json")):
        fail("BENCHMARK.json is missing from the checkout root")
    if "SPARK_HOME" not in os.environ:
        submit = shutil.which("spark-submit")
        if submit is None:
            fail("set SPARK_HOME to the Spark distribution")
        os.environ["SPARK_HOME"] = os.path.dirname(os.path.dirname(
            os.path.realpath(submit)))
    build()
    if args.workload != "all":
        code, result = run_one(args.workload, args.seed, args.seconds,
                               args.trace == 1)
        if result is not None:
            print(json.dumps(result))
        sys.exit(code)
    # every workload in turn, then one combined result line
    combined = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for w in WORKLOADS:
        code, result = run_one(w, args.seed, args.seconds, args.trace == 1)
        if result is None:
            sys.exit(code)
        print(json.dumps(result))
        combined["correct"] = combined["correct"] and result["correct"]
        combined["attempted"] += result["attempted"]
        combined["failed"] += result["failed"]
        for k, v in result["metrics"].items():
            combined["metrics"][w + "." + k] = v
    print(json.dumps(combined))


if __name__ == "__main__":
    main()
