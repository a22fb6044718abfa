#!/usr/bin/env python3
"""Louvain benchmark driver.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. The first run builds the
benchmark package (perfbench/build.sbt: the library's sources plus the
benchmark's) with sbt into .bench_build/; later runs reuse that build
while the sources are unchanged. Each run starts one JVM, forwards its
report lines, and prints the result JSON as the last stdout line.
Exits non-zero, without a result line, when the sources are missing,
the build fails, or the result does not name exactly the metrics
BENCHMARK.json lists; exits non-zero after the result line when a job
or an output check failed.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import threading

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800
HEAP = "2g"
# Spark on JDK 17 outside spark-submit needs these opens.
OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every file the build reads from the checkout."""
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (LIB_SRC, os.path.join(HERE, "src", "main")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath():
    """Build when the sources changed; return the runtime classpath."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            old_stamp, cp = fh.read().split("\n", 1)
        if old_stamp == stamp:
            return cp.strip()
    os.makedirs(BUILD, exist_ok=True)
    print("perfbench: building (sbt compile)", file=sys.stderr, flush=True)
    try:
        out = subprocess.run(
            ["sbt", "-batch", "-Dsbt.server.autostart=false", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
            text=True, timeout=BUILD_TIMEOUT_S)
    except (OSError, subprocess.TimeoutExpired) as e:
        die(f"build failed: {e}")
    lines = [l for l in out.stdout.splitlines() if l.strip()]
    if out.returncode != 0 or not lines or not lines[-1].startswith("/"):
        sys.stderr.write(out.stdout[-4000:])
        die("build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(stamp + "\n" + cp + "\n")
    return cp


def expected_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return spec, {m["name"]: m["unit"]
                  for m in spec["per_layer" if trace else "end_to_end"]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(LIB_SRC, "graft")):
        die(f"library sources not found under {LIB_SRC}")
    spec, want = expected_metrics(a.trace)
    if a.workload not in {w["name"] for w in spec["workloads"]}:
        die(f"unknown workload {a.workload}")
    cp = classpath()

    work = os.path.join(BUILD, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java"] + [x for p in OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={work}/tmp",
        f"-Dlog4j2.configurationFile={HERE}/log4j2.properties",
        "-cp", cp, "graftbench.Main",
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    timer = threading.Timer(JVM_TIMEOUT_S, proc.kill)
    timer.start()
    last = None
    try:
        for line in proc.stdout:
            if last is not None:
                print(last, flush=True)
            last = line.rstrip("\n")
        code = proc.wait()
    finally:
        timer.cancel()
        if proc.poll() is None:
            proc.kill()
        proc.wait()
        trace = os.path.join(work, "trace.json")
        if os.path.exists(trace):
            os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
            shutil.copy(trace, os.path.join(
                BUILD, "traces", f"{a.workload}-seed{a.seed}.json"))
        shutil.rmtree(work, ignore_errors=True)
    if code < 0:
        die(f"benchmark JVM killed by signal {-code} (limit {JVM_TIMEOUT_S} s)")

    try:
        result = json.loads(last or "")
    except ValueError:
        if last:
            print(last)
        die(f"no result line (JVM exit code {code})")
    got = {k: v.get("unit") for k, v in result.get("metrics", {}).items()}
    if got != want:
        die(f"result metrics differ from BENCHMARK.json: "
            f"missing {sorted(set(want) - set(got))}, "
            f"extra {sorted(set(got) - set(want))}")
    print(json.dumps(result), flush=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
