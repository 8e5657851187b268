#!/usr/bin/env python3
"""Run one graft benchmark workload and print its result as the last line.

    python3 perfbench/run.py --workload curate|ingest --seed N \
        --seconds S --trace 0|1

Run from the repository root. The first run builds the engine together
with the benchmark (sbt, offline) into `.bench_build/`; later runs reuse
the build while the sources are unchanged. The JVM runs the workload on
`local[nproc]` with one client thread and prints a detail line (every
metric with its unit, the output checks and the run context) followed by
the result line this script re-emits last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

Exits non-zero, without a result line, when the engine sources or the
toolchain are missing, the build fails, or the workload does not finish.
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
BUILD = os.path.join(ROOT, ".bench_build")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src", "main", "scala")
WORKLOADS = ("curate", "ingest")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation found (set SPARK_HOME)")
    return home


def source_digest():
    """sha256 over every source and build file the benchmark compiles."""
    h = hashlib.sha256()
    files = []
    for base in (ENGINE_SRC, BENCH_SRC):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    files += [os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties")]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(env):
    """Compile engine + benchmark once per source digest; return classpath."""
    digest = source_digest()
    stamp = os.path.join(BUILD, "classpath.json")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            cached = json.load(fh)
        if cached.get("digest") == digest:
            return cached["classpath"], digest
    if not shutil.which("sbt"):
        fail("sbt not found on PATH")
    log("building engine + benchmark (sbt compile)")
    t0 = time.time()
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=BUILD_TIMEOUT_S)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        sys.stderr.write(out.stdout[-6000:])
        fail("build failed", 3)
    classpath = lines[-1].strip()
    if "perfbench" not in classpath:
        sys.stderr.write(out.stdout[-6000:])
        fail("build did not report a classpath", 3)
    with open(stamp, "w") as fh:
        json.dump({"digest": digest, "classpath": classpath}, fh)
    log(f"built in {time.time() - t0:.1f} s")
    return classpath, digest


def git_commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             stdout=subprocess.PIPE,
                             stderr=subprocess.DEVNULL, text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else ""
    except (OSError, subprocess.SubprocessError):
        return ""


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail("engine sources (src/main/scala/graft) not found next to "
             "perfbench/; run from a full checkout")
    env = dict(os.environ)
    env["SPARK_HOME"] = spark_home()
    os.makedirs(BUILD, exist_ok=True)
    classpath, digest = build(env)

    work = os.path.join(BUILD, "work", f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    nproc = len(os.sched_getaffinity(0))
    cmd = (["java", "-Xmx3g", "-XX:ReservedCodeCacheSize=512m",
            f"-Djava.io.tmpdir={tmp}",
            "-Dlog4j2.configurationFile=" +
            os.path.join(HERE, "log4j2.properties")]
           + [a for p in JDK_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--workdir", work, "--nproc", str(nproc),
              "--commit", git_commit() or "-", "--source", digest])
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                            text=True, start_new_session=True)
    result = None
    try:
        deadline = time.time() + RUN_TIMEOUT_S

        def on_alarm(*_):
            raise TimeoutError()
        signal.signal(signal.SIGALRM, on_alarm)
        signal.alarm(max(1, int(deadline - time.time())))
        for line in proc.stdout:
            if line.startswith("RESULT "):
                result = json.loads(line[len("RESULT "):])
            else:
                sys.stdout.write(line)
                sys.stdout.flush()
        rc = proc.wait()
        signal.alarm(0)
    except TimeoutError:
        log(f"workload did not finish within {RUN_TIMEOUT_S} s")
        rc = -1
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or result is None:
        fail(f"workload exited with code {rc} and no result", 1)
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
