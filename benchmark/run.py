#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 benchmark/run.py --workload <serve_query|mutate_mixed> \
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run compiles the engine's sources
together with the harness (`sbt compile` in this directory, offline) and
stamps the build with a hash of every source it compiled; later runs reuse
it until a source changes. The harness then runs in a plain `java` process
whose working, temporary and Spark local directories all live under
benchmark/work/, which is removed afterwards. The run record (environment
stamp, latency summaries, spans when tracing) is written to
benchmark/results/.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "bench-build.sha256")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[bench] {msg}", file=sys.stderr, flush=True)


def source_hash():
    """sha256 over every file the build compiles, with its relative path."""
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(digest):
    if os.path.isdir(CLASSES) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   f"-Dsbt.repository.config={os.path.expanduser('~/.sbt/repositories')} "
                   "-Dsbt.offline=true -Xmx2g")
    log("compiling engine + harness (sbt compile)")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "compile"],
        cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
        timeout=BUILD_TIMEOUT_S)
    if proc.returncode != 0 or not os.path.isdir(CLASSES):
        sys.exit(f"[bench] build failed (sbt exit {proc.returncode})")
    with open(STAMP, "w") as fh:
        fh.write(digest)
    log(f"build done in {time.time() - t0:.1f}s")


def spark_home():
    """The Spark install whose jars are the engine's classpath."""
    if not os.environ.get("SPARK_HOME"):
        sys.exit("[bench] set SPARK_HOME: Spark's jars are the engine's classpath")
    return os.environ["SPARK_HOME"]


def git_head():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["serve_query", "mutate_mixed"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ENGINE_SRC, "scala", "graft")):
        sys.exit(f"[bench] engine sources not found under {ENGINE_SRC}: "
                 "run from a full checkout of the repository")
    spark_jars = os.path.join(spark_home(), "jars", "*")
    digest = source_hash()
    build(digest)

    work = os.path.join(HERE, "work", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    results = os.path.join(HERE, "results")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(results, exist_ok=True)
    record = os.path.join(results, f"{a.workload}-seed{a.seed}-trace{a.trace}.json")

    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java] + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS] + [
        "-Xmx3g", "-XX:-UsePerfData",  # no hsperfdata file outside the checkout
        "-Dspark.ui.enabled=false",
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        f"-Dbench.git_head={git_head()}",
        f"-Dbench.source_sha256={digest}",
        "-cp", f"{CLASSES}{os.pathsep}{spark_jars}",
        "bench.Main", "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--work", work, "--record", record]
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    env.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))

    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                            stderr=sys.stderr, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        sys.exit(f"[bench] run exceeded {RUN_TIMEOUT_S}s; killed")
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only succeeds when empty
        except OSError:
            pass
    lines = [ln for ln in out.splitlines() if ln.strip()]
    for ln in lines[:-1]:
        print(ln, file=sys.stderr)
    if proc.returncode != 0 or not lines:
        sys.exit(f"[bench] harness exited {proc.returncode}")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.exit(f"[bench] malformed result line: {lines[-1][:200]}")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
