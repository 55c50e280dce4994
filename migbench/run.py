#!/usr/bin/env python3
"""Migration benchmark runner.

Run from the root of a checkout of the repository:

    python3 migbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: schema_convert, bulk_copy, sync_low_churn.

The first run in a checkout builds the library and the harness from
source with sbt (the migbench build depends on the root build) and
caches the runtime classpath under migbench/target, keyed by a hash of
every source and build file. Each run then starts one JVM with a fixed
heap. The JVM prints one JSON object as the last line of standard output;
this script passes it through and exits with the JVM's exit code.
"""

import argparse
import hashlib
import os
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
TARGET = os.path.join(BENCH_DIR, "target")
HEAP = "1g"
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

WORKLOADS = ("schema_convert", "bulk_copy", "sync_low_churn")


def fail(msg):
    print(f"migbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file the build reads from the repository, in a stable order."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH_DIR, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH_DIR, "build.sbt"),
             os.path.join(BENCH_DIR, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath():
    """Build if the sources changed since the cached classpath was made."""
    program_src = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(program_src) or not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        fail("library sources not found next to the benchmark; run from a full checkout")
    key = stamp()
    cache = os.path.join(TARGET, "classpath.txt")
    if os.path.isfile(cache):
        with open(cache) as fh:
            cached_key, cp = fh.read().split("\n", 1)
        if cached_key == key and cp.strip():
            return cp.strip()
    try:
        out = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
             "export migbench/Runtime/fullClasspath"],
            cwd=BENCH_DIR, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
            text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    except FileNotFoundError:
        fail("sbt not found on PATH")
    lines = [l for l in out.stdout.splitlines() if l.strip()]
    cp = lines[-1].strip() if lines else ""
    if out.returncode != 0 or cp.startswith("[") or os.pathsep not in cp:
        sys.stderr.write(out.stdout[-4000:])
        fail("build failed")
    os.makedirs(TARGET, exist_ok=True)
    with open(cache, "w") as fh:
        fh.write(key + "\n" + cp)
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    cp = classpath()
    scratch = os.path.join(TARGET, "run")
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Fixed heap. The parallel collector: with G1 on 4 cores the same run
    # repeated spread 15-30% in throughput, with it 3-10%.
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC",
           "-Duser.timezone=UTC",
           f"-Dlog4j2.configurationFile={os.path.join(BENCH_DIR, 'log4j2.properties')}",
           f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={tmp}",
           f"-Dderby.stream.error.file={os.path.join(scratch, 'derby.log')}",
           f"-Dderby.system.home={scratch}",
           # every table's statements stay compiled across rounds
           "-Dderby.language.statementCacheSize=4000"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "migbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace)]
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    proc = subprocess.Popen(cmd, cwd=scratch, env=env, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail("run timed out")
    if proc.returncode != 0:
        fail(f"benchmark JVM exited with {proc.returncode}")
    lines = [l for l in out.splitlines() if l.strip()]
    if not lines or not lines[-1].startswith("{"):
        fail("benchmark JVM printed no result")
    print(lines[-1])


if __name__ == "__main__":
    main()
