#!/usr/bin/env python3
"""Runs one graft benchmark workload and prints its metrics.

Usage, from the root of a graft checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

The first run builds graft and the benchmark from the checkout's sources
with sbt (perfbench/build.sbt); later runs reuse the build until a source
file changes. The last line of standard output is one JSON object with
the keys correct, attempted, failed and metrics. Build and Spark logs go
to standard error. Outputs of a run go to perfbench/out/.
"""

import argparse
import hashlib
import os
import subprocess
import sys

WORKLOADS = ("bulk_import", "incremental_merge", "curate_dedup")
BENCH = "perfbench"
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170
# No hsperfdata files: the JVMs write only inside the checkout.
JVM_OPTS = ["-Xmx3g", "-XX:-UsePerfData"]

# Spark on JDK 17 needs these when a session starts outside spark-submit;
# the same list the project's own build passes to forked runs.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files(root):
    """Every file the build reads: graft's sources and build definition,
    and the benchmark's own."""
    roots = ["src/main", f"{BENCH}/src/main"]
    singles = ["build.sbt", "project/build.properties",
               f"{BENCH}/build.sbt", f"{BENCH}/project/build.properties"]
    files = [os.path.join(root, s) for s in singles]
    project = os.path.join(root, "project")
    files += [os.path.join(project, f) for f in sorted(os.listdir(project))
              if f.endswith((".sbt", ".scala"))]
    for r in roots:
        for dirpath, dirnames, filenames in os.walk(os.path.join(root, r)):
            dirnames.sort()
            files += [os.path.join(dirpath, f) for f in sorted(filenames)]
    return files


def stamp(root):
    h = hashlib.sha256()
    for f in source_files(root):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(root, tmp):
    """Returns the runtime classpath, compiling first if any source changed."""
    target = os.path.join(root, BENCH, "target")
    cp_file = os.path.join(target, "classpath.txt")
    stamp_file = os.path.join(target, "source-stamp.txt")
    want = stamp(root)
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == want:
                with open(cp_file) as fh:
                    return fh.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "").split()
    opts += ["-Dsbt.offline=true", f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData"]
    env["SBT_OPTS"] = " ".join(opts)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"]
    try:
        done = subprocess.run(cmd, cwd=os.path.join(root, BENCH), env=env,
                              stdout=sys.stderr, stderr=sys.stderr,
                              stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"build did not finish within {BUILD_TIMEOUT_S} s")
    if done.returncode != 0 or not os.path.exists(cp_file):
        fail(f"build failed (sbt exit {done.returncode})")
    with open(stamp_file, "w") as fh:
        fh.write(want + "\n")
    with open(cp_file) as fh:
        return fh.read().strip()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    if a.seconds < 1:
        fail("--seconds must be at least 1")

    root = os.getcwd()
    for need in ("build.sbt", "src/main/scala/graft", f"{BENCH}/build.sbt"):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"{need} not found: run from the root of a graft checkout")

    out = os.path.join(root, BENCH, "out")
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    classpath = build(root, tmp)
    cmd = (["java"] + JVM_OPTS
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false",
              "-Dspark.sql.session.timeZone=UTC",
              f"-Djava.io.tmpdir={tmp}",
              "-Dlog4j2.configurationFile="
              + os.path.join(root, BENCH, "log4j2.properties"),
              "-cp", classpath, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", a.trace, "--out", out])
    try:
        done = subprocess.run(cmd, cwd=root, stdin=subprocess.DEVNULL,
                              timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"run did not finish within {RUN_TIMEOUT_S} s")
    sys.exit(done.returncode)


if __name__ == "__main__":
    main()
