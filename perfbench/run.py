#!/usr/bin/env python3
"""Disq-surface benchmark entry point.

    python3 perfbench/run.py --workload scan|region|write --seed N \
        --seconds S --trace 0|1

Run from the repository root. The first run builds the program and the
benchmark driver from source with sbt (offline) into perfbench/target; later
runs reuse the build while the sources are unchanged. The driver JVM runs the
workload on local[4] and prints a detail line and, last, the result object.
Exits non-zero without a result when the build or any step fails.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# Spark 4 on JDK 17 outside spark-submit needs these (same list as the
# program's own build).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fingerprint():
    """Hash of every source and build file the build reads."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, n) for n in sorted(names)
                      if n.endswith((".scala", ".java", ".sbt", ".properties"))]
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Dsbt.log.noformat=true",
            "-Dsbt.server.forcestart=false", "-Dsbt.server.autostart=false"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 "-Dsbt.repository.config=" + repos]
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " " + " ".join(opts)).strip()
    return env


def classpath():
    """Builds when needed; returns the driver's runtime classpath."""
    stamp = os.path.join(TARGET, "classpath-" + fingerprint() + ".txt")
    if os.path.isfile(stamp):
        with open(stamp) as fh:
            return fh.read().strip()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        sys.exit("perfbench: no program sources next to the benchmark; nothing to build")
    print("perfbench: building (first run in this checkout)", file=sys.stderr)
    try:
        p = subprocess.run(["sbt", "--batch", "export perfbench/Runtime/fullClasspath"],
                           cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE,
                           stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S, text=True)
    except subprocess.TimeoutExpired:
        sys.exit("perfbench: build timed out")
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "[error]" in p.stdout:
        sys.stderr.write(p.stdout[-4000:])
        sys.exit("perfbench: build failed")
    cp = lines[-1].strip()
    os.makedirs(TARGET, exist_ok=True)
    with open(stamp, "w") as fh:
        fh.write(cp)
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["scan", "region", "write"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    cp = classpath()
    work = os.path.join(TARGET, "work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cmd = (["java", "-Xmx3g", "-Djava.io.tmpdir=" + work]
           + ["--add-opens=%s=ALL-UNNAMED" % p for p in ADD_OPENS]
           + ["-cp", cp, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", work])
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                            text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit("perfbench: run timed out")
    shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or not lines[-1].startswith("{"):
        sys.stderr.write(out[-4000:])
        sys.exit("perfbench: run failed (exit %d)" % proc.returncode)
    sys.stdout.write("\n".join(lines) + "\n")


if __name__ == "__main__":
    main()
