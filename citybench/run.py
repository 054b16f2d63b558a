#!/usr/bin/env python3
"""City benchmark: seeded precompute, point-lookup and curation workloads
driven through the graft engine's public operators.

Run from the root of a checkout:

    python3 citybench/run.py --workload precompute|lookup|curate \
        --seed N --seconds S --trace 0|1

The first run compiles the engine and the benchmark with sbt (offline) and
caches the classpath under citybench/target; later runs start the JVM
directly. Spark runs in local mode with one worker thread per core inside
that one JVM. The last stdout line is the JSON result; the exit code is
nonzero when any output check failed.

    python3 citybench/selftest.py    # the benchmark's own test, tiny inputs
"""
import argparse
import hashlib
import os
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "classpath.txt")
STAMP = os.path.join(TARGET, "classpath.stamp")
OUT = os.path.join(HERE, "out")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"citybench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every file the build reads, so an edit triggers a rebuild."""
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                 os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        for d, dirs, files in sorted(os.walk(base)):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(p[len(ROOT):].encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    for p in (os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")):
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile with sbt and cache the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("the engine's sources are missing: run from the root of a full checkout")
    stamp = source_stamp()
    if os.path.isfile(CLASSPATH) and os.path.isfile(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == stamp:
                with open(CLASSPATH) as fh:
                    return fh.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    for flag in ("-Dsbt.offline=true", "-Dsbt.override.build.repos=true",
                 "-Dsbt.server.autostart=false"):
        if flag.split("=")[0] not in opts:
            opts += " " + flag
    env["SBT_OPTS"] = opts.strip()
    t0 = time.time()
    try:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True,
            text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or ":" not in lines[-1] or lines[-1].startswith("["):
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    os.makedirs(TARGET, exist_ok=True)
    with open(CLASSPATH, "w") as fh:
        fh.write(cp)
    with open(STAMP, "w") as fh:
        fh.write(stamp)
    print(f"[citybench] built in {time.time() - t0:.1f} s", file=sys.stderr)
    return cp


def java_command(cp, args):
    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", "-Xmx3g", "-XX:+UseG1GC", f"-Djava.io.tmpdir={tmp}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
            + opens + ["-cp", cp, "citybench.Main"] + args)


def run_java(cp, args, timeout=RUN_TIMEOUT_S):
    """Run the benchmark JVM; its stdout passes through. Returns the exit code."""
    p = subprocess.Popen(java_command(cp, args), cwd=ROOT, stdin=subprocess.DEVNULL)

    def stop(signum, _frame):
        p.kill()
        p.wait()
        sys.exit(128 + signum)

    for s in (signal.SIGTERM, signal.SIGINT):
        signal.signal(s, stop)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        fail(f"run exceeded {timeout} s", code=3)
    finally:
        if p.poll() is None:
            p.kill()
            p.wait()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["precompute", "lookup", "curate"])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["full", "tiny"], default="full")
    a = ap.parse_args()
    cp = build()
    sys.stdout.flush()
    sys.exit(run_java(cp, ["--workload", a.workload, "--seed", str(a.seed),
                           "--seconds", str(a.seconds), "--trace", str(a.trace),
                           "--size", a.size, "--out", OUT]))


if __name__ == "__main__":
    main()
