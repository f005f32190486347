#!/usr/bin/env python3
"""FAST ingest benchmark entry point.

    python3 perfbench/run.py --workload <fast_dump|viaf_heavy|delta_merge> \
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the engine and the benchmark from
source with sbt on first use (and whenever a source file changes), then
runs one JVM. Every file it writes stays under perfbench/out and
perfbench's build directories. The last stdout line is the result JSON.
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
CLASSPATH = os.path.join(HERE, "target", "classpath.txt")
STAMP = os.path.join(OUT, "build.stamp")
HEAP = "3g"
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def digest(roots, files=()):
    """sha256 over the given files and every file under the given roots."""
    h = hashlib.sha256()
    files = list(files)
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def sources_digest():
    return digest([os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")],
                  [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")])


def run_group(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail("timed out after %d s: %s" % (timeout, " ".join(cmd[:3])))
    return p.returncode, out


def build():
    digest = sources_digest()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read() == digest:
                return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    # resolve through ~/.sbt/repositories when it exists, as the engine's
    # own offline build does
    opts = env.get("SBT_OPTS", "")
    if (os.path.isfile(os.path.expanduser("~/.sbt/repositories"))
            and "sbt.override.build.repos" not in opts):
        env["SBT_OPTS"] = (opts + " -Dsbt.override.build.repos=true").strip()
    rc, _ = run_group(["sbt", "-batch", "-Dsbt.server.autostart=false", "writeClasspath"],
                      BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=sys.stderr)
    if rc != 0 or not os.path.exists(CLASSPATH):
        fail("build failed (sbt exit %s)" % rc)
    os.makedirs(OUT, exist_ok=True)
    with open(STAMP, "w") as fh:
        fh.write(digest)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    a = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("engine sources not found next to perfbench/ (run from a checkout root)")
    build()
    with open(CLASSPATH) as fh:
        cp = fh.read().strip()
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(OUT, d), exist_ok=True)
    cmd = ["java", "-Xms" + HEAP, "-Xmx" + HEAP]
    for o in ADD_OPENS:
        cmd += ["--add-opens", o + "=ALL-UNNAMED"]
    cmd += [
        "-Djava.io.tmpdir=" + os.path.join(OUT, "tmp"),
        "-Dspark.local.dir=" + os.path.join(OUT, "spark-local"),
        "-Dspark.sql.warehouse.dir=" + os.path.join(OUT, "warehouse"),
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
        "-cp", cp, "graft.perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", a.trace, "--out", OUT,
        # a cached corpus made by other generator sources is written again
        "--gen", digest([os.path.join(HERE, "src", "main")])[:16],
    ]
    rc, out = run_group(cmd, RUN_TIMEOUT_S, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    lines = out.rstrip("\n").split("\n") if out else []
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    for line in lines[:-1] if result is not None else lines:
        print(line)
    if rc != 0 or result is None:
        fail("benchmark JVM failed (exit %s)" % rc)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
