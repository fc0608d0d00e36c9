#!/usr/bin/env python3
"""Benchmark entry point: builds the program and the benchmark harness
from source (one sbt build in this directory), then runs one workload in
a fresh JVM and relays its output. Run from the repository root:

    python3 perfbench/run.py --workload cdc_daily --seed 1 --seconds 20 --trace 0

The last line of stdout is the result JSON. Extra flags: --record writes
the output digests to perfbench/expected.json instead of checking them.
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
WORK = os.path.join(HERE, "work")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "perfbench.stamp")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_digest():
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")):
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the group on timeout or
    when this script is terminated, and waits for it to end."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)

    def stop(signum, _frame):
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        sys.exit(128 + signum)

    old = {s: signal.signal(s, stop) for s in (signal.SIGTERM, signal.SIGINT)}
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"{cmd[0]} exceeded {timeout}s")
    finally:
        for s, h in old.items():
            signal.signal(s, h)
    return p.returncode, out


def build():
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("program sources (src/main/scala/graft) not found; run from the repository root")
    digest = sources_digest()
    if os.path.isfile(STAMP) and open(STAMP).read() == digest:
        return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx3g")
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    t0 = time.time()
    # sbt's own state and temp files stay in the work directory
    rc, _ = run_bounded(["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
                         f"-Dsbt.global.base={WORK}/sbt-global", f"-Djava.io.tmpdir={tmp}",
                         f"-Djna.tmpdir={tmp}", "-J-XX:-UsePerfData", "compile"], BUILD_TIMEOUT_S, cwd=HERE, env=env,
                        stdout=sys.stderr, stdin=subprocess.DEVNULL)
    if rc != 0:
        fail(f"build failed (sbt exit {rc})")
    with open(STAMP, "w") as f:
        f.write(digest)
    # the untraced walls that tracing overhead is measured against belong
    # to the build that made them
    for name in os.listdir(WORK):
        if name.startswith("untraced_wall_"):
            os.remove(os.path.join(WORK, name))
    print(f"perfbench: built in {time.time() - t0:.1f}s", file=sys.stderr)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["cdc_daily", "analytics_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record", action="store_true")
    a = ap.parse_args()
    build()
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    spark_home = os.environ.get("SPARK_HOME", "/opt/spark")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    cmd = [java, "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={WORK}/tmp", f"-Dspark.local.dir={WORK}/spark-local",
           f"-Dspark.sql.warehouse.dir={WORK}/warehouse", f"-Dderby.system.home={WORK}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for m in JDK_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", f"{CLASSES}:{spark_home}/jars/*", "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", WORK,
            "--expected", os.path.join(HERE, "expected.json")]
    if a.record:
        cmd.append("--record")
    rc, out = run_bounded(cmd, RUN_TIMEOUT_S, cwd=WORK, stdout=subprocess.PIPE,
                          stdin=subprocess.DEVNULL, text=True)
    lines = out.rstrip("\n").split("\n") if out else []
    for line in lines:
        print(line)
    if rc != 0 or not lines or not lines[-1].startswith("{"):
        fail(f"benchmark JVM exited {rc} without a result")


if __name__ == "__main__":
    main()
