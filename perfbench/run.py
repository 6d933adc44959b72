#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload oltp_small --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The first run compiles the engine's
main sources together with the benchmark driver (sbt, offline); later
runs reuse the build while the sources are unchanged. Each run gets its
own work directory under perfbench/.runs (graph store, materialized
catalog, Spark local and temp dirs), deleted when the run ends, so no run
sees another run's disk state. The last line of standard output is the
run's JSON result. With --trace 1 the span log is written to
perfbench/traces/.
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

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BUILD_STAMP = os.path.join(BENCH, "target", "graftbench.stamp")
CLASSES = os.path.join(BENCH, "target", "scala-2.13", "classes")
WORKLOADS = ("oltp_small", "traverse_large", "analytics_sf001")
BUILD_TIMEOUT_S = 600
RUN_TIMEOUT_S = 170
HEAP = "2g"

# Spark on JDK 17 outside spark-submit needs these (as in the engine's build).
ADD_OPENS = [
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
    roots = [ENGINE_SRC, os.path.join(BENCH, "src"), os.path.join(BENCH, "project")]
    files = [os.path.join(BENCH, "build.sbt")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs if f.endswith((".scala", ".properties"))]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the group on timeout and wait for it."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        return None, None
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    return p.returncode, out


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit))) if submit else ""
    jars = os.path.join(home, "jars")
    if not os.path.isdir(jars):
        fail("no Spark install found (set SPARK_HOME)")
    return home, jars


def build(env):
    digest = sources_digest()
    if os.path.exists(BUILD_STAMP) and open(BUILD_STAMP).read() == digest:
        return
    if shutil.which("sbt") is None:
        fail("sbt not found on PATH")
    log = os.path.join(BENCH, "target", "build.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    with open(log, "wb") as fh:
        code, _ = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                              BUILD_TIMEOUT_S, cwd=BENCH, env=env, stdout=fh,
                              stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    if code != 0:
        with open(log, errors="replace") as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail("build failed" if code is not None else "build timed out")
    with open(BUILD_STAMP, "w") as fh:
        fh.write(digest)


def main():
    # A terminated run still stops its JVM and removes its work directory.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail(f"engine sources not found under {os.path.relpath(ENGINE_SRC)}; "
             "run from the root of a full checkout")
    spark_home, jars = spark_jars()
    env = dict(os.environ, SPARK_HOME=spark_home, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", " ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Xmx2g"]))
    build(env)

    work = os.path.join(BENCH, ".runs", f"{a.workload}-{a.seed}-{os.getpid()}-{time.time_ns()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    env["GRAFT_CACHE_DIR"] = os.path.join(work, "cache")
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    spans = os.path.join(BENCH, "traces", f"{a.workload}-seed{a.seed}.spans.jsonl")
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    cmd += [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd += ["-cp", CLASSES + os.pathsep + os.path.join(jars, "*"), "graftbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work,
            "--data", os.path.join(BENCH, "data", "sf0.01"),
            "--expected", os.path.join(BENCH, "data", "expected_sf0.01.tsv"),
            "--spans", spans]
    log = os.path.join(work, "jvm.log")
    try:
        with open(log, "wb") as err:
            code, out = run_bounded(cmd, RUN_TIMEOUT_S, cwd=work, env=env,
                                    stdout=subprocess.PIPE, stderr=err, stdin=subprocess.DEVNULL)
        if code != 0:
            with open(log, errors="replace") as fh:
                sys.stderr.write("".join(fh.readlines()[-60:]))
            fail(f"workload {a.workload} exited with {code}" if code is not None
                 else f"workload {a.workload} timed out after {RUN_TIMEOUT_S} s")
        with open(log, errors="replace") as fh:
            sys.stderr.writelines(l for l in fh if l.startswith("graftbench:"))
        text = out.decode()
        try:
            json.loads(text.strip().splitlines()[-1])
        except (IndexError, ValueError):
            fail(f"workload {a.workload} printed no result line")
        sys.stdout.write(text)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
