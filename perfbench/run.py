#!/usr/bin/env python3
"""Run one graft benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload curate --seed 1 --seconds 10 --trace 0

Run from the root of a graft checkout. The first run compiles graft's
sources together with the benchmark's (`perfbench/src`) into
`.bench_build/classes` with the Scala compiler that ships in Spark's
`jars/` directory; later runs reuse the classes while no source changes.
`--selftest` runs the benchmark's own tests instead of a workload.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
WORKLOADS = ("curate", "graph", "esb", "esb-malformed")
RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 outside spark-submit (the same set graft's build.sbt passes)
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


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        fail("no Spark distribution found (set SPARK_HOME)")
    return os.path.join(jars, "*")


def sources():
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
    if not os.path.isdir(roots[0]):
        fail("graft's sources (src/main/scala) are not here; run from a graft checkout")
    out = []
    for r in roots:
        for d, _, files in os.walk(r):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build(jars):
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(BUILD, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as lf:
        rc = subprocess.call(
            ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main", "-nowarn",
             "-d", CLASSES, "-classpath", jars, "@" + argfile],
            stdout=lf, stderr=subprocess.STDOUT)
    if rc != 0:
        with open(log) as lf:
            sys.stderr.write(lf.read()[-4000:])
        fail("compilation failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)


def jvm(jars, main, args, log_name, check=True):
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(os.path.join(BUILD, "logs"), exist_ok=True)
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-XX:-UsePerfData", "-Xmx3g", f"-Djava.io.tmpdir={tmp}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Dspark.local.dir={tmp}",
        f"-Dspark.sql.warehouse.dir={os.path.join(BUILD, 'warehouse')}",
        "-cp", CLASSES + os.pathsep + jars, main] + args
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    log = os.path.join(BUILD, "logs", log_name)
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, stderr=lf,
                             text=True, start_new_session=True)
        try:
            out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, 9)
            p.wait()
            fail(f"{main} timed out after {RUN_TIMEOUT_S} s (log: {log})")
    if check and p.returncode != 0:
        with open(log) as lf:
            sys.stderr.write(lf.read()[-4000:])
        fail(f"{main} exited with {p.returncode} (log: {log})")
    return out, p.returncode


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")
    jars = spark_jars()
    os.makedirs(BUILD, exist_ok=True)
    build(jars)
    if a.selftest:
        out, rc = jvm(jars, "graftbench.SelfTest", [], "selftest.log", check=False)
        sys.stdout.write(out)
        sys.exit(1 if rc else 0)
    tag = f"{a.workload}-{a.seed}-{a.trace}"
    out, _ = jvm(jars, "graftbench.Bench",
              ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
               "--trace", str(a.trace), "--work", os.path.join(BUILD, "work", tag)],
              tag + ".log")
    lines = [l for l in out.splitlines() if l.strip()]
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (IndexError, ValueError, AssertionError):
        fail("the run printed no result line")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
