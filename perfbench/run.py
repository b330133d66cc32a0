#!/usr/bin/env python3
"""Benchmark of the flight pipeline, its dashboard and the operator mix.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1> [--smoke]

Run from the root of a checkout. Compiles the program (src/main/scala) and
the benchmark (perfbench/src) with the Scala compiler that ships in Spark's
jars, into .bench_build/, once per source hash; then runs one JVM with
Spark in local mode on all cores. Inputs are generated from the seed into a
per-run work directory under .bench_build/, which is removed at the end.
The last line of standard output is the result object.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = ROOT / "perfbench"
PROGRAM = ROOT / "src" / "main" / "scala"
BUILD = ROOT / ".bench_build" / "perfbench"
WORKLOADS = ("flight_etl", "dashboard_replay", "operator_mix")
# Driver heap, set explicitly (build.sbt's default of 24g exceeds small hosts),
# fixed and pre-touched so that resident memory does not follow GC timing.
HEAP = "2g"
RUN_TIMEOUT_S = 170
# The JVM options of build.sbt's forked runs, minus its heap; no perf-data
# file, which the JVM would otherwise write outside the checkout.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
JVM_FLAGS = [f for p in ADD_OPENS for f in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
    "-XX:-UsePerfData",
    "-Dspark.ui.enabled=false",
    "-Dspark.sql.session.timeZone=UTC",
    "-XX:-DontCompileHugeMethods",
    "-XX:ReservedCodeCacheSize=512m",
    "-XX:CICompilerCount=12",
]


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory build.sbt compiles against."""
    if "SPARK_HOME" in os.environ:
        return Path(os.environ["SPARK_HOME"]) / "jars"
    sbt = ROOT / "build.sbt"
    m = re.search(r'unmanagedBase := file\("([^"]+)"\)', sbt.read_text()) if sbt.is_file() else None
    return Path(m.group(1)) if m else None


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    srcs = sorted(PROGRAM.rglob("*.scala")) + sorted((BENCH / "src").rglob("*.scala"))
    return [s for s in srcs if s.is_file()]


def build(jars):
    """Compiles program + benchmark into a directory keyed by their hash."""
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(str(s.relative_to(ROOT)).encode())
        h.update(s.read_bytes())
    out = BUILD / h.hexdigest()[:16]
    if (out / "DONE").exists():
        return out / "classes"
    shutil.rmtree(BUILD, ignore_errors=True)
    classes = out / "classes"
    classes.mkdir(parents=True)
    cp = f"{jars}/*"
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g",
           f"-Djava.io.tmpdir={out}", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
           "-d", str(classes), "-classpath", cp] + [str(s) for s in srcs]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        fail("compilation failed", 3)
    (out / "DONE").write_text("ok\n")
    return classes


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    ap.add_argument("--smoke", action="store_true",
                    help="small inputs (about 10 k rows, 20 interactions, 60 documents)")
    a = ap.parse_args()
    if a.seconds < 1:
        fail("--seconds must be at least 1")
    if not (PROGRAM / "graft").is_dir():
        fail(f"no program sources under {PROGRAM}; run from a full checkout")
    jars = spark_jars()
    if jars is None or not jars.is_dir():
        fail(f"no Spark jars (set SPARK_HOME): {jars}")

    classes = build(jars)
    work = ROOT / ".bench_build" / f"work-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "local", "scratch"):
        (work / d).mkdir(parents=True)
    env = dict(os.environ, GRAFT_SCRATCH=str(work / "scratch"),
               SPARK_LOCAL_DIRS=str(work / "local"))
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
           f"-Djava.io.tmpdir={work / 'tmp'}",
           f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}",
           f"-Dperfbench.dir={BENCH}"] + JVM_FLAGS + [
        "-cp", f"{classes}:{jars}/*", "graft.perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--work", str(work), "--heap", HEAP,
        "--smoke", "1" if a.smoke else "0"]
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                            stderr=sys.stderr, text=True)

    def stop(*_):
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(4)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run exceeded {RUN_TIMEOUT_S} s", 5)
    shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0:
        fail(f"benchmark JVM exited with code {proc.returncode}", 6)
    lines = [l for l in out.splitlines() if l.strip()]
    if not lines:
        fail("benchmark JVM printed no result", 6)
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"malformed result: {lines[-1]}", 6)
    print("\n".join(lines))


if __name__ == "__main__":
    main()
