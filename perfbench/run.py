#!/usr/bin/env python3
"""Build and run the store benchmark.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload point_read --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest

The engine (src/main/scala) and the benchmark (perfbench/src) are compiled
with the Scala compiler that ships in the Spark distribution's jars
directory; no build file is read or changed. Compiled classes are cached
under .bench_build/ keyed by a hash of their sources. The benchmark JVM
prints diagnostics and, as its last line, one JSON result object, which is
passed through. The exit code is 0 only when every output was checked
correct.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
BENCH_SRC = os.path.join(ROOT, "perfbench", "src")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
SCALA_VERSION = "2.13.17"
RUN_TIMEOUT_S = 170
WORKLOADS = ("point_read", "ingest_compact", "similarity")
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


def scala_sources(d):
    out = []
    for base, _, files in os.walk(d):
        out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def digest(paths, extra=""):
    h = hashlib.sha256(extra.encode())
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def compile_scala(srcs, jar, classpath):
    """Compile into a temporary directory and publish the classes as one
    jar by rename, so an interrupted build never leaves a half-filled cache
    entry. (Jars, not directories: the JVM's class-data archive accepts
    only jars on the class path.)"""
    if os.path.isfile(jar):
        return
    tmp = jar + ".d"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    jars = [os.path.join(SPARK_JARS, f"scala-{m}-{SCALA_VERSION}.jar")
            for m in ("compiler", "library", "reflect")]
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx3g", "-cp", ":".join(jars), "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", classpath] + srcs
    print(f"perfbench: compiling {len(srcs)} files into {os.path.relpath(jar, ROOT)}",
          file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=850)
    if r.returncode != 0:
        fail(f"compilation failed ({r.returncode})")
    with zipfile.ZipFile(jar + ".tmp", "w") as z:
        for base, _, files in os.walk(tmp):
            for f in sorted(files):
                p = os.path.join(base, f)
                z.write(p, os.path.relpath(p, tmp))
    shutil.rmtree(tmp)
    os.rename(jar + ".tmp", jar)


def build():
    if not os.path.isdir(ENGINE_SRC) or not scala_sources(ENGINE_SRC):
        fail("no engine sources at src/main/scala: run from the root of a checkout")
    if not os.path.isdir(SPARK_JARS):
        fail(f"no Spark jars at {SPARK_JARS}")
    os.makedirs(BUILD, exist_ok=True)
    spark_cp = os.path.join(SPARK_JARS, "*")
    engine_srcs = scala_sources(ENGINE_SRC)
    engine_jar = os.path.join(BUILD, "engine-" + digest(engine_srcs) + ".jar")
    compile_scala(engine_srcs, engine_jar, spark_cp)
    bench_srcs = scala_sources(BENCH_SRC)
    bench_jar = os.path.join(BUILD, "bench-" + digest(bench_srcs, engine_jar) + ".jar")
    compile_scala(bench_srcs, bench_jar, engine_jar + ":" + spark_cp)
    keep = {engine_jar, bench_jar, cds_path(bench_jar)}
    for d in os.listdir(BUILD):
        p = os.path.join(BUILD, d)
        if d.startswith(("engine-", "bench-", "cds-")) and p not in keep:
            if os.path.isdir(p):
                shutil.rmtree(p, ignore_errors=True)
            else:
                os.remove(p)
    return bench_jar, ":".join([bench_jar, engine_jar, spark_cp])


def cds_path(bench_jar):
    return os.path.join(BUILD, "cds-" + os.path.basename(bench_jar)[len("bench-"):-4] + ".jsa")


def jvm(classpath, extra):
    # no hsperfdata file: the JVM would write it under /tmp, outside the checkout
    return (["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx4g", "-XX:+UseParallelGC"] + extra +
            [f"-Djava.io.tmpdir={os.path.join(BUILD, 'tmp')}",
             f"-Dspark.local.dir={os.path.join(BUILD, 'tmp')}",
             f"-Dspark.sql.warehouse.dir={os.path.join(BUILD, 'warehouse')}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
            + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-cp", classpath, "perfbench.Main", "--work", os.path.join(BUILD, "work")])


def class_archive(bench_jar, classpath, env):
    """The JVM's class-data archive for this class path, made once by a
    short training run: later JVMs map Spark's classes instead of loading
    them, which takes several seconds off every run's session start. The
    training run's output is discarded; without an archive the benchmark
    still runs, only slower to start."""
    jsa = cds_path(bench_jar)
    if not os.path.isfile(jsa):
        print("perfbench: training the class-data archive", file=sys.stderr)
        cmd = jvm(classpath, [f"-XX:ArchiveClassesAtExit={jsa}.tmp"]) + [
            "--workload", "point_read", "--seed", "0", "--seconds", "1", "--trace", "0"]
        r = subprocess.run(cmd, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
                           env=env, timeout=RUN_TIMEOUT_S)
        if r.returncode == 0 and os.path.isfile(jsa + ".tmp"):
            os.rename(jsa + ".tmp", jsa)
    return [f"-XX:SharedArchiveFile={jsa}"] if os.path.isfile(jsa) else []


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and a.workload is None:
        fail("--workload is required")
    if not os.path.isdir(BENCH_SRC):
        fail("no benchmark sources at perfbench/src: run from the root of a checkout")
    bench_jar, classpath = build()
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))))
    cmd = jvm(classpath, class_archive(bench_jar, classpath, env))
    if a.selftest:
        cmd += ["--selftest"]
    else:
        cmd += ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace)]
    log = os.path.join(BUILD, "last-run.log")
    with open(log, "w") as err:
        try:
            r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=err, env=env,
                               timeout=RUN_TIMEOUT_S, text=True)
        except subprocess.TimeoutExpired:
            fail(f"benchmark exceeded {RUN_TIMEOUT_S} s; JVM log in {log}")
    sys.stdout.write(r.stdout)
    sys.stdout.flush()
    if r.returncode != 0:
        with open(log) as f:
            tail = f.read()[-4000:]
        print(tail, file=sys.stderr)
        print(f"perfbench: exit {r.returncode}; JVM log in {log}", file=sys.stderr)
    sys.exit(r.returncode)


if __name__ == "__main__":
    main()
