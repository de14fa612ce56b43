#!/usr/bin/env python3
"""Build file of the benchmark's JVM side.

Compiles the program's sources (src/main/scala) together with the
harness sources beside this file, with the Scala compiler that ships in
Spark's jars directory, into <build_dir>/classes and perfbench.jar, then
dumps a class-data-sharing archive (perfbench.jsa) from one short Spark
session so that every run starts faster. No sbt: nothing is
written outside <build_dir>, and no build server is left running.
A build whose sources are unchanged is skipped (stamp = digest of every
source file).

Usage: python3 perfbench/harness/build.py [build_dir]
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))


ADD_OPENS = ("java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar")


def jvm_opens():
    """Module openings Spark needs on JDK 17 outside spark-submit."""
    return [f"--add-opens={m}=ALL-UNNAMED" for m in ADD_OPENS]


def spark_jars():
    """Spark's jars: the classpath build.sbt names as its unmanaged base."""
    return os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")


def classpath(build_dir):
    """The harness jar, then Spark's jars, each named: a class-data-sharing
    archive only holds for a classpath of jar files, given the same way."""
    jars = sorted(glob.glob(os.path.join(spark_jars(), "*.jar")))
    return os.pathsep.join([os.path.join(build_dir, "perfbench.jar")] + jars)


def cds_archive(build_dir):
    return os.path.join(build_dir, "perfbench.jsa")


def sources(root):
    out = []
    for base in (os.path.join(root, "src", "main", "scala"), os.path.join(HERE, "src")):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def ensure(root, build_dir, log=sys.stderr):
    """Compile unless up to date; returns (classes_dir, seconds spent)."""
    t0 = time.time()
    files = sources(root)
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")) or not files:
        raise RuntimeError(f"no program sources under {root}/src/main/scala")
    os.makedirs(build_dir, exist_ok=True)
    stamp = digest(files)
    classes = os.path.join(build_dir, "classes")
    stamp_file = os.path.join(build_dir, "classes.stamp")
    if os.path.isdir(classes) and os.path.exists(stamp_file) \
            and open(stamp_file).read().strip() == stamp:
        return classes, time.time() - t0
    tmp = os.path.join(build_dir, "classes.tmp")
    jtmp = os.path.join(build_dir, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    os.makedirs(jtmp, exist_ok=True)
    cp = os.path.join(spark_jars(), "*")
    argfile = os.path.join(build_dir, "scalac.args")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    print(f"[build] compiling {len(files)} sources into {classes}", file=log, flush=True)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", f"-Djava.io.tmpdir={jtmp}",
           "-cp", cp, "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", cp,
           "@" + argfile]
    proc = subprocess.run(cmd, cwd=build_dir, stdout=subprocess.PIPE,
                          stderr=subprocess.STDOUT, text=True)
    os.remove(argfile)
    if proc.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise RuntimeError("scalac failed:\n" + proc.stdout[-4000:])
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    jar = os.path.join(build_dir, "perfbench.jar")
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
        for d, _, fs in os.walk(classes):
            for f in sorted(fs):
                p = os.path.join(d, f)
                z.write(p, os.path.relpath(p, classes))
    # Spark's start-up loads ~10k classes; a class-data-sharing archive
    # dumped from one short session halves the start-up of every run
    archive = cds_archive(build_dir)
    if os.path.exists(archive):
        os.remove(archive)
    warm = os.path.join(build_dir, "warm")
    shutil.rmtree(warm, ignore_errors=True)
    os.makedirs(os.path.join(warm, "tmp"))
    proc = subprocess.run(["java", "-XX:-UsePerfData", f"-XX:ArchiveClassesAtExit={archive}",
                           "-Xmx1g", f"-Djava.io.tmpdir={warm}/tmp"] + jvm_opens() +
                          ["-cp", classpath(build_dir), "perfbench.Warm", warm],
                          cwd=warm, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    shutil.rmtree(warm, ignore_errors=True)
    if proc.returncode != 0:
        raise RuntimeError("class-data-sharing dump failed:\n" + proc.stdout[-4000:])
    with open(stamp_file, "w") as fh:
        fh.write(stamp + "\n")
    return classes, time.time() - t0


if __name__ == "__main__":
    bd = os.path.abspath(sys.argv[1] if len(sys.argv) > 1 else os.path.join(ROOT, ".bench_build"))
    c, s = ensure(ROOT, bd)
    print(f"{c} ({s:.1f} s)")
