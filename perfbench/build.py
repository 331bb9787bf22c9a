#!/usr/bin/env python3
"""Build file of the benchmark.

    python3 perfbench/build.py            # prints the jar it built

1. Compiles the library's main sources (`src/main/scala`) together with
   the benchmark's own Scala code (`perfbench/src`) using the Scala compiler in
   Spark's jar directory, into one jar.
2. Runs a training JVM that starts a session and stages every workload's
   inputs once, and saves the classes it loaded as a class-data-sharing
   archive. Benchmark runs map that archive instead of loading and
   verifying Spark's classes from the jars again, which takes several
   seconds off every JVM start.

Output goes to `$CARGO_TARGET_DIR` (default `.bench_build`) under the
checkout root, named by a hash of every source file, so a later run with
unchanged sources reuses it.
"""
import hashlib
import os
import shutil
import subprocess
import sys
import tempfile
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(ROOT, "perfbench", "src")
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]
# C1 only, one compiler thread and the serial collector: a run reaches
# its warm speed within a pass or two, and JIT and GC threads do not
# compete with the job for CPUs. With the default tiered C2 compiler the
# warm passes of one run were still getting faster, and a 2-CPU busy
# loop beside a run slowed its waves by 40% (by 11% with these flags).
# A fixed heap size keeps heap growth from adding full collections at
# different points of different runs.
JVM_FLAGS = ["-XX:TieredStopAtLevel=1", "-XX:CICompilerCount=1", "-XX:+UseSerialGC",
             "-Xms3g", "-Xmx3g"]


def spark_jars():
    return os.path.join(os.environ.get("SPARK_HOME", ""), "jars")


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def cores():
    """Spark task slots: half the CPUs the process may use, so that the
    driver thread, the JIT compiler and the OS have CPUs of their own and
    a busy host slows the job less."""
    return max(1, cpus() // 2)


def java_cmd(jar, tmpdir, extra=()):
    """The JVM command line every benchmark JVM uses, up to the main class."""
    opens = [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cp = os.pathsep.join([jar, os.path.join(spark_jars(), "*")])
    return (["java"] + opens + JVM_FLAGS + list(extra) +
            [f"-Djava.io.tmpdir={tmpdir}", "-cp", cp, "perfbench.Main"])


def sources():
    found = []
    for top in (LIB_SRC, BENCH_SRC):
        for dirpath, _, files in os.walk(top):
            found += [os.path.join(dirpath, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def missing():
    """What a build needs and this checkout or host lacks, if anything."""
    if not os.path.isdir(os.path.join(LIB_SRC, "graft")):
        return f"library sources not found at {os.path.relpath(LIB_SRC, ROOT)}"
    if not os.path.isdir(BENCH_SRC):
        return f"benchmark sources not found at {os.path.relpath(BENCH_SRC, ROOT)}"
    if not os.path.isdir(spark_jars()):
        return "Spark jars not found: set SPARK_HOME to a Spark installation"
    return None


def compile_jar(srcs, jar, log):
    classes = tempfile.mkdtemp(prefix="classes-", dir=build_dir())
    try:
        argfile = os.path.join(classes, "sources.txt")
        with open(argfile, "w") as fh:
            fh.write("\n".join(srcs) + "\n")
        cp = os.path.join(spark_jars(), "*")
        cmd = ["java", "-Xss8m", "-Xmx3g", "-cp", cp, "scala.tools.nsc.Main",
               "-nowarn", "-d", classes, "-cp", cp, "@" + argfile]
        r = subprocess.run(cmd, stdout=log, stderr=log, timeout=600)
        if r.returncode != 0:
            raise SystemExit(f"[perfbench] compile failed ({r.returncode})")
        with zipfile.ZipFile(jar + ".tmp", "w", zipfile.ZIP_STORED) as z:
            for dirpath, _, files in os.walk(classes):
                for f in sorted(files):
                    if f.endswith(".class"):
                        p = os.path.join(dirpath, f)
                        z.write(p, os.path.relpath(p, classes))
        os.replace(jar + ".tmp", jar)
    finally:
        shutil.rmtree(classes, ignore_errors=True)


def train_archive(jar, jsa, log):
    work = tempfile.mkdtemp(prefix="train-", dir=build_dir())
    try:
        cmd = java_cmd(jar, work, [f"-XX:ArchiveClassesAtExit={jsa}"]) + [
            "--workload", "train", "--cores", str(cores()),
            "--work", os.path.join(work, "w")]
        with open(os.path.join(work, "train.log"), "w") as out:
            r = subprocess.run(cmd, stdout=out, stderr=out, cwd=work, timeout=240)
        if r.returncode != 0 or not os.path.exists(jsa):
            # runs still work without the archive, only start slower
            print(f"[perfbench] class-data archive not built ({r.returncode})",
                  file=log, flush=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def build(log=sys.stderr):
    """Returns (jar, archive or None, source hash)."""
    srcs = sources()
    h = hashlib.sha256(" ".join(JVM_FLAGS).encode())
    for f in srcs:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()[:16]
    jar = os.path.join(build_dir(), f"perfbench-{stamp}.jar")
    jsa = os.path.join(build_dir(), f"perfbench-{stamp}.jsa")
    done = os.path.join(build_dir(), f"perfbench-{stamp}.ok")
    if not os.path.exists(done):
        os.makedirs(build_dir(), exist_ok=True)
        for old in os.listdir(build_dir()):
            if old.startswith(("perfbench-", "classes-", "train-")):
                p = os.path.join(build_dir(), old)
                shutil.rmtree(p) if os.path.isdir(p) else os.remove(p)
        print(f"[perfbench] compiling {len(srcs)} sources -> {jar}", file=log, flush=True)
        compile_jar(srcs, jar, log)
        train_archive(jar, jsa, log)
        open(done, "w").close()
    return jar, (jsa if os.path.exists(jsa) else None), stamp


if __name__ == "__main__":
    why = missing()
    if why:
        sys.exit(f"[perfbench] cannot build: {why}")
    print(build()[0])
