#!/usr/bin/env python3
"""Build file of the benchmark.

Compiles the engine (src/main/scala) and the benchmark's own Scala sources
(perfbench/src, perfbench/test) with the Scala compiler that ships among the
Spark jars, packs them into jars under .bench_build/perfbench, and records a
class-data-sharing archive from one untimed pass over every workload, so
each run's fresh JVM maps the Spark and engine classes instead of loading
them one by one. A stamp holding a digest of every source skips all of this
when nothing changed.

    python3 perfbench/build.py        # builds, prints the runtime classpath
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
RESOURCES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = [os.path.join(HERE, "src"), os.path.join(HERE, "test")]
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(OUT, "classes")
JARS = [os.path.join(OUT, "perfbench.jar"), os.path.join(OUT, "resources.jar")]
ARCHIVE = os.path.join(OUT, "classes.jsa")
STAMP = os.path.join(OUT, "build.stamp")

# The module options spark-submit would pass on JDK 17 (as in build.sbt).
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]]
HEAP = "3g"


class BuildError(Exception):
    pass


def spark_jars():
    """Directory of the Spark 4.1 / Scala 2.13 jars the engine builds against:
    $SPARK_HOME/jars, else the `unmanagedBase` the repository's build.sbt names."""
    if "SPARK_HOME" in os.environ:
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        sbt = os.path.join(ROOT, "build.sbt")
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                      open(sbt).read() if os.path.exists(sbt) else "")
        if not m:
            raise BuildError("no Spark jars: set SPARK_HOME or build.sbt's unmanagedBase")
        jars = m.group(1)
    if not os.path.isdir(jars):
        raise BuildError(f"Spark jars not found at {jars}")
    return jars


def sources():
    if not os.path.isdir(ENGINE_SRC):
        raise BuildError(f"engine sources not found at {ENGINE_SRC}")
    out = [os.path.abspath(__file__)]  # its JVM flags shape the archive
    for top in [ENGINE_SRC, RESOURCES] + BENCH_SRC:
        for d, _, fs in os.walk(top):
            out += [os.path.join(d, f) for f in fs]
    return sorted(out)


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath():
    return os.pathsep.join(JARS + [os.path.join(spark_jars(), "*")])


def java_cmd(main, args, tmp, archive_flag):
    """The JVM command of a run (and of the archive's training pass)."""
    os.makedirs(tmp, exist_ok=True)
    return (["java"] + ADD_OPENS +
            [f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:ReservedCodeCacheSize=1g",
             "-XX:+UseCodeCacheFlushing", "-XX:-UsePerfData",
             "-Xlog:disable", "-Xlog:all=warning:stderr",
             f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"] +
            ([archive_flag] if archive_flag else []) +
            ["-cp", classpath(), main] + args)


def jar(src, dst):
    with zipfile.ZipFile(dst, "w", zipfile.ZIP_DEFLATED) as z:
        for d, _, fs in os.walk(src):
            for f in sorted(fs):
                p = os.path.join(d, f)
                z.write(p, os.path.relpath(p, src))


def build():
    """Build if any source changed; return the source digest."""
    jars = spark_jars()
    files = sources()
    dig = digest(files)
    if os.path.exists(STAMP) and open(STAMP).read() == dig:
        return dig
    for p in [STAMP, ARCHIVE] + JARS:
        if os.path.exists(p):
            os.remove(p)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(OUT, "scalac.args")
    with open(argfile, "w") as fh:
        fh.write("\n".join(f for f in files if f.endswith(".scala")) + "\n")
    print("[perfbench] compiling", file=sys.stderr, flush=True)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", CLASSES,
           "-cp", os.path.join(jars, "*"), "@" + argfile]
    if subprocess.run(cmd, stdout=sys.stderr, timeout=600).returncode != 0:
        raise BuildError("scalac failed")
    jar(CLASSES, JARS[0])
    jar(RESOURCES, JARS[1])
    print("[perfbench] recording the class-data-sharing archive", file=sys.stderr, flush=True)
    work = os.path.join(OUT, "work", "train")
    shutil.rmtree(work, ignore_errors=True)
    try:
        cmd = java_cmd("perfbench.Main", ["--train", "--work", work],
                       os.path.join(work, "tmp"), f"-XX:ArchiveClassesAtExit={ARCHIVE}")
        with open(os.path.join(OUT, "train.log"), "w") as log:
            rc = subprocess.run(cmd, cwd=ROOT, stdout=log, stderr=log, timeout=600).returncode
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or not os.path.exists(ARCHIVE):
        raise BuildError(f"training pass failed (rc={rc}); see {OUT}/train.log")
    with open(STAMP, "w") as fh:
        fh.write(dig)
    return dig


if __name__ == "__main__":
    try:
        build()
        print(classpath())
    except BuildError as e:
        sys.exit(f"[perfbench] build failed: {e}")
