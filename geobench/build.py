#!/usr/bin/env python3
"""Builds the benchmark: compiles the program's sources (src/main/scala) and
the benchmark's own (geobench/src) with the Scala compiler that ships among
the Spark jars named by the repository's build.sbt (`unmanagedBase`).

Usage: python3 geobench/build.py      # builds, then prints the JVM command

Output goes to .bench_build/geobench/<hash of every source file>/, so an
unchanged tree is built once and reused by every later run:
  geobench.jar  the compiled classes
  app.jsa       a class-data-sharing archive of the classes one short
                pip_tile run loads, which halves JVM and Spark start-up
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "geobench")


# Spark on JDK 17 outside spark-submit needs these (the repository's
# build.sbt passes the same list to its forked JVMs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"geobench build: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    sbt = os.path.join(ROOT, "build.sbt")
    if not os.path.isfile(sbt):
        fail(f"{sbt} not found: run from a full checkout of the repository")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
    jars_dir = os.environ.get("SPARK_JARS_DIR") or (m and m.group(1))
    if not jars_dir or not os.path.isdir(jars_dir):
        fail("no Spark jar directory: set SPARK_JARS_DIR or unmanagedBase in build.sbt")
    jars = sorted(glob.glob(os.path.join(jars_dir, "*.jar")))
    if not jars:
        fail(f"no jars in {jars_dir}")
    return jars


def sources():
    prog = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    if not prog:
        fail("no program sources under src/main/scala")
    return prog + sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))


def java_cmd(cp, archive_flag, tmp):
    """The JVM command line every benchmark process uses; `tmp` holds the
    JVM's temporary files (native libraries unpacked by Spark's codecs)."""
    opens = []
    for o in ADD_OPENS:
        opens += ["--add-opens", f"{o}=ALL-UNNAMED"]
    return (["java", "-Xms2g", "-Xmx2g", "-Xmn512m", "-XX:+UseParallelGC",
             "-XX:ParallelGCThreads=2", "-XX:-UsePerfData", archive_flag, f"-Djava.io.tmpdir={tmp}",
             "-Xlog:disable",
             "-Xlog:all=error:stderr", "-Dio.netty.tryReflectionSetAccessible=true",
             f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
            + opens + ["-cp", cp, "geobench.Main"])


def build():
    """Builds if needed; returns the classpath and the archive."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    out = os.path.join(BUILD, h.hexdigest()[:16])
    jar = os.path.join(out, "geobench.jar")
    archive = os.path.join(out, "app.jsa")
    cp = os.pathsep.join([jar] + jars)
    if not os.path.isfile(os.path.join(out, ".ok")):
        compiler = [j for j in jars if re.search(r"scala-(compiler|library|reflect)-2\.13", os.path.basename(j))]
        if len(compiler) != 3:
            fail("scala-compiler/library/reflect 2.13 jars not found among the Spark jars")
        shutil.rmtree(BUILD, ignore_errors=True)
        classes = os.path.join(out, "classes")
        tmp = os.path.join(out, "tmp")
        os.makedirs(classes)
        os.makedirs(tmp)
        print(f"geobench build: compiling {len(srcs)} files", file=sys.stderr)
        r = subprocess.run(["java", "-Xmx2g", "-Xss16m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
                            "-cp", os.pathsep.join(compiler), "scala.tools.nsc.Main", "-nowarn",
                            "-classpath", os.pathsep.join(jars), "-d", classes] + srcs,
                           stdout=sys.stderr, stderr=sys.stderr)
        if r.returncode != 0:
            fail(f"scalac exited {r.returncode}")
        with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
            for d, _, files in os.walk(classes):
                for f in sorted(files):
                    p = os.path.join(d, f)
                    z.write(p, os.path.relpath(p, classes))
        shutil.rmtree(classes)
        print("geobench build: short run to record the class-data-sharing archive", file=sys.stderr)
        work = os.path.join(tmp, "train")
        r = subprocess.run(java_cmd(cp, f"-XX:ArchiveClassesAtExit={archive}", tmp)
                           + ["--workload", "pip_tile", "--seconds", "1", "--work", work],
                           cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr, timeout=600)
        if not os.path.isfile(archive):
            fail(f"no class-data-sharing archive (training run exited {r.returncode})")
        shutil.rmtree(tmp)
        open(os.path.join(out, ".ok"), "w").close()
    return cp, archive


if __name__ == "__main__":
    cp, archive = build()
    print(" ".join(java_cmd(cp, f"-XX:SharedArchiveFile={archive}", "<tmp>")))
