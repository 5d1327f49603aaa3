#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program's sources
(src/main/scala) together with the benchmark's own (fraudbench/src) with
the Scala compiler that ships among Spark's jars, packs them into
fraudbench/work/fraudbench.jar, and records a class-data archive
(fraudbench/work/fraudbench.jsa) from one short Spark session so that
every run's JVM maps the Spark classes it needs instead of loading them
from 300 jars. A stamp of the sources' hash skips the build when nothing
changed.

    python3 fraudbench/build.py        # build if needed, print the jar
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
CLASSES = os.path.join(WORK, "classes")
JAR = os.path.join(WORK, "fraudbench.jar")
ARCHIVE = os.path.join(WORK, "fraudbench.jsa")
STAMP = os.path.join(WORK, "build.stamp")


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit))) if submit else ""
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        sys.exit("fraudbench: no Spark jars found (set SPARK_HOME)")
    return jars


def classpath():
    """The benchmark jar, then Spark's jars in a fixed order (the class-data
    archive is only used when the class path matches the one it was made with).
    """
    return os.pathsep.join([JAR] + sorted(glob.glob(os.path.join(spark_jars(), "*.jar"))))


def java_cmd(main, args, heap="2g"):
    """A JVM command line for `main` on the benchmark's class path."""
    opens = [x for p in OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    share = [f"-XX:SharedArchiveFile={ARCHIVE}"] if os.path.exists(ARCHIVE) else []
    return ["java", f"-Xmx{heap}", *share, *opens, "-cp", classpath(), main, *args]


OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
         "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
         "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def sources():
    program = os.path.join(ROOT, "src", "main", "scala", "graft")
    if not os.path.isdir(program):
        sys.exit(f"fraudbench: program sources not found under {os.path.relpath(program)}; "
                 "run from the root of a checkout")
    files = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True) +
                   glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return files


def ensure():
    """Builds the jar and the class-data archive if the sources changed."""
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()
    if os.path.exists(JAR) and os.path.exists(STAMP) and open(STAMP).read() == digest:
        return JAR
    jars = spark_jars()
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(WORK, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cp = os.path.join(jars, "*")
    print(f"fraudbench: compiling {len(files)} sources", file=sys.stderr)
    rc = subprocess.run(["java", "-Xss8m", "-Xmx3g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
                         "-d", tmp, "-classpath", cp, "@" + argfile],
                        stdout=sys.stderr, timeout=840).returncode
    if rc != 0:
        sys.exit(f"fraudbench: compile failed ({rc})")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    for f in (STAMP, JAR, ARCHIVE):
        if os.path.exists(f):
            os.remove(f)
    subprocess.run(["jar", "cf", JAR, "-C", CLASSES, "."], check=True, timeout=300)
    train = os.path.join(WORK, "class_archive")
    shutil.rmtree(train, ignore_errors=True)
    os.makedirs(train)
    cmd = java_cmd("fraudbench.ClassArchive", [train])
    cmd.insert(1, f"-XX:ArchiveClassesAtExit={ARCHIVE}")
    with open(os.path.join(train, "jvm.log"), "w") as log:
        rc = subprocess.run(cmd, stdout=log, stderr=log, cwd=train, timeout=300).returncode
    if rc != 0 and os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)  # runs then load every class from the jars, only slower
    with open(STAMP, "w") as fh:
        fh.write(digest)
    return JAR


if __name__ == "__main__":
    print(ensure())
