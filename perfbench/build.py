"""Compiles the program (`src/main/scala`) and the benchmark's own Scala
sources into one class directory with the Scala compiler that ships
among the Spark jars the sbt build compiles against.

A stamp of the source hash skips the compile when nothing changed.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess

HERE = os.path.dirname(os.path.abspath(__file__))

# Spark on JDK 17 needs these outside spark-submit (the root build.sbt
# passes the same list to forked runs and tests).
ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")
]


def spark_jars(root):
    """The jars the sbt build compiles against (its `unmanagedBase`),
    else $SPARK_HOME/jars."""
    sbt = os.path.join(root, "build.sbt")
    if os.path.exists(sbt):
        with open(sbt) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    raise RuntimeError("no Spark jars: build.sbt names no unmanagedBase and SPARK_HOME is unset")


def sources(root):
    program = sorted(glob.glob(os.path.join(root, "src", "main", "scala", "**", "*.scala"),
                               recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return program, bench


def classpath(root, classes):
    return os.pathsep.join([classes, os.path.join(spark_jars(root), "*")])


def build(root, build_dir, log):
    """Compile if needed; returns the class directory. Raises on failure."""
    program, bench = sources(root)
    if not program:
        raise RuntimeError(f"no program sources under {root}/src/main/scala")
    h = hashlib.sha256()
    for path in program + bench:
        h.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    classes = os.path.join(build_dir, "classes")
    stamp_file = os.path.join(build_dir, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(spark_jars(root), "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", classes] + program + bench
    with open(log, "w") as out:
        rc = subprocess.run(cmd, stdout=out, stderr=subprocess.STDOUT, timeout=840).returncode
    if rc != 0:
        raise RuntimeError(f"compile failed (exit {rc}), see {log}")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes

