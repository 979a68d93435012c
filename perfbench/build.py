#!/usr/bin/env python3
"""Build file of the user-path benchmark.

Compiles the engine (`src/main/scala`) together with the harness
(`perfbench/src`) with the Scala compiler that ships in the Spark
distribution's jar directory, packs the classes into one jar, and dumps
a class-data-sharing archive from a short training run of every
workload, which cuts JVM and Spark start-up by several seconds per run.
The archive is part of the build: the build fails when it cannot be
made, and every run starts with `-Xshare:on`, so a JVM that cannot map
it refuses to start rather than running slower.
No sbt: the build reads only the repository and the Spark jars, and
writes only under `perfbench/.build/`.

The jar directory is the one `build.sbt` names in `unmanagedBase`, else
`$SPARK_HOME/jars`. Builds are keyed by a hash of every compiled source,
so an unchanged tree reuses its classes and any edit rebuilds.

    python3 perfbench/build.py        # prints the classpath
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
BUILD_DIR = os.path.join(BENCH_DIR, ".build")
BUILD_TIMEOUT_S = 600
TRAIN_TIMEOUT_S = 240
HEAP = "3g"

# what spark-submit passes on JDK 17 (build.sbt carries the same list)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


class BuildError(Exception):
    pass


def spark_jars_dir():
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.isfile(sbt):
        with open(sbt, encoding="utf-8") as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    raise BuildError("no Spark jar directory: build.sbt has no unmanagedBase "
                     "and SPARK_HOME is unset")


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                              recursive=True))
    if not engine:
        raise BuildError("no engine sources under src/main/scala")
    harness = sorted(glob.glob(os.path.join(BENCH_DIR, "src", "**", "*.scala"),
                               recursive=True))
    if not harness:
        raise BuildError("no harness sources under perfbench/src")
    return engine + harness


def source_hash(files):
    h = hashlib.sha256()
    for p in files:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def java_bin():
    home = os.environ.get("JAVA_HOME")
    if home and os.path.isfile(os.path.join(home, "bin", "java")):
        return os.path.join(home, "bin", "java")
    return "java"


def jvm_command(classpath, tmp, archive, training=False):
    """The benchmark JVM: fixed heap, parallel GC, temp files under `tmp`.
    It maps the class-data archive, or with `training` dumps it at exit."""
    cmd = [java_bin(), "-Xms" + HEAP, "-Xmx" + HEAP, "-XX:+UseParallelGC", "-Xss8m",
           "-Djava.io.tmpdir=" + tmp, "-Dspark.ui.enabled=false"]
    if training:
        cmd.append("-XX:ArchiveClassesAtExit=" + archive)
    else:
        cmd += ["-Xshare:on", "-XX:SharedArchiveFile=" + archive]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    return cmd + ["-cp", classpath]


def classpath(jar, jars):
    return jar + os.pathsep + os.path.join(jars, "*")


def build():
    """Build if needed; return (classpath, class-data archive, source hash)."""
    jars = spark_jars_dir()
    files = sources()
    digest = source_hash(files)
    out = os.path.join(BUILD_DIR, digest[:16])
    jar = os.path.join(out, "perfbench.jar")
    archive = os.path.join(out, "classes.jsa")
    done = os.path.join(out, "BUILD_OK")
    if os.path.isfile(done) and os.path.isfile(archive):
        return classpath(jar, jars), archive, digest
    if os.path.isdir(BUILD_DIR):
        shutil.rmtree(BUILD_DIR)
    classes = os.path.join(out, "classes")
    os.makedirs(classes)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w", encoding="utf-8") as f:
        f.write("\n".join(files) + "\n")
    cp = os.path.join(jars, "*")
    cmd = [java_bin(), "-Xmx3g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
           "-classpath", cp, "-d", classes, "-nowarn", "@" + argfile]
    try:
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                              timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        raise BuildError("scalac timed out")
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout.decode("utf-8", "replace")[-20000:])
        raise BuildError("scalac failed with exit code %d" % proc.returncode)
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
        for d, _, names in os.walk(classes):
            for n in sorted(names):
                p = os.path.join(d, n)
                z.write(p, os.path.relpath(p, classes))
    shutil.rmtree(classes)
    train(classpath(jar, jars), archive, out)
    with open(done, "w", encoding="utf-8") as f:
        f.write(digest + "\n")
    return classpath(jar, jars), archive, digest


def train(cp, archive, out):
    """Dump the class-data archive from one short run of every workload."""
    tmp = os.path.join(out, "train-tmp")
    os.makedirs(tmp)
    cmd = jvm_command(cp, tmp, archive, training=True) + [
        "graft.perfbench.Main", "--train", "1"]
    try:
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                              cwd=tmp, timeout=TRAIN_TIMEOUT_S)
        ok = proc.returncode == 0 and os.path.isfile(archive)
        detail = proc.stdout.decode("utf-8", "replace")
        sys.stderr.write("".join(l + "\n" for l in detail.splitlines()
                                 if l.startswith("training ")))
        detail = detail[-4000:]
    except subprocess.TimeoutExpired:
        ok, detail = False, "training run timed out"
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    if not ok:
        if os.path.isfile(archive):
            os.remove(archive)
        sys.stderr.write(detail + "\n")
        raise BuildError("the training run made no class-data archive")


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        sys.stderr.write("build failed: %s\n" % e)
        sys.exit(2)
