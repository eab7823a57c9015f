"""Build file of the sync-engine benchmark.

Compiles the engine's main sources (src/main/scala) together with the
benchmark's own sources (syncbench/src) with the Scala compiler that
ships in the Spark distribution's jars, into .bench_build/classes.
sbt is not involved, so no project load is paid and nothing is written
outside the checkout. A stamp keyed on the content of every compiled
source skips the compile when nothing changed.

    python3 syncbench/build.py            # compile if needed, print classpath
"""
import fcntl
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BUILD_DIR = ".bench_build"
SOURCE_ROOTS = ("src/main/scala", "syncbench/src")


def spark_jars():
    return os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")


def sources(root):
    found = []
    for base in SOURCE_ROOTS:
        found += glob.glob(os.path.join(root, base, "**", "*.scala"),
                           recursive=True)
    return sorted(found)


def classpath(root):
    return os.path.join(root, BUILD_DIR, "classes") + os.pathsep + \
        os.path.join(spark_jars(), "*")


def build(root):
    """Compile once per source content; return the runtime classpath.

    Raises RuntimeError when the engine sources are missing or the
    compile fails."""
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        raise RuntimeError("engine sources (src/main/scala) not found under "
                           + root)
    srcs = sources(root)
    digest = hashlib.sha256()
    for s in srcs:
        digest.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            digest.update(f.read())
    key = digest.hexdigest()
    out = os.path.join(root, BUILD_DIR)
    os.makedirs(out, exist_ok=True)
    classes = os.path.join(out, "classes")
    stamp = os.path.join(out, "classes.stamp")
    with open(os.path.join(out, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(stamp) and open(stamp).read() == key:
            return classpath(root)
        shutil.rmtree(classes, ignore_errors=True)
        os.makedirs(classes)
        argfile = os.path.join(out, "sources.txt")
        with open(argfile, "w") as f:
            f.write("\n".join(srcs) + "\n")
        jars = os.path.join(spark_jars(), "*")
        cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
               "-cp", jars, "scala.tools.nsc.Main", "-nowarn",
               "-d", classes, "-classpath", jars, "@" + argfile]
        proc = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
        if proc.returncode != 0:
            raise RuntimeError("scalac failed with code %d" % proc.returncode)
        with open(stamp, "w") as f:
            f.write(key)
    return classpath(root)


if __name__ == "__main__":
    try:
        print(build(os.getcwd()))
    except RuntimeError as e:
        print("build failed: %s" % e, file=sys.stderr)
        sys.exit(2)
