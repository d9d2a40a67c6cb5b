#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program's main sources and the
benchmark harness (perfbench/harness) into .bench_build/classes with the
scalac that ships with Spark, against the Spark jars. Skips the build when
no source changed.

Usage: python3 perfbench/build.py
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _spark_jars():
    """The Spark distribution's jars: $SPARK_HOME/jars, else pyspark's copy."""
    home = os.environ.get("SPARK_HOME", "")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    import pyspark
    return os.path.join(os.path.dirname(pyspark.__file__), "jars")


SPARK_JARS = _spark_jars()
SCALA = "2.13.17"
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    harness = sorted(glob.glob(os.path.join(ROOT, "perfbench/harness/*.scala")))
    return main, harness


def classpath():
    return CLASSES + os.pathsep + os.path.join(SPARK_JARS, "*")


def build():
    """Compile if needed; returns the runtime classpath. Raises on failure."""
    main, harness = sources()
    if not main:
        raise RuntimeError("no program sources under src/main/scala")
    digest = hashlib.sha256()
    for f in main + harness:
        digest.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp_path = os.path.join(BUILD, "classes.stamp")
    stamp = digest.hexdigest()
    if os.path.exists(stamp_path) and open(stamp_path).read() == stamp:
        return classpath()
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    compiler = os.pathsep.join(os.path.join(SPARK_JARS, f"scala-{n}-{SCALA}.jar")
                               for n in ("compiler", "library", "reflect"))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", compiler, "scala.tools.nsc.Main",
           "-nowarn", "-d", CLASSES, "-classpath", os.path.join(SPARK_JARS, "*")]
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = subprocess.run(cmd + main + harness, stdout=out, stderr=subprocess.STDOUT,
                            cwd=ROOT, timeout=850).returncode
    if rc != 0:
        raise RuntimeError(f"scalac failed (exit {rc}); see {log}")
    with open(stamp_path, "w") as fh:
        fh.write(stamp)
    return classpath()


if __name__ == "__main__":
    try:
        print(build())
    except Exception as e:  # noqa: BLE001 - report any build failure
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(1)
