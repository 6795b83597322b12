#!/usr/bin/env python3
"""Build file of the benchmark: compiles graft's sources (src/main/scala)
together with the benchmark's own (perfbench/src) with the Scala compiler
that ships in Spark's jar directory, into <target>/perfbench/classes.

The target directory is $CARGO_TARGET_DIR, else .bench_build. A build is
skipped when a stamp of every source file's path and content is unchanged.

    python3 perfbench/build.py          # from the repository root
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

SOURCE_DIRS = ["src/main/scala", "perfbench/src"]


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the jars directory of
    the first Spark distribution whose spark-submit is on PATH."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = os.path.join(d, "spark-submit")
        if os.path.isfile(submit):
            jars = os.path.join(os.path.dirname(os.path.dirname(os.path.realpath(submit))), "jars")
            if glob.glob(os.path.join(jars, "spark-core_*.jar")):
                return jars
    raise RuntimeError("Spark not found: set SPARK_HOME or put spark-submit on PATH")


def target_dir(root):
    return os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")


def sources(root):
    out = []
    for d in SOURCE_DIRS:
        out += glob.glob(os.path.join(root, d, "**", "*.scala"), recursive=True)
    return sorted(out)


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(root):
    """Returns the classes directory; raises on a failed build."""
    main_dir = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(main_dir):
        raise RuntimeError("graft sources not found at src/main/scala "
                           "(run from the repository root)")
    jars = spark_jars()
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise RuntimeError(f"no Scala compiler in {jars}")
    files = sources(root)
    tgt = target_dir(root)
    classes = os.path.join(tgt, "classes")
    stamp_file = os.path.join(tgt, "classes.stamp")
    want = stamp(files)
    if os.path.isdir(classes) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == want:
                return classes
    os.makedirs(tgt, exist_ok=True)
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(jars, "*")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", cp] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        raise RuntimeError("compilation failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as fh:
        fh.write(want + "\n")
    return classes


if __name__ == "__main__":
    try:
        print(build(os.getcwd()))
    except Exception as e:  # noqa: BLE001 - report and fail
        sys.stderr.write(f"build failed: {e}\n")
        sys.exit(2)
