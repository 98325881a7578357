"""Build file of the graft workload benchmark.

Compiles graft's library sources (`src/main/scala`, plus the resources
under `src/main/resources`) together with the benchmark harness
(`perfbench/src`) into `<build>/classes`, with the Scala
compiler that ships in Spark's jar directory; no sbt, no downloads.  A
stamp of the source contents skips the compile when nothing changed.

    python3 perfbench/build.py [--build-dir .bench_build]

The Spark jar directory is `$SPARK_HOME/jars`, else the one the project's
build.sbt names as its `unmanagedBase`.
"""
import argparse
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
SOURCE_DIRS = [os.path.join("src", "main", "scala"), os.path.join("perfbench", "src")]
RESOURCES = os.path.join("src", "main", "resources")


def spark_jars(root):
    if "SPARK_HOME" in os.environ:
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        sbt = os.path.join(root, "build.sbt")
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                      open(sbt).read() if os.path.exists(sbt) else "")
        if not m:
            raise SystemExit("build: set SPARK_HOME, or name the jars as unmanagedBase in build.sbt")
        jars = m.group(1)
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit(f"build: no Spark jars with a Scala compiler under {jars}")
    return jars


def sources(root):
    files = []
    res = os.path.join(root, RESOURCES)
    for dirpath, _, names in os.walk(res):
        files += [os.path.join(dirpath, n) for n in names]
    for d in SOURCE_DIRS:
        base = os.path.join(root, d)
        if not os.path.isdir(base):
            raise SystemExit(f"build: source directory {d} is missing")
        for dirpath, _, names in os.walk(base):
            files += [os.path.join(dirpath, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def stamp_of(files, jars):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    return h.hexdigest()


def build(root, build_dir):
    """Compile if needed; return (classpath, source stamp, seconds the
    compile took or None when it was skipped)."""
    jars = spark_jars(root)
    files = sources(root)
    stamp = stamp_of(files, jars)
    classes = os.path.join(build_dir, "classes")
    stamp_file = os.path.join(build_dir, "classes.stamp")
    cp = classes + os.pathsep + os.path.join(jars, "*")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return cp, stamp, None
    t0 = time.monotonic()
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(build_dir, "sources.txt")
    res = os.path.join(root, RESOURCES)
    if os.path.isdir(res):
        shutil.copytree(res, classes, dirs_exist_ok=True)
    with open(argfile, "w") as f:
        f.write("\n".join(s for s in files if s.endswith(".scala")))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", classes,
           "-cp", os.path.join(jars, "*"), "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit(f"build: scalac failed with code {r.returncode}")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp, stamp, time.monotonic() - t0


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--build-dir", default=os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    a = ap.parse_args()
    root = os.path.dirname(HERE)
    os.makedirs(a.build_dir, exist_ok=True)
    cp, _, secs = build(root, os.path.abspath(a.build_dir))
    print(cp)
    if secs is not None:
        print(f"compiled in {secs:.1f} s", file=sys.stderr)
