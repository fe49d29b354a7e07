"""Build the benchmark: compile graft's sources (src/main/scala) together
with the benchmark's own (perfbench/src) into one class directory.

Uses the Scala compiler that ships in Spark's jar directory
($SPARK_HOME/jars, else the jars bundled with the pyspark package), so
the build needs nothing beyond the Spark distribution and a JDK. The
output goes to $CARGO_TARGET_DIR (default .bench_build) under the repo
root, and is reused while the sources are unchanged.

    python3 perfbench/build.py      # prints the class path to use
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def out_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    cands = [os.path.join(home, "jars")] if home else []
    try:
        import pyspark
        cands.append(os.path.join(os.path.dirname(pyspark.__file__), "jars"))
    except ImportError:
        pass
    for c in cands:
        if os.path.isdir(c) and any(f.startswith("scala-compiler") for f in os.listdir(c)):
            return c
    raise SystemExit("perfbench: no Spark jar directory found (set SPARK_HOME)")


def sources():
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
    for r in roots:
        if not os.path.isdir(r):
            raise SystemExit(f"perfbench: source directory {os.path.relpath(r, ROOT)} is missing")
    files = []
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(files)


def build():
    """Compile if needed; return the class path for running the benchmark."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    out = out_dir()
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "classes.stamp")
    cp = classes + os.pathsep + os.path.join(jars, "*")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return cp
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args = os.path.join(out, "scalac.args")
    with open(args, "w") as fh:
        fh.write("\n".join(srcs))
    print(f"perfbench: compiling {len(srcs)} files", file=sys.stderr, flush=True)
    subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
         "-usejavacp", "-nowarn", "-d", tmp, "@" + args],
        check=True, stdout=sys.stderr)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp


if __name__ == "__main__":
    print(build())
