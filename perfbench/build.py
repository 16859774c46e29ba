"""Build file of the benchmark.

Compiles graft's own sources (src/main/scala) together with the
benchmark's (perfbench/src) using the Scala compiler that ships among the
Spark jars the project builds against, so a plain source checkout needs
no sbt and no network. Output goes under $CARGO_TARGET_DIR (default
.bench_build) in the checkout; a content stamp skips the compile when no
source changed.

    python3 perfbench/build.py        # prints the runtime classpath
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(ROOT, "perfbench", "src")]
RESOURCES = os.path.join(ROOT, "src", "main", "resources")


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory build.sbt names."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    with open(os.path.join(ROOT, "build.sbt"), encoding="utf-8") as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m or not os.path.isdir(m.group(1)):
        raise RuntimeError("no Spark jars: set SPARK_HOME")
    return m.group(1)


def sources():
    found = []
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            raise RuntimeError(f"missing source directory {os.path.relpath(d, ROOT)}")
        for dirpath, _, files in os.walk(d):
            found += [os.path.join(dirpath, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def stamp(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def ensure_built():
    """Compile if needed; return the runtime classpath."""
    jars = spark_jars()
    srcs = sources()
    out = build_dir()
    classes = os.path.join(out, "classes")
    classpath = classes + os.pathsep + os.path.join(jars, "*")
    want = stamp(srcs)
    stamp_file = os.path.join(out, "stamp")
    if os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read() == want:
                return classpath
    staging = classes + ".new"
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    compiler = [os.path.join(jars, j) for j in sorted(os.listdir(jars))
                if re.match(r"scala-(compiler|library|reflect)-2\.13\.\d+\.jar$", j)]
    if len(compiler) != 3:
        raise RuntimeError(f"no Scala 2.13 compiler among {jars}")
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    subprocess.run([java, "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.pathsep.join(compiler),
                    "scala.tools.nsc.Main", "-nowarn", "-d", staging,
                    "-classpath", os.path.join(jars, "*"), "@" + argfile],
                   check=True, stdout=sys.stderr)
    if os.path.isdir(RESOURCES):
        shutil.copytree(RESOURCES, staging, dirs_exist_ok=True)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(staging, classes)
    with open(stamp_file, "w") as f:
        f.write(want)
    return classpath


if __name__ == "__main__":
    print(ensure_built())
