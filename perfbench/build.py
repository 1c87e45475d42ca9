"""Build file of the benchmark.

Compiles the program (src/main/scala) together with the benchmark's own
sources (perfbench/scala) with the Scala compiler that ships in Spark's
jar directory: $SPARK_HOME/jars, else the directory the project's
build.sbt names as its `unmanagedBase`. Output goes to <build dir>/classes;
a stamp over every input skips a build that is already current.

Usage: python3 perfbench/build.py   (prints the run classpath)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SOURCES = [os.path.join(ROOT, "src", "main", "scala"),
           os.path.join(ROOT, "perfbench", "scala")]


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return os.path.join(ROOT if not os.path.isabs(d) else "", d, "perfbench")


def spark_jars():
    if "SPARK_HOME" in os.environ:
        d = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        with open(os.path.join(ROOT, "build.sbt")) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        if not m:
            raise SystemExit("set SPARK_HOME: build.sbt names no unmanagedBase")
        d = m.group(1)
    jars = sorted(glob.glob(os.path.join(d, "*.jar")))
    if not jars:
        raise SystemExit(f"no Spark jars under {d}")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def sources():
    out = []
    for d in SOURCES:
        if not os.path.isdir(d):
            raise SystemExit(f"missing source directory {d}")
        for base, _, files in os.walk(d):
            out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build():
    """Compile if needed; returns the classpath to run with."""
    srcs, jars = sources(), spark_jars()
    h = hashlib.sha256()
    for f in srcs:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    h.update("\n".join(jars).encode())
    stamp = h.hexdigest()
    out = build_dir()
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "classes.stamp")
    cp = ":".join([classes] + jars)
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return cp
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(out, "scalac.args")
    with open(argfile, "w") as fh:
        fh.write("\n".join(["-classpath", ":".join(jars), "-d", classes, "-nowarn"] + srcs))
    rc = subprocess.run([java(), "-Xmx2g", "-Xss8m", "-cp", ":".join(jars), "scala.tools.nsc.Main",
                         "@" + argfile], stdout=sys.stderr, timeout=800).returncode
    if rc != 0:
        raise SystemExit(f"build failed: scalac exited with {rc}")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp


if __name__ == "__main__":
    print(build())
