"""Build file of the benchmark: compiles the program (src/main/scala) and
the harness (perfbench/harness) with the Scala compiler that ships among the
Spark jars, into `.perfbench/build/classes` of the checkout, and packs them
as `.perfbench/build/app.jar` (class-data sharing needs jars).

The jar directory is the one build.sbt names in `unmanagedBase`; the
SPARK_JARS environment variable overrides it. A build is skipped when the
sources hash to the same stamp as the last build.

Usage: python3 perfbench/build.py
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".perfbench", "build")
CLASSES = os.path.join(OUT, "classes")
JAR = os.path.join(OUT, "app.jar")


def spark_jars():
    env = os.environ.get("SPARK_JARS")
    if env:
        return env
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        sys.exit("build.sbt names no unmanagedBase and SPARK_JARS is unset")
    return m.group(1)


def sources():
    found = []
    for base in ("src/main/scala", "perfbench/harness"):
        found += glob.glob(os.path.join(ROOT, base, "**", "*.scala"), recursive=True)
        found += glob.glob(os.path.join(ROOT, base, "**", "*.java"), recursive=True)
    return sorted(found)


def stamp(srcs):
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def classpath():
    return JAR + os.pathsep + os.path.join(spark_jars(), "*")


def build(log=sys.stderr):
    """Compile if the sources changed; returns the build stamp."""
    srcs = sources()
    if not any(p.endswith("Harness.scala") for p in srcs):
        raise RuntimeError("harness sources not found")
    if not any("/src/main/scala/" in p for p in srcs):
        raise RuntimeError("program sources not found under src/main/scala")
    want = stamp(srcs)
    stamp_file = os.path.join(OUT, "STAMP")
    if os.path.exists(stamp_file) and open(stamp_file).read() == want:
        return want
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    jars = os.path.join(spark_jars(), "*")
    args_file = os.path.join(OUT, "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", CLASSES, "-classpath", jars, "@" + args_file]
    print(f"[perfbench] compiling {len(srcs)} sources", file=log, flush=True)
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        print(r.stdout[-4000:], file=log)
        raise RuntimeError("compilation failed")
    with zipfile.ZipFile(JAR, "w", zipfile.ZIP_DEFLATED) as z:
        for d, _, files in sorted(os.walk(CLASSES)):
            for f in sorted(files):
                full = os.path.join(d, f)
                z.write(full, os.path.relpath(full, CLASSES))
    with open(stamp_file, "w") as f:
        f.write(want)
    return want


if __name__ == "__main__":
    build()
