"""Build file of the benchmark: compiles graft and the harness.

graft's sources (src/main/scala) and the harness (perfbench/scala) are
compiled together with the Scala compiler that ships in Spark's jars
directory, into .bench_build/classes-<hash of the sources>. A build whose
sources are unchanged is reused.

Run on its own with ``python3 perfbench/build.py``; run.py calls it.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
SOURCES = ["src/main/scala", "perfbench/scala"]


def spark_jars():
    """Spark's jars: $SPARK_HOME/jars, else the unmanagedBase build.sbt names."""
    dirs = [os.path.join(os.environ["SPARK_HOME"], "jars")] if os.environ.get("SPARK_HOME") else []
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        with open(sbt) as fh:
            dirs += re.findall(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    for d in dirs:
        if glob.glob(os.path.join(d, "scala-compiler-*.jar")):
            return d
    raise SystemExit("perfbench: no Spark jars directory with a Scala compiler "
                     "(set SPARK_HOME)")


def sources():
    files = []
    for d in SOURCES:
        if not os.path.isdir(os.path.join(ROOT, d)):
            raise SystemExit(f"perfbench: {d} is missing; run from the repository root")
        files += sorted(glob.glob(os.path.join(ROOT, d, "**", "*.scala"), recursive=True))
    return files


def build():
    """Return the classes directory, compiling it if the sources changed."""
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.isdir(out):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(spark_jars(), "*")
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
         "-d", tmp, "-classpath", cp, "@" + argfile],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("perfbench: compilation failed")
    os.rename(tmp, out)
    for old in glob.glob(os.path.join(BUILD, "classes-*")):  # earlier sources'
        if old != out:
            shutil.rmtree(old, ignore_errors=True)
    return out


if __name__ == "__main__":
    print(build())
