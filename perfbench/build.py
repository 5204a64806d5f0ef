"""Build file of the benchmark: compiles graft's main sources together
with the benchmark's own sources (perfbench/src) into one class
directory, using the Scala compiler and the Spark jars the toolchain
ships: $SPARK_HOME/jars, else the `unmanagedBase` of the repository's
build.sbt (the jars graft itself compiles against).

    python3 perfbench/build.py            # from the repository root

The output goes to .bench_build/graftbench/classes and is rebuilt only
when a source file changes.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

OUT = os.path.join(".bench_build", "graftbench")


def spark_jars():
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open("build.sbt") as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise SystemExit("build: set SPARK_HOME; build.sbt names no unmanagedBase")
    return m.group(1)


def sources():
    found = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    if not found:
        raise SystemExit("build: no graft sources under src/main/scala; "
                         "run from the root of a graft checkout")
    return found + sorted(glob.glob("perfbench/src/**/*.scala", recursive=True))


def classpath_jars():
    jars = sorted(glob.glob(os.path.join(spark_jars(), "*.jar")))
    if not jars:
        raise SystemExit(f"build: no jars in {spark_jars()}")
    return jars


def build():
    """Returns the class directory, compiling first if sources changed."""
    srcs = sources()
    digest = hashlib.sha256()
    for s in srcs:
        digest.update(s.encode())
        with open(s, "rb") as f:
            digest.update(f.read())
    stamp = digest.hexdigest()
    classes = os.path.join(OUT, "classes")
    stamp_file = os.path.join(classes, ".stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    jars = classpath_jars()
    scalac = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(scalac),
           "scala.tools.nsc.Main", "-nowarn", "-usejavacp:false",
           "-classpath", os.pathsep.join(jars), "-d", tmp] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        raise SystemExit(f"build: scalac failed with code {r.returncode}")
    with open(os.path.join(tmp, ".stamp"), "w") as f:
        f.write(stamp)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    return classes


if __name__ == "__main__":
    print(build())
