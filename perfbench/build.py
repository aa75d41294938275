"""Build file of the benchmark harness.

Compiles the engine's sources (src/main/scala) together with the
harness (perfbench/harness) into BUILD_DIR/classes with the Scala
compiler that ships among the Spark jars, and stamps the output with a
digest of every input so an unchanged tree is not rebuilt. The Spark
jar directory is $SPARK_HOME/jars, else the `unmanagedBase` the
repository's build.sbt names.

Usage: python3 perfbench/build.py   (from the repository root)
"""

import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.getcwd()
BUILD_DIR = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD_DIR, "classes")
STAMP = os.path.join(BUILD_DIR, "stamp")
HARNESS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "harness")


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    cands = [os.path.join(home, "jars")] if home else []
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m:
            cands.append(m.group(1))
    except OSError:
        pass
    for d in cands:
        jars = sorted(glob.glob(os.path.join(d, "*.jar")))
        if jars:
            return jars
    raise BuildError("no Spark jars: set SPARK_HOME or keep build.sbt's unmanagedBase")


def sources():
    src = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not src:
        raise BuildError("no engine sources under src/main/scala")
    return src + sorted(glob.glob(os.path.join(HARNESS, "*.scala")))


def classpath():
    """Runtime classpath: the compiled classes, then every Spark jar."""
    return ":".join([CLASSES] + spark_jars())


def build():
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs + jars:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    digest = h.hexdigest()
    if os.path.exists(STAMP) and open(STAMP).read() == digest:
        return digest
    compiler = [j for j in jars if re.search(r"/scala-(compiler|library|reflect)-[0-9.]+\.jar$", j)]
    if len(compiler) != 3:
        raise BuildError("the Spark jars lack scala-compiler/library/reflect")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", ":".join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", ":".join(jars), "-d", CLASSES] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    with open(STAMP, "w") as f:
        f.write(digest)
    return digest


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(2)
