"""Build file of the benchmark: compiles the engine (src/main) together
with the benchmark's own sources (opbench/src) into one jar.

    python3 opbench/build.py        # prints the jar

The Scala compiler and the Spark runtime both come from the Spark jar
directory: $SPARK_HOME/jars, or else the `unmanagedBase` that the
repository's build.sbt names. Output lands under opbench/.build/<hash>,
keyed by a hash of every source, so an unchanged tree reuses its build.
"""

import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
RESOURCES = os.path.join(ROOT, "src", "main", "resources")


class BuildError(Exception):
    pass


def spark_jars():
    """The directory holding the Spark and Scala jars."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        with open(sbt, encoding="utf-8") as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise BuildError("no Spark jar directory: set SPARK_HOME")


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else "java"
    return exe if (not home or os.path.exists(exe)) else "java"


def _files(top, suffix=None):
    out = []
    for d, _, names in os.walk(top):
        out += [os.path.join(d, n) for n in names if suffix is None or n.endswith(suffix)]
    return sorted(out)


def build():
    """Compile if needed; return the jar. The classes go into a jar
    rather than a directory so that the JVM's class-data archive
    (see run.py) can hold them too."""
    sources = [f for d in SOURCE_DIRS for f in _files(d, ".scala")]
    engine = [f for f in sources if f.startswith(SOURCE_DIRS[0])]
    if not engine:
        raise BuildError("no engine sources under src/main/scala")
    resources = _files(RESOURCES) if os.path.isdir(RESOURCES) else []
    jars = spark_jars()
    h = hashlib.sha256()
    for f in sources + resources:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    out = os.path.join(HERE, ".build", h.hexdigest()[:16])
    jar = os.path.join(out, "opbench.jar")
    if os.path.isfile(jar):
        return jar
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "classes"))
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w", encoding="utf-8") as f:
        f.write("\n".join(sources) + "\n")
    compiler = os.pathsep.join(
        os.path.join(jars, f"scala-{m}-{v}.jar")
        for m, v in _scala_jars(jars))
    cmd = [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", compiler,
           "scala.tools.nsc.Main", "-nowarn", "-classpath", os.path.join(jars, "*"),
           "-d", os.path.join(tmp, "classes"), "@" + argfile]
    with open(os.path.join(tmp, "scalac.log"), "w") as log:
        rc = subprocess.call(cmd, stdout=log, stderr=subprocess.STDOUT)
    if rc != 0:
        with open(os.path.join(tmp, "scalac.log")) as log:
            sys.stderr.write(log.read()[-4000:])
        raise BuildError(f"scalac exited {rc}")
    for f in resources:
        dst = os.path.join(tmp, "classes", os.path.relpath(f, RESOURCES))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(f, dst)
    classes = os.path.join(tmp, "classes")
    with zipfile.ZipFile(os.path.join(tmp, "opbench.jar"), "w") as z:
        for f in _files(classes):
            z.write(f, os.path.relpath(f, classes))
    shutil.rmtree(classes)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return jar


def _scala_jars(jars):
    """(module, version) of the compiler, library and reflect jars."""
    names = os.listdir(jars)
    found = []
    for m in ("compiler", "library", "reflect"):
        hits = sorted(n for n in names if re.fullmatch(rf"scala-{m}-2\.13\.\d+\.jar", n))
        if not hits:
            raise BuildError(f"no scala-{m} 2.13 jar in {jars}")
        found.append((m, hits[-1][len(f"scala-{m}-"):-len(".jar")]))
    return found


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        sys.exit(f"build failed: {e}")
