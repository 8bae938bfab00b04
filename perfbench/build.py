"""Build file of the perfbench package.

Compiles the engine's sources (src/main/scala) together with the harness
(perfbench/scala) into <build dir>/classes-<source hash>/app.jar, with the
Scala compiler shipped in Spark's jar directory, the same toolchain and
jar set the root build.sbt compiles against. A build whose sources are
unchanged is reused. The classes go into a jar so the JVM can map them
from a class-data-sharing archive (see run.py).

    python3 perfbench/build.py            # builds into .bench_build/build
"""

import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SOURCE_DIRS = (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "scala"))


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BuildError("no Spark jar directory with a Scala compiler (set SPARK_HOME)")
    return jars


def sources():
    if not os.path.isdir(SOURCE_DIRS[0]):
        raise BuildError(f"no engine sources at {os.path.relpath(SOURCE_DIRS[0], ROOT)}")
    files = []
    for d in SOURCE_DIRS:
        files += glob.glob(os.path.join(d, "**", "*.scala"), recursive=True)
    return sorted(files)


def build(out_dir, log=sys.stderr):
    """Return the build directory for the current sources (holding
    app.jar), compiling them first if no earlier build matches."""
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    build_dir = os.path.join(out_dir, "classes-" + h.hexdigest()[:16])
    jar = os.path.join(build_dir, "app.jar")
    if os.path.exists(jar):
        return build_dir
    jars = spark_jars()
    os.makedirs(out_dir, exist_ok=True)
    for old in glob.glob(os.path.join(out_dir, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    classes = os.path.join(build_dir, "classes")
    os.makedirs(classes)
    argfile = os.path.join(out_dir, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", cp,
           "scala.tools.nsc.Main", "-nowarn", "-encoding", "UTF-8",
           "-classpath", cp, "-d", classes, "@" + argfile]
    print(f"[perfbench] compiling {len(files)} sources", file=log, flush=True)
    res = subprocess.run(cmd, stdout=log, stderr=log, timeout=800)
    if res.returncode != 0:
        shutil.rmtree(build_dir, ignore_errors=True)
        raise BuildError(f"scalac exited with {res.returncode}")
    with zipfile.ZipFile(jar + ".tmp", "w", zipfile.ZIP_STORED) as z:
        for d, _, fs in sorted(os.walk(classes)):
            for f in sorted(fs):
                z.write(os.path.join(d, f), os.path.relpath(os.path.join(d, f), classes))
    shutil.rmtree(classes)
    os.replace(jar + ".tmp", jar)
    return build_dir


if __name__ == "__main__":
    try:
        print(build(os.path.join(ROOT, ".bench_build", "build")))
    except BuildError as e:
        sys.exit(f"build failed: {e}")
