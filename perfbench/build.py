"""Build step of the benchmark: compiles the checked-out tree, then the harness.

The repository's `src/main` sources and the harness under `perfbench/harness`
are compiled with the Scala compiler that ships in Spark's `jars/` directory
(the same Scala version `build.sbt` names), into `.bench_build/` at the root
of the checkout. A digest of every source file and of the Spark jar list is
stored beside the classes; a later run reuses them only when the digest
still matches, so a run never measures classes built from other sources.

Usage: python3 perfbench/build.py   (prints the classpath it built)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build")
HARNESS = os.path.join(ROOT, "perfbench", "harness")
JAVA_OPTS = ["-XX:-UsePerfData", "-Xss8m", "-Xmx2g"]


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else beside spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BuildError("no Spark installation with a Scala compiler found "
                         "(set SPARK_HOME)")
    return jars


def sources():
    repo = sorted(glob.glob(os.path.join(ROOT, "src", "main", "**", "*.scala"),
                            recursive=True))
    harness = sorted(glob.glob(os.path.join(HARNESS, "*.scala")))
    if not repo:
        raise BuildError(f"no Scala sources under {ROOT}/src/main")
    if not harness:
        raise BuildError(f"no harness sources under {HARNESS}")
    return repo, harness


def digest(files, jars):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    for j in sorted(os.listdir(jars)):
        h.update(j.encode())
    return h.hexdigest()


def scalac(jars, classpath, dest, files):
    os.makedirs(dest)
    argfile = dest + ".args"
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + JAVA_OPTS + [f"-Djava.io.tmpdir={tmp}", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", dest, "-classpath", classpath,
           "@" + argfile])
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, env=dict(os.environ, TMPDIR=tmp))
    os.remove(argfile)
    if p.returncode != 0:
        raise BuildError(f"scalac failed for {dest}:\n{p.stdout[-4000:]}")


def build():
    """Compile if the sources changed; return the run-time classpath."""
    jars = spark_jars()
    repo, harness = sources()
    stamp = digest(repo + harness, jars)
    classes = os.path.join(BUILD, "classes")
    harness_out = os.path.join(BUILD, "harness")
    stamp_file = os.path.join(BUILD, "stamp")
    spark_cp = os.path.join(jars, "*")
    classpath = os.pathsep.join([harness_out, classes, spark_cp])
    try:
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                return classpath, stamp
    except FileNotFoundError:
        pass
    os.makedirs(BUILD, exist_ok=True)
    for d in (classes, harness_out, stamp_file):
        if os.path.isdir(d):
            shutil.rmtree(d)
        elif os.path.exists(d):
            os.remove(d)
    scalac(jars, spark_cp, classes, repo)
    scalac(jars, os.pathsep.join([classes, spark_cp]), harness_out, harness)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classpath, stamp


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
