"""Build for the benchmark: compiles the program (`src/main/scala`) and the
benchmark's own sources (`pipebench/src`) with the Scala compiler that ships
in Spark's jar directory, into `.bench_build/`. A build is reused while the
hash of every source file is unchanged.

    python3 pipebench/build.py        # from the repository root
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BuildError("no Spark jar directory with a Scala compiler (set SPARK_HOME)")
    return jars


def sources(repo):
    program = sorted(glob.glob(os.path.join(repo, "src/main/scala/**/*.scala"), recursive=True))
    if not program:
        raise BuildError("no program sources under src/main/scala")
    return program + sorted(glob.glob(os.path.join(HERE, "src", "*.scala")))


def build(repo):
    """Returns (classes directory, Spark jar directory)."""
    jars = spark_jars()
    srcs = sources(repo)
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, repo).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    out = os.path.abspath(os.path.join(repo, ".bench_build", "pipebench-" + h.hexdigest()[:16]))
    classes = os.path.join(out, "classes")
    if os.path.exists(os.path.join(out, "ok")):
        return classes, jars
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    p = subprocess.run(
        ["java", "-Xmx3g", "-Xss16m", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
         "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", classes, "@" + argfile],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if p.returncode != 0:
        raise BuildError(p.stdout[-4000:])
    open(os.path.join(out, "ok"), "w").close()
    return classes, jars


if __name__ == "__main__":
    try:
        print(build(".")[0])
    except BuildError as e:
        sys.exit("build failed: %s" % e)
