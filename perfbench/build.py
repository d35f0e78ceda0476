"""Build file of the benchmark: compiles the engine (`src/main/scala`) and
the benchmark's own Scala sources (`perfbench/scala`) with the Scala
compiler that ships in Spark's jar directory, the same jars `build.sbt`
compiles against.

The classes go to `.bench_build/perfbench/classes-<hash>`, keyed by the
sources and the jar list, so a run after the first reuses them and the
compile never counts towards a run's set-up time.

    python3 perfbench/build.py        # build (or reuse) and print the class dir
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")


class BuildError(Exception):
    pass


def spark_jars():
    jars = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
    if not os.path.isdir(jars):
        raise BuildError(f"no Spark jar directory at {jars}; set SPARK_HOME")
    return jars


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                              recursive=True))
    if not engine:
        raise BuildError("no engine sources under src/main/scala: run from a checkout of the repo")
    return engine + sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))


def ensure():
    """Returns the directory of compiled classes, compiling if needed."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode() + b"\0")
        with open(p, "rb") as f:
            h.update(f.read() + b"\0")
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    classes = os.path.join(OUT, "classes-" + h.hexdigest()[:16])
    if os.path.isfile(os.path.join(classes, ".done")):
        return classes
    os.makedirs(OUT, exist_ok=True)
    for old in glob.glob(os.path.join(OUT, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    tmp = classes + ".tmp"
    os.makedirs(tmp)
    compiler = [glob.glob(os.path.join(jars, f"scala-{m}-2.13*.jar"))
                for m in ("compiler", "library", "reflect")]
    if not all(compiler):
        raise BuildError(f"no Scala 2.13 compiler jars in {jars}")
    argfile = os.path.join(tmp, ".sources")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", ":".join(c[0] for c in compiler),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", os.path.join(jars, "*"),
           "-d", tmp, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("compile failed:\n" + r.stdout[-4000:])
    os.remove(argfile)
    open(os.path.join(tmp, ".done"), "w").close()
    os.rename(tmp, classes)
    return classes


if __name__ == "__main__":
    try:
        print(ensure())
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(2)
