"""Build file of the benchmark: compiles the engine (`src/main/scala`) and
the benchmark (`graftbench/src`) with the Scala compiler that ships in the
Spark distribution's jars, into `.bench_build/graftbench/`.

Each of the two class trees is rebuilt only when a hash of its sources
changes. Run it directly (`python3 graftbench/build.py`) or let `run.py`
call it.
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "graftbench")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")


def spark_jars():
    return os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")


def sources(root):
    found = []
    for d, _, files in os.walk(root):
        found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def compile_tree(name, srcs, classpath):
    """Compiles `srcs` into OUT/<name> unless its stamp matches; returns
    the class directory."""
    dest = os.path.join(OUT, name)
    stamp = os.path.join(OUT, name + ".stamp")
    key = digest(srcs) + ":" + classpath
    if os.path.isdir(dest) and os.path.exists(stamp):
        with open(stamp) as fh:
            if fh.read() == key:
                return dest
    shutil.rmtree(dest, ignore_errors=True)
    os.makedirs(dest)
    jars = os.path.join(spark_jars(), "*")
    cmd = ["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", dest, "-classpath", classpath] + srcs
    print(f"build: compiling {len(srcs)} sources into {dest}", file=sys.stderr)
    res = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if res.returncode != 0:
        raise SystemExit(f"build: scalac failed for {name}")
    with open(stamp, "w") as fh:
        fh.write(key)
    return dest


def build():
    """Returns the runtime classpath, compiling what changed."""
    if not os.path.isdir(ENGINE_SRC) or not sources(ENGINE_SRC):
        raise SystemExit(f"build: no engine sources under {ENGINE_SRC}")
    if not os.path.isdir(spark_jars()):
        raise SystemExit(f"build: no Spark jars at {spark_jars()} (set SPARK_HOME)")
    jars = os.path.join(spark_jars(), "*")
    engine = compile_tree("engine", sources(ENGINE_SRC), jars)
    bench = compile_tree("bench", sources(BENCH_SRC), engine + os.pathsep + jars)
    return os.pathsep.join([bench, engine, jars])


if __name__ == "__main__":
    print(build())
