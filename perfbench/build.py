#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala) and
the benchmark's Scala sources (perfbench/src) with the Scala compiler that
ships in the Spark distribution, into <build dir>/classes-<source hash>.

The build dir is $CARGO_TARGET_DIR when set, else .bench_build at the
repository root. A finished build is reused while no source changes.

    python3 perfbench/build.py          # prints the classes directory
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")


class BuildError(Exception):
    pass


def spark_home():
    """$SPARK_HOME, else the distribution whose spark-submit is on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home:
        raise BuildError("no Spark distribution: set SPARK_HOME")
    return home


def spark_jars():
    """The Spark distribution's jars: the runtime classpath, and the Scala
    compiler the build uses."""
    home = spark_home()
    jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar")))
    if not any(os.path.basename(j).startswith("scala-compiler") for j in jars):
        raise BuildError(f"no Scala compiler among the jars of {home}")
    return jars


def sources(root):
    out = []
    for d, _, files in os.walk(root):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def tree_hash(files, base=ROOT):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, base).encode())
        h.update(b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
        h.update(b"\0")
    return h.hexdigest()


def engine_tree_hash():
    """sha256 over the paths and contents of every src/main/scala file."""
    return tree_hash(sources(ENGINE_SRC))


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def java_base():
    """`java` with its temp files (native libraries Spark unpacks) kept in
    the build dir and no perf-data file written outside it."""
    tmp = os.path.join(build_dir(), "tmp")
    os.makedirs(tmp, exist_ok=True)
    return ["java", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]


def build(log=sys.stderr):
    engine = sources(ENGINE_SRC)
    bench = sources(BENCH_SRC)
    if not engine:
        raise BuildError(f"no engine sources under {ENGINE_SRC}")
    if not bench:
        raise BuildError(f"no benchmark sources under {BENCH_SRC}")
    key = tree_hash(engine + bench)[:16]
    out = os.path.join(build_dir(), f"classes-{key}")
    if os.path.exists(os.path.join(out, ".built")):
        return out
    jars = spark_jars()
    cp = os.pathsep.join(jars)
    tmp = f"{out}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    print(f"[build] compiling {len(engine)} engine + {len(bench)} benchmark files",
          file=log, flush=True)
    cmd = java_base() + ["-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", cp] + engine + bench
    r = subprocess.run(cmd, stdout=log, stderr=log, timeout=800)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError(f"scalac failed with code {r.returncode}")
    open(os.path.join(tmp, ".built"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    for old in glob.glob(os.path.join(build_dir(), "classes-*")):
        if old != out:
            shutil.rmtree(old, ignore_errors=True)
    return out


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"[build] {e}", file=sys.stderr)
        sys.exit(2)
