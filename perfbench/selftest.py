#!/usr/bin/env python3
"""Self-tests of the benchmark's own code (generators, tail percentile,
idle-interval union, serial apply model):

    python3 perfbench/selftest.py

Builds like run.py, then runs graftbench.SelfTest in one small JVM.
"""
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import run  # noqa: E402


def main():
    try:
        classes = build.build()
    except build.BuildError as e:
        print(f"[selftest] build failed: {e}", file=sys.stderr)
        return 2
    cp = os.pathsep.join([classes] + build.spark_jars())
    cmd = build.java_base() + ["-Xmx1g"] + run.jvm_flags() + ["-cp", cp, "graftbench.SelfTest"]
    env = dict(os.environ, SPARK_LOCAL_IP="127.0.0.1")
    return subprocess.run(cmd, env=env, timeout=600).returncode


if __name__ == "__main__":
    sys.exit(main())
