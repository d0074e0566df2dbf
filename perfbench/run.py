#!/usr/bin/env python3
"""Fixed-work drain benchmark for graft's CDC and training-data prep paths.

    python3 perfbench/run.py --workload cdc_hot --seed 1 --seconds 23 --trace 0

Builds the engine and the benchmark (perfbench/build.py), then runs the
workload in its own JVM on local[nproc]. Each workload drains a fixed
number of timed epochs after untimed warm-up epochs in the same JVM. For
the CDC workloads --seconds is that number (epochs take about one second
each on 4 cores); prep_stream always times 3 epochs of ~8 s.

The last stdout line is the result, {"correct", "attempted", "failed",
"metrics"}. The line before it is {"info": ...}: seed, nproc, loadavg at
start and end, the sha256 of src/main/scala, the input digest, the tail
percentile with its sample count, every epoch time and every check.

--trace 0 reports the end-to-end metrics of one untraced JVM.
--trace 1 reports the per-layer metrics. The JVM drains four shorter
segments over one stream: untraced, traced (listeners, then spans around
isolated layer calls), untraced again, and untraced on one core. Tracing
overhead (traced against the mean of the two untraced segments around it)
and one-core scaling come from comparing their rows/s.
Spans are written to <build dir>/traces/<workload>-seed<n>.jsonl.

perfbench/README.md explains the workloads and what each metric means.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("cdc_hot", "cdc_wide", "prep_stream")
# wall-clock budget of one invocation, in seconds
DEADLINE_S = 170
HEAP = "3g"
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

END_TO_END = {
    "setup_s": "s", "rows_per_s": "1/s", "epoch_p50_ms": "ms",
    "epoch_tail_ms": "ms", "verify_s": "s", "state_mb": "MB",
    "rss_peak_mb": "MB",
}

# every per-layer metric, with its unit; a layer a workload does not have
# reports 0 (e.g. sources.decode_ms on prep_stream, functions.* on CDC)
PER_LAYER = {
    "sources.decode_ms": "ms", "sources.offsets_ms": "ms",
    "sources.rows_in": "count", "sources.lag_rows": "count",
    "operators.stages_ms": "ms", "operators.keep_ratio": "ratio",
    "operators.merge_ms": "ms", "operators.merge_state_rows": "count",
    "operators.checksum_ms": "ms", "operators.reference_ms": "ms",
    "streaming.add_batch_ms": "ms", "streaming.plan_ms": "ms",
    "streaming.commit_ms": "ms", "streaming.state_write_ms": "ms",
    "streaming.state_rows": "count", "streaming.tombstone_ratio": "ratio",
    "streaming.state_files": "count", "streaming.prep_state_mb": "MB",
    "functions.bloom_ms": "ms", "functions.dedup_ms": "ms",
    "functions.embed_gate_ms": "ms", "functions.lm_ms": "ms",
    "functions.quality_ms": "ms", "functions.admit_ratio": "ratio",
    "spark.jobs_per_epoch": "count", "spark.stages_per_epoch": "count",
    "spark.tasks_per_epoch": "count", "spark.idle_ms": "ms",
    "spark.task_ms": "ms", "spark.cpu_ms": "ms", "spark.gc_ms": "ms",
    "spark.busy_ratio": "ratio", "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB", "spark.input_mb": "MB",
    "spark.output_mb": "MB", "spark.spill_mb": "MB",
    "spark.task_skew": "ratio", "spark.scaling_x": "x",
    "trace.overhead_rows_per_s": "1/s", "trace.overhead_pct": "%",
}


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def jvm_flags():
    """Module opens Spark needs on JDK 17 outside spark-submit, and the
    benchmark's log configuration (errors only, on stderr)."""
    flags = []
    for p in JDK17_OPENS:
        flags += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return flags + ["-Dspark.ui.enabled=false",
                    "-Dlog4j2.configurationFile=" + os.path.join(build.HERE, "log4j2.properties")]


def run_jvm(classes, args, cores, deadline):
    """The workload's JVM; returns its result dict. Raises on a non-zero
    exit or when the deadline passes (the JVM is killed and reaped first)."""
    work = os.path.join(build.build_dir(), f"work-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "result.json")
    cp = os.pathsep.join([classes] + build.spark_jars())
    cmd = (build.java_base() + [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC"] + jvm_flags() +
           ["-cp", cp, "graftbench.Main", "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--cores", str(cores),
            "--work", work, "--out", out])
    env = dict(os.environ, SPARK_LOCAL_IP="127.0.0.1")
    try:
        proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, env=env)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise RuntimeError("JVM killed at the run deadline")
        if code != 0:
            raise RuntimeError(f"JVM exited with {code}")
        with open(out) as fh:
            res = json.load(fh)
        if args.trace:
            dst = os.path.join(build.build_dir(), "traces")
            os.makedirs(dst, exist_ok=True)
            shutil.copyfile(os.path.join(work, "trace.jsonl"),
                            os.path.join(dst, f"{args.workload}-seed{args.seed}.jsonl"))
        return res
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    load_start = os.getloadavg()
    try:
        classes = build.build()
    except build.BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 2
    deadline = time.monotonic() + DEADLINE_S
    cores = nproc()
    info = {"workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace, "nproc": cores,
            "src_main_sha256": build.engine_tree_hash()}
    try:
        res = run_jvm(classes, args, cores, deadline)
    except RuntimeError as e:
        print(f"[perfbench] {e}", file=sys.stderr)
        return 3
    if args.trace:
        layers = res["per_layer"]
        unknown = set(layers) - set(PER_LAYER)
        if unknown:
            print(f"[perfbench] unlisted per-layer metrics: {sorted(unknown)}", file=sys.stderr)
            return 4
        metrics = {k: {"value": layers.get(k, 0.0), "unit": u} for k, u in PER_LAYER.items()}
        info["untraced_end_to_end"] = res["end_to_end"]
    else:
        e2e = res["end_to_end"]
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    info["run"] = res["info"]
    info["loadavg_start"] = load_start
    info["loadavg_end"] = os.getloadavg()
    result = {"correct": res["correct"], "attempted": res["attempted"],
              "failed": res["failed"], "metrics": metrics}
    print(json.dumps({"info": info}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
