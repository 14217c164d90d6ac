"""term_spark benchmark: one workload, one closed-loop client, one JVM.

Usage (from the repository root)::

    python3 perfbench/run.py --workload monitor_history --seed 1 --seconds 20 --trace 0

Set-up (session start, seeded input generation, oracles, warm-up) is
timed as ``setup_s``; then operations run back to back for
``--seconds`` (at least ``MIN_OPS`` of them). The end-to-end metrics
count the work of an operation (Spark jobs, bytes read and written by
the client, the driver JVM and its workers): on a shared host the time
of the same operation moves with the neighbours' load by more than a
regression bound, so times are reported in the detail line and the
traced run instead. Every operation's output is checked outside its
timed steps. The last stdout line is the JSON result; the line before
it carries details (seed, wall and CPU seconds, MiB and jobs of every
operation, tail percentile, workload properties).

``--trace 1`` alternates untraced and traced operations: traced ones
record spans and Spark counters and give the per-layer metrics, and
the difference between the two halves is the tracing overhead. Spans
are written to ``.perfbench/traces/`` when the run ends.
"""

from __future__ import annotations

import argparse
import collections
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCRATCH = os.path.join(ROOT, ".perfbench")
MIN_OPS = 3


def _env(cpus: int):
    """Keep every file Spark and Python write inside the checkout."""
    tmp = os.path.join(SCRATCH, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(SCRATCH, "spark-local")
    os.environ.setdefault("TERM_SPARK_DRIVER_MEM", "2g")
    # JAVA_TOOL_OPTIONS also reaches the launcher JVM spark-submit starts.
    # C1 only: with the C2 compiler an operation's CPU time kept falling
    # for 14 index passes or 60 monitoring operations, longer than a run
    # can warm up, so the median depended on how many operations fitted.
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, [
        os.environ.get("JAVA_TOOL_OPTIONS"), f"-Djava.io.tmpdir={tmp}",
        "-XX:-UsePerfData", "-XX:TieredStopAtLevel=1"]))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)


class Context:
    def __init__(self, workload, seed):
        import numpy as np

        from tracing import Tracer

        self.seed = seed
        self.rng = np.random.default_rng(seed)
        self.tracer = Tracer()
        self.run_dir = os.path.join(SCRATCH, f"run-{workload}")
        shutil.rmtree(self.run_dir, ignore_errors=True)
        self.spark = self.probe = None
        self.op_index = 0

    def path(self, name):
        return os.path.join(self.run_dir, name)


def _stop_spark(spark):
    """Stop the session and wait for the gateway JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _traced_op(ctx, workload, ids):
    probe, tracer = ctx.probe, ctx.tracer
    written = probe.write_bytes()
    with probe.jobs_in(ids), tracer.span("op"):
        out = workload.op(ctx, True)
    stats = probe.job_stats(ids)
    for key in ("jobs", "stages", "tasks", "failed_tasks"):
        tracer.count(f"spark.{key}", stats[key])
    tracer.count("spark.write_mb", (probe.write_bytes() - written) / 2**20)
    return out


def run(workload_name, seed, seconds, trace):
    from metrics import (END_TO_END, PER_LAYER, layer_metrics, median,
                         result_line, tail_percentile)
    from tracing import SparkProbe, instrument
    from workloads import WORKLOADS

    cpus = len(os.sched_getaffinity(0))
    _env(cpus)
    ctx = Context(workload_name, seed)
    workload = WORKLOADS[workload_name]()
    tracer = ctx.tracer
    if trace:
        instrument(tracer)
        tracer.enabled, tracer.op_id = True, "setup"

    os.sync()  # write back what earlier runs left dirty before timing starts
    t0 = time.perf_counter()
    from term_spark.session import get_spark
    with tracer.span("session.start"):
        ctx.spark = get_spark(f"perfbench-{workload_name}",
                              shuffle_partitions=cpus, master=f"local[{cpus}]")
    try:
        ctx.probe = SparkProbe(ctx.spark)
        workload.setup(ctx)
        setup_s = time.perf_counter() - t0
        tracer.enabled = False
        os.sync()  # the set-up's input files, so their write-back is not timed

        ops = collections.defaultdict(list)  # per successful operation
        traced_s, untraced_s, untraced_cpu_s, traced_ok = [], [], [], []
        failed = 0
        start = time.perf_counter()
        i = 0
        while i < MIN_OPS or time.perf_counter() - start < seconds:
            traced = bool(trace) and i % 2 == 0
            ctx.op_index = tracer.op_id = i
            tracer.enabled = traced
            ids = []
            try:
                if traced:
                    sw = _traced_op(ctx, workload, ids)
                else:
                    with ctx.probe.jobs_in(ids):
                        sw = workload.op(ctx, False)
            except Exception:
                failed += 1
                traceback.print_exc()
            else:
                ops["s"].append(sw.seconds)
                ops["cpu_s"].append(sw.cpu_seconds)
                ops["read_mb"].append(sw.read_bytes / 2**20)
                ops["write_mb"].append(sw.write_bytes / 2**20)
                ops["jobs"].append(len(ids))
                if traced:
                    traced_s.append(sw.seconds)
                    traced_ok.append(i)
                else:
                    untraced_s.append(sw.seconds)
                    untraced_cpu_s.append(sw.cpu_seconds)
            finally:
                tracer.enabled = False
            i += 1
        memory = {"spark.jvm_rss_peak_mb": ctx.probe.rss_peak_mb(),
                  "jvm_heap_live_mb": ctx.probe.heap_live_mb()}
    finally:
        _stop_spark(ctx.spark)
    shutil.rmtree(ctx.run_dir, ignore_errors=True)

    secs = ops["s"]
    tail = tail_percentile(secs)
    detail = {"workload": workload_name, "seed": seed, "trace": trace,
              "cpus": cpus, "ops": i, "samples": len(secs),
              "op_p50_s": median(secs), "op_cpu_p50_s": median(ops["cpu_s"]),
              **{f"op_{k}": [round(x, 4) for x in v] for k, v in ops.items()},
              "op_tail": None if tail is None else {"percentile": tail[0], "s": tail[1]},
              "memory_mb": {k: round(v, 1) for k, v in memory.items()},
              **workload.detail()}
    if trace:
        values = layer_metrics([tracer.totals(op) for op in traced_ok],
                               tracer.totals("setup"), traced_s, untraced_s,
                               untraced_cpu_s)
        values["spark.jvm_rss_peak_mb"] = memory["spark.jvm_rss_peak_mb"]
        catalogue = PER_LAYER
        os.makedirs(os.path.join(SCRATCH, "traces"), exist_ok=True)
        tracer.dump(os.path.join(SCRATCH, "traces", f"{workload_name}-seed{seed}.json"),
                     {"detail": detail})
    else:
        values = {"setup_s": setup_s, "spark_jobs_per_op": median(ops["jobs"]),
                  "read_mb_per_op": median(ops["read_mb"]),
                  "write_mb_per_op": median(ops["write_mb"]),
                  "jvm_heap_live_mb": memory["jvm_heap_live_mb"]}
        catalogue = END_TO_END
    print(json.dumps({"detail": detail}))
    print(result_line(failed == 0 and bool(secs), i, failed, values, catalogue))


def main(argv=None):
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import pyspark  # noqa: F401

        import term_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the engine from {ROOT}: {exc}", file=sys.stderr)
        return 2
    run(args.workload, args.seed, args.seconds, args.trace)
    return 0


if __name__ == "__main__":
    sys.exit(main())
