"""Metric catalogue and the pure helpers the benchmark reports with.

Nothing here touches Spark, so the helpers are unit-tested on their own
(``test_perfbench.py``).
"""

from __future__ import annotations

import collections
import json
import math
import os
import re
import statistics
import time

# Registry queries of the ``index_lifecycle`` workload, each with the
# tables it reads.
INDEX_QUERIES = {
    # persisted MinHash index built, probed and deleted while the
    # DataFrame is constructed: 19 eager build jobs, 1 collect job
    "incremental_neardup_docs": ("documents",),
}

END_TO_END = {
    "setup_s": "s",
    "spark_jobs_per_op": "count",
    "read_mb_per_op": "MB",
    "write_mb_per_op": "MB",
    "jvm_heap_live_mb": "MB",
}

_QUERY_FIELDS = {"build_s": "s", "build_jobs": "count", "plan_s": "s",
                 "collect_s": "s", "collect_jobs": "count"}

PER_LAYER = {
    "session.start_s": "s",
    "sources.setup_read_parquet_s": "s",
    "sources.read_parquet_s": "s",
    "sources.read_parquet_calls": "count",
    "plans.run_s": "s",
    "plans.report_jobs": "count",
    "repository.save_s": "s",
    "repository.series_s": "s",
    "repository.files": "count",
    "repository.files_read_per_series": "count",
    "repository.bytes_per_metric": "B",
    "analyzers.detect_s": "s",
    "analyzers.strategy_s": "s",
    **{f"queries.{q}.{f}": u for q in INDEX_QUERIES
       for f, u in _QUERY_FIELDS.items()},
    "queries.build_s": "s",
    "queries.collect_s": "s",
    "queries.eager_job_share": "ratio",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "spark.write_mb": "MB",
    "spark.py_nodes": "count",
    "spark.jvm_rss_peak_mb": "MB",
    "trace.ops": "count",
    "trace.op_p50_s": "s",
    "trace.untraced_op_p50_s": "s",
    "trace.untraced_op_cpu_s": "s",
    "trace.overhead_s": "s",
}

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def tree_usage(root: int | None = None) -> tuple[float, int, int]:
    """CPU seconds, bytes read and bytes written so far by process
    ``root`` (this one by default) and every live process below it: the
    client, the driver JVM it launched and the JVM's Python workers.
    Descendants that already exited count through their parent, whose
    figures include its reaped children. Bytes are ``rchar``/``wchar``:
    files, sockets and pipes, page-cache hits included."""
    children, ticks = collections.defaultdict(list), {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited while listing
        children[int(fields[1])].append(int(entry))
        ticks[int(entry)] = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    cpu, read, written = 0, 0, 0
    todo = [os.getpid() if root is None else root]
    while todo:
        pid = todo.pop()
        todo.extend(children[pid])
        try:
            with open(f"/proc/{pid}/io") as f:
                io = dict(line.split(": ") for line in f.read().splitlines())
        except OSError:
            continue
        cpu += ticks.get(pid, 0)
        read += int(io["rchar"])
        written += int(io["wchar"])
    return cpu / os.sysconf("SC_CLK_TCK"), read, written


class Stopwatch:
    """Accumulates what is spent inside its ``with`` blocks: wall
    seconds, and the CPU seconds and bytes read and written of
    ``tree_usage``."""

    def __init__(self):
        self.seconds = self.cpu_seconds = 0.0
        self.read_bytes = self.write_bytes = 0

    def __enter__(self):
        self._usage = tree_usage()
        self._start = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.seconds += time.perf_counter() - self._start
        cpu, read, written = tree_usage()
        self.cpu_seconds += cpu - self._usage[0]
        self.read_bytes += read - self._usage[1]
        self.write_bytes += written - self._usage[2]


def median(values):
    return statistics.median(values) if values else 0.0


def tail_percentile(values, beyond: int = 10):
    """The highest nearest-rank percentile with at least ``beyond``
    samples above it, as ``(percentile, value)``; ``None`` when fewer
    than ``beyond + 1`` samples exist."""
    n = len(values)
    if n < beyond + 1:
        return None
    rank = n - beyond  # 1-based rank; ``beyond`` samples sit above it
    return 100.0 * rank / n, sorted(values)[rank - 1]


def new_ids(before, after):
    """Job ids present in ``after`` but not in ``before``, ascending."""
    return sorted(set(after) - set(before))


def layer_metrics(ops, setup, traced_s, untraced_s, untraced_cpu_s):
    """Per-layer metrics from traced operations.

    ``ops`` holds one Counter per traced operation (span seconds under
    ``<span>_s`` plus counters), ``setup`` the same for the set-up
    phase. Each metric is the median over operations of its per-op
    value; ``traced_s``/``untraced_s`` are the op latencies of the
    interleaved traced and untraced operations, ``untraced_cpu_s`` the
    CPU seconds of the untraced ones."""
    def med(f):
        return median([f(o) for o in ops])

    def per_query(o, field):
        return sum(o.get(f"queries.{q}.{field}", 0) for q in INDEX_QUERIES)

    out = {name: med(lambda o, n=name: o.get(n, 0)) for name in PER_LAYER}
    build_jobs = sum(per_query(o, "build_jobs") for o in ops)
    all_jobs = build_jobs + sum(per_query(o, "collect_jobs") for o in ops)
    out.update({
        "session.start_s": setup.get("session.start_s", 0.0),
        "sources.setup_read_parquet_s": setup.get("sources.read_parquet_s", 0.0),
        "repository.files_read_per_series": med(
            lambda o: o.get("repository.series_reads", 0) / o["repository.series_calls"]
            if o.get("repository.series_calls") else 0),
        "queries.build_s": med(lambda o: per_query(o, "build_s")),
        "queries.collect_s": med(lambda o: per_query(o, "collect_s")),
        "queries.eager_job_share": build_jobs / all_jobs if all_jobs else 0.0,
        "trace.ops": len(traced_s),
        "trace.op_p50_s": median(traced_s),
        "trace.untraced_op_p50_s": median(untraced_s),
        "trace.untraced_op_cpu_s": median(untraced_cpu_s),
        "trace.overhead_s": median(traced_s) - median(untraced_s),
    })
    return out


def result_line(correct: bool, attempted: int, failed: int,
                values: dict, catalogue: dict) -> str:
    """The benchmark's last stdout line: every metric of ``catalogue``
    by name with its unit."""
    missing = set(catalogue) - set(values)
    if missing:
        raise KeyError(f"metrics not produced: {sorted(missing)}")
    metrics = {}
    for name, unit in catalogue.items():
        value = float(values[name])
        if not math.isfinite(value):
            raise ValueError(f"{name} is not finite: {value}")
        metrics[name] = {"value": value, "unit": unit}
    return json.dumps({"correct": bool(correct), "attempted": int(attempted),
                       "failed": int(failed), "metrics": metrics})
