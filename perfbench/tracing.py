"""Spans and counters recorded from outside the engine.

The traced run patches the engine's public entry points with wrappers
that open a span around each call; nothing inside ``term_spark`` is
edited. Spans ``{name, start, end, parent, op_id}`` stay in memory and
are written once when the run ends. Spark work is counted through
``statusTracker`` (ungrouped job ids diffed around a call) and the
driver JVM's ``/proc`` entries.
"""

from __future__ import annotations

import collections
import contextlib
import functools
import gc
import json
import re
import sys
import threading
import time

from metrics import new_ids

PY_NODE_RE = re.compile(
    r"\b(MapInArrow|ArrowEvalPython|BatchEvalPython|MapInPandas|"
    r"FlatMapGroupsInPandas|FlatMapCoGroupsInPandas|PythonMapInArrow)\b")


class Tracer:
    """Span and counter store; disabled outside traced operations."""

    def __init__(self):
        self.enabled = False
        self.op_id = None
        self.spans = []  # [name, start, end, parent, op_id]
        self._stack = []
        self.counters = collections.defaultdict(collections.Counter)

    @contextlib.contextmanager
    def span(self, name):
        if not self.enabled or threading.current_thread() is not threading.main_thread():
            yield
            return
        parent = self._stack[-1] if self._stack else None
        rec = [name, time.perf_counter(), None, parent, self.op_id]
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            self._stack.pop()
            rec[2] = time.perf_counter()

    def count(self, name, n=1):
        if self.enabled:
            self.counters[self.op_id][name] += n

    def inside(self, name) -> bool:
        return any(self.spans[i][0] == name for i in self._stack)

    def wrap(self, name, fn, on_result=None):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name):
                out = fn(*args, **kwargs)
            if on_result is not None:
                on_result(out)
            return out
        return wrapper

    def totals(self, op_id):
        """Seconds per span name (summed) plus counters, for one op."""
        out = collections.Counter()
        for name, start, end, _, op in self.spans:
            if op == op_id and end is not None:
                out[name + "_s"] += end - start
        out.update(self.counters.get(op_id, {}))
        return out

    def self_times(self):
        """Seconds per span name minus the time its child spans cover."""
        child = collections.Counter()
        for _, start, end, parent, _ in self.spans:
            if parent is not None and end is not None:
                child[parent] += end - start
        out = collections.Counter()
        for i, (name, start, end, _, _) in enumerate(self.spans):
            if end is not None:
                out[name] += (end - start) - child[i]
        return dict(out)

    def dump(self, path, extra):
        keys = ("name", "start", "end", "parent", "op_id")
        with open(path, "w") as f:
            json.dump({**extra, "self_s": self.self_times(),
                       "spans": [dict(zip(keys, s)) for s in self.spans]}, f)


def instrument(tracer: Tracer):
    """Patch the engine's public entry points with span wrappers.

    ``read_parquet`` is replaced in every engine module that imported
    it, so calls made inside registry queries are counted too."""
    import pyarrow.parquet as pq

    import term_spark.sources as sources
    from term_spark.analyzers.anomaly import AnomalyDetector
    from term_spark.core.suite import ValidationSuite
    from term_spark.repository import MetricsRepository, ParquetRepository

    original = sources.read_parquet
    read = tracer.wrap("sources.read_parquet", original,
                       lambda _: tracer.count("sources.read_parquet_calls"))
    for name, mod in list(sys.modules.items()):
        if name.startswith("term_spark") and getattr(mod, "read_parquet", None) is original:
            mod.read_parquet = read

    ValidationSuite.run = tracer.wrap(
        "plans.run", ValidationSuite.run,
        lambda r: tracer.count("plans.report_jobs", r.report.num_spark_jobs))
    ParquetRepository.save = tracer.wrap("repository.save", ParquetRepository.save)
    MetricsRepository.series = tracer.wrap(
        "repository.series", MetricsRepository.series,
        lambda _: tracer.count("repository.series_calls"))
    AnomalyDetector.detect_on = tracer.wrap("analyzers.detect", AnomalyDetector.detect_on)
    AnomalyDetector.detect_series = tracer.wrap(
        "analyzers.strategy", AnomalyDetector.detect_series)

    read_table = pq.read_table

    @functools.wraps(read_table)
    def counted_read_table(*args, **kwargs):
        if tracer.inside("repository.series"):
            tracer.count("repository.series_reads")
        return read_table(*args, **kwargs)

    pq.read_table = counted_read_table


class SparkProbe:
    """Counts Spark work and JVM resources from outside the engine."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.jvm_pid = int(self.sc._jvm.java.lang.ProcessHandle.current().pid())

    def job_ids(self):
        """Ungrouped job ids known to the status store, after the
        listener bus has delivered every event posted so far."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        return self.tracker.getJobIdsForGroup(None)

    def job_stats(self, ids):
        out = collections.Counter(jobs=len(ids))
        for jid in ids:
            job = self.tracker.getJobInfo(jid)
            for sid in (job.stageIds if job else ()):
                stage = self.tracker.getStageInfo(sid)
                if stage and stage.numCompletedTasks + stage.numFailedTasks:
                    out["stages"] += 1
                    out["tasks"] += stage.numCompletedTasks
                    out["failed_tasks"] += stage.numFailedTasks
        return out

    @contextlib.contextmanager
    def jobs_in(self, sink):
        """Append the ids of jobs started inside the block to ``sink``."""
        before = self.job_ids()
        yield
        sink.extend(new_ids(before, self.job_ids()))

    def _proc(self, entry, key):
        with open(f"/proc/{self.jvm_pid}/{entry}") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
        raise KeyError(key)

    def write_bytes(self):
        return self._proc("io", "wchar")

    def rss_peak_mb(self):
        return self._proc("status", "VmHWM") / 1024.0

    def heap_live_mb(self):
        """Driver heap still in use after full collections: what the
        session keeps between operations (cached tables, checkpointed
        blocks, broadcasts, index state). Unlike ``VmHWM`` it does not
        depend on how far the collector happened to grow the heap."""
        gc.collect()  # drop Python proxies (and so their JVM objects) held in cycles
        jvm = self.sc._jvm
        heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        used = []
        for i in range(5):
            if i:
                # the ContextCleaner frees blocks and broadcasts of collected
                # objects on its own thread, which the next collection
                # reclaims; garbage only adds, so the least reading counts
                time.sleep(0.5)
            jvm.java.lang.System.gc()
            used.append(heap.getHeapMemoryUsage().getUsed())
        return min(used) / 2**20

    @staticmethod
    def py_nodes(df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        return len(PY_NODE_RE.findall(plan))
