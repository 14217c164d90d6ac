"""The benchmark's workloads.

Each workload prepares its inputs in ``setup`` (warm-up included) and
runs one closed-loop operation per ``op`` call. ``op`` returns the
``Stopwatch`` of its timed steps; it checks its own output outside the
timed steps and raises ``CheckFailed`` on a mismatch.
"""

from __future__ import annotations

import contextlib
import os

import datagen
from metrics import INDEX_QUERIES, Stopwatch
from oracle import normalize, oracle_results


class CheckFailed(Exception):
    pass


def _monitor_check():
    """The 7-constraint monthly monitoring suite."""
    from term_spark import Assertion, Check, Level

    return (Check("lineitem_monthly", Level.ERROR)
            .has_size(Assertion.gt(0))
            .is_complete("l_orderkey")
            .has_min("l_quantity", Assertion.ge(1))
            .has_max("l_quantity", Assertion.le(50))
            .has_mean("l_quantity", Assertion.between(20, 30))
            .uniqueness(["l_orderkey", "l_linenumber"], 0.5)
            .has_approx_quantile("l_quantity", 0.5, Assertion.between(20, 30)))


class MonitorHistory:
    """Deequ monitoring loop over monthly lineitem partitions.

    Setup seeds ``depth`` months of history and runs ``warm_ops``
    untimed operations; each operation validates one further month,
    saves its metrics, and checks three metrics for anomalies over the
    history. The operation's file is removed afterwards (untimed), so
    every operation sees exactly ``depth + 1`` stored runs."""

    sf = 0.1
    depth = 10       # stored runs before each operation
    rotation = 4     # months the timed operations cycle through
    warm_ops = 10    # untimed operations: the first ones run slower
    last_full_month = 81  # month 82 (2001-11) holds only four days

    def setup(self, ctx):
        from term_spark import ValidationSuite
        from term_spark.analyzers.anomaly import AnomalyDetector, RelativeRateOfChange
        from term_spark.repository import ParquetRepository

        tables = datagen.make_tables(ctx.seed, self.sf)
        self.months = datagen.write_months(tables["lineitem"], ctx.path("months"))
        self.repo = ParquetRepository(ctx.path("repository"))
        self.suite = ValidationSuite("monitor_history").with_check(_monitor_check())
        self.detector = AnomalyDetector(RelativeRateOfChange())
        self.start = int(ctx.rng.integers(
            0, self.last_full_month + 2 - self.depth - self.rotation))
        self.history = []  # metric dicts of the stored runs, oldest first
        for m in range(self.start, self.start + self.depth):
            self.history.append(self._validate_and_save(ctx, m))
        names = sorted(self.history[0][1])
        self.checked = [names[i] for i in
                        sorted(ctx.rng.choice(len(names), 3, replace=False))]
        self.seeded_files = set(os.listdir(self.repo.path))
        for i in range(self.warm_ops):
            ctx.op_index = i
            self.op(ctx, traced=False)

    def _validate_and_save(self, ctx, month):
        from term_spark.analyzers.base import MetricValue
        from term_spark.repository import ResultKey
        from term_spark.sources import read_parquet

        df = read_parquet(ctx.spark, self.months[month][0])
        result = self.suite.run(ctx.spark, df)
        metrics = {k: MetricValue.double(v) for k, v in result.metrics.items()
                   if isinstance(v, (int, float))}
        key = ResultKey.of(788_918_400.0 + month * 2_629_746.0, suite=self.suite.name)
        self.repo.save(key, metrics)
        if not result.passed:
            raise CheckFailed(result.report.to_json())
        return key, metrics

    def op(self, ctx, traced):
        month = self.start + self.depth + ctx.op_index % self.rotation
        sw = Stopwatch()
        try:
            with sw:
                key, saved = self._validate_and_save(ctx, month)
                found = [self.detector.detect_on(self.repo, m) for m in self.checked]
            if traced:
                self._count_store(ctx, len(saved))
            self._check(key, saved, found)
        finally:
            for f in set(os.listdir(self.repo.path)) - self.seeded_files:
                os.remove(os.path.join(self.repo.path, f))
        return sw

    def _check(self, key, saved, found):
        if self.repo.load(key) != saved:
            raise CheckFailed(f"repository.load({key}) differs from the saved metrics")
        for name, got in zip(self.checked, found):
            series = [float(h[name].value) for _, h in self.history]
            want = self.detector.detect_series(series + [float(saved[name].value)])
            if got != want:
                raise CheckFailed(f"detect_on({name}) {got} != detect_series {want}")

    def _count_store(self, ctx, saved_now):
        files = [os.path.join(self.repo.path, f) for f in os.listdir(self.repo.path)]
        values = sum(len(m) for _, m in self.history) + saved_now
        ctx.tracer.count("repository.files", len(files))
        ctx.tracer.count("repository.bytes_per_metric",
                         sum(os.path.getsize(f) for f in files) / values)

    def detail(self):
        return {"depth": self.depth, "rotation": self.rotation, "warm_ops": self.warm_ops,
                "start_month": self.start,
                "timed_months": [self.start + self.depth + i for i in range(self.rotation)],
                "checked_metrics": self.checked}


class IndexLifecycle:
    """Index-building registry queries built and collected at sf0.01, in
    a seed-permuted order each pass; each result is compared with its
    DuckDB oracle."""

    sf = 0.01
    queries = INDEX_QUERIES
    warm_passes = 4  # the first, cold pass takes 12-15 s; the next ones still speed up

    def setup(self, ctx):
        tables = datagen.make_tables(ctx.seed, self.sf)
        self.dir = datagen.write_tables(tables, ctx.path("data"))
        self.rows = sum(tables[t].num_rows for ts in self.queries.values() for t in ts)
        self.expected = oracle_results(self.dir, datagen.TABLES, self.queries)
        for _ in range(self.warm_passes):
            self.op(ctx, traced=False)

    def op(self, ctx, traced):
        from term_spark.queries import QUERIES

        order = [str(q) for q in ctx.rng.permutation(list(self.queries))]
        sw = Stopwatch()
        for q in order:
            build_ids, collect_ids = [], []
            with self._probe(ctx, traced, build_ids), ctx.tracer.span(f"queries.{q}.build"), sw:
                df = QUERIES[q](ctx.spark, self.dir)
            if traced:
                with ctx.tracer.span(f"queries.{q}.plan"), sw:
                    df._jdf.queryExecution().executedPlan()
            with self._probe(ctx, traced, collect_ids), ctx.tracer.span(f"queries.{q}.collect"), sw:
                pdf = df.toPandas()
            if traced:
                ctx.tracer.count(f"queries.{q}.build_jobs", len(build_ids))
                ctx.tracer.count(f"queries.{q}.collect_jobs", len(collect_ids))
                ctx.tracer.count("spark.py_nodes", ctx.probe.py_nodes(df))
            if normalize(pdf) != self.expected[q]:
                raise CheckFailed(f"{q}: result differs from its DuckDB oracle")
        return sw

    @staticmethod
    def _probe(ctx, traced, sink):
        return ctx.probe.jobs_in(sink) if traced else contextlib.nullcontext()

    def detail(self):
        return {"queries": list(self.queries), "warm_passes": self.warm_passes,
                "rows_per_pass": self.rows}


WORKLOADS = {
    "monitor_history": MonitorHistory,
    "index_lifecycle": IndexLifecycle,
}
