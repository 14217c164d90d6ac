"""Scan-sharing suite executor — the engine's design center.

The reference evaluates constraints sequentially, one SQL query each
(core/suite.rs:58-278), with an optional-but-unwired batching optimizer
(optimizer/mod.rs:46-90; suite.rs:457-460 logs "not yet implemented").
Here batching IS the only path (SURVEY §4.1): all scalar-aggregate
constraints for a table fuse into ONE ``df.agg(*exprs)`` job with
expression dedup, reproducing the reference's published 15× optimizer
speedup structurally. GroupBy-/join-shaped constraints run as their own
jobs, mirroring the reference's non-combinable carve-outs
(optimizer/analyzer.rs:113-118).

This module is the one place that decides what a fused aggregation job
is: ``fused_aggs`` builds the jobs, and ``SuiteRunner.run``,
``SuiteRunner.explain`` and the analyzer runners all execute or render
exactly what it returns.

Scale posture: the shared pass is a single full scan with partial
aggregation (map-side combine) — at 100 TB this is one shuffle of a few
hundred bytes per partition. Nothing here collects more than one row
per table plus bounded violation samples.
"""

from __future__ import annotations

import contextlib
import io
import time
from collections import defaultdict
from concurrent.futures import ThreadPoolExecutor
from typing import (TYPE_CHECKING, Callable, Dict, Iterable, List, Mapping,
                    NamedTuple, Optional, Tuple)

import pyspark.sql.functions as F
from py4j.protocol import Py4JError, Py4JNetworkError

from ..core.constraint import SIZE_ALIAS, Constraint, EngineContext
from ..core.result import (ConstraintOutcome, ConstraintResult, ValidationReport,
                           ValidationResult)

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql import Column, DataFrame, SparkSession

    from ..core.suite import ValidationSuite

#: concurrent Spark actions per suite run. Spark's scheduler is
#: thread-safe; independent jobs (different tables' fused aggs, join
#: constraints) overlap instead of queueing — the reference runs
#: everything sequentially (suite.rs:84).
MAX_CONCURRENT_JOBS = 4

_EXPRS_CACHE = "_scalar_exprs_cache"


def merge_exprs(expr_maps: Iterable[Mapping[str, "Column"]]) -> Dict[str, "Column"]:
    """Union of alias -> Column maps; the first map naming an alias wins
    (two constraints asking for the same metric share one aggregate)."""
    merged: Dict[str, "Column"] = {}
    for exprs in expr_maps:
        for alias, col in exprs.items():
            merged.setdefault(alias, col)
    return merged


# The fusion classes, by alias tag (``metric_alias(tag=)``): 'ms_'
# plain, 'md_' exact DISTINCT, 'mk_' sketch (percentile_approx /
# approx_count_distinct / hll_sketch_agg). One job for the plain
# aggregates, one per DISTINCT alias, one for the sketches:
#
# - DISTINCT + sketch in one aggregate plans an Expand + sort-based
#   aggregation that drags every sketch buffer through the sort:
#   62 s vs 2×0.1 s as two hash aggregations on 600k rows.
# - plain + DISTINCT fuse without an Expand, but every plain metric
#   then rides the distinct's two-phase shuffle: on sf1 lineitem (6M
#   rows) the mixed 20-metric agg takes 1.88 s where the 19 plain
#   metrics alone take 0.39 s and the distinct alone 1.39 s.
# - two different COUNT(DISTINCT) in one aggregate force the Expand
#   plan (every input row duplicated once per distinct group); as
#   singletons each runs the plain two-phase shuffle and they overlap
#   in the pool.
# - a DISTINCT singleton whose constraint declares its key
#   (``distinct_groupings``) runs as an explicit two-stage
#   ``select(key).distinct().agg(count)``: ~20% faster at sf1 (1.08 s
#   vs 1.39 s) than the DISTINCT-agg rewrite, which adds an aggregate
#   layer; ``count`` of the key keeps COUNT(DISTINCT)'s NULL drop.
#
# Each extra job costs ~50 ms of scheduling on tiny inputs. The jobs
# are CPU-bound on local[32], so concurrent wall time tracks total work.
#
# A table that is already one partition with no exchange aggregates in
# place (``_one_partition``): every group reads ``df.coalesce(1)``,
# which reports ``SinglePartition``, so Spark plans no exchange under
# the aggregate. The plain and sketch groups drop their ``Exchange
# SinglePartition`` and the two-stage distinct both of its exchanges;
# each group runs as one job of one task instead of 2 or 3 AQE stage
# jobs, and the ~50 ms per extra job above is not paid. The same rows
# go through partial then final aggregation over one buffer in the
# same order, so the metrics are bit-identical. perfbench
# ``monitor_history`` (the 7-constraint suite over one ~7.2k-row month,
# local[4], 10 interleaved pairs, medians): 7 -> 3 jobs per operation,
# 0.142 -> 0.008 MB written, 0.878 -> 0.811 MB read, live JVM heap
# 79 -> 68 MB. The check plans the table and builds its RDD but starts
# no job: ~22 ms on that month under C1, ~18 ms of it building the RDD.
def planned_partitions(df: "DataFrame") -> Optional[int]:
    """The partition count of ``df``'s executed plan, read without
    starting a job, or None when it cannot be: an AQE-wrapped plan has
    an exchange or a subquery, whose partition count only running its
    stages would settle, so callers treat it as distributed. Otherwise
    the count is that of the plan's RDD, which such a plan builds
    without a job (``df.rdd`` would also build a Python RDD and its
    closure). An error in the check reads as None."""
    try:
        plan = df._jdf.queryExecution().executedPlan()
        if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
            return None
        return plan.execute().getNumPartitions()
    except Exception:
        return None


def _one_partition(df: "DataFrame") -> bool:
    """True when ``df`` is one partition with no exchange: AQE is on
    (without it an exchange-free plan is not told apart) and
    ``planned_partitions`` reads 1. An error in the check reads as
    False: the table is then aggregated as it is."""
    try:
        if not (df._jdf.sparkSession().sessionState().conf()
                .adaptiveExecutionEnabled()):
            return False
    except Exception:
        return False
    return planned_partitions(df) == 1


def fused_aggs(df: "DataFrame", merged: Mapping[str, "Column"],
               distinct_keys: Optional[Mapping[str, "Column"]] = None
               ) -> List[Tuple[str, Tuple[str, ...], Callable[[], "DataFrame"]]]:
    """The fused aggregation jobs over ``df`` for the ``merged``
    aggregates, as ``[(label, aliases, build)]`` in execution order;
    ``build()`` returns the job's aggregate DataFrame, which collects to
    one row holding its ``aliases``.

    ``run`` calls ``build`` on the worker thread that collects the job:
    on the caller's thread, which has an active session, PySpark sends
    a call site to the JVM around every Column/DataFrame call (measured
    +4.4 KB of JVM reads and +0.8 KB of writes per run of a
    7-constraint suite)."""
    distinct_keys = distinct_keys or {}
    if _one_partition(df):
        df = df.coalesce(1)
    plain: Dict[str, "Column"] = {}
    sketch: Dict[str, "Column"] = {}
    distinct: List[str] = []
    for alias, col in merged.items():
        if alias.startswith("md_"):
            distinct.append(alias)
        elif alias.startswith("mk_"):
            sketch[alias] = col
        else:
            plain[alias] = col

    def agg(group):
        return lambda: df.agg(*[c.alias(a) for a, c in group.items()])

    def two_stage(alias):
        return lambda: (df.select(distinct_keys[alias].alias(alias))
                          .distinct()
                          .agg(F.count(F.col(alias)).alias(alias)))

    jobs = [("plain", tuple(plain), agg(plain))] if plain else []
    for alias in distinct:
        jobs.append(("distinct", (alias,), two_stage(alias)
                     if alias in distinct_keys else agg({alias: merged[alias]})))
    if sketch:
        jobs.append(("sketch", tuple(sketch), agg(sketch)))
    return jobs


Key = Tuple[str, Optional[str]]  # (table, check.where)


def _engine_fatal(exc: BaseException, spark: "SparkSession") -> bool:
    """True for an error no constraint owns, after which no other job
    can run either: the driver lost the JVM (a py4j network error), the
    SparkContext is stopped, or the JVM ran out of memory. ``run`` lets
    these propagate; any other error is attributed to the constraint
    that raised it."""
    if isinstance(exc, Py4JNetworkError):
        return True
    try:
        jsc = spark.sparkContext._jsc
        if jsc is None or jsc.sc().isStopped():
            return True
        # Py4JJavaError keeps the Java throwable in ``java_exception``,
        # PySpark's captured exceptions in ``_origin``
        java = getattr(exc, "java_exception", None) or getattr(exc, "_origin", None)
        while java is not None:
            if java.getClass().getName() == "java.lang.OutOfMemoryError":
                return True
            java = java.getCause()
    except Py4JError:  # the JVM no longer answers
        return True
    return False


class SuitePlan(NamedTuple):
    """One walk of a suite: what ``run`` executes and ``explain`` renders."""
    scoped: Dict[Key, "DataFrame"]                # the row-scoped table per key
    scalar: Dict[Key, List[Tuple]]                # key -> [(check, con, exprs)]
    own_job: List[Tuple[object, Constraint, Key]]
    errors: List[Tuple[object, Constraint, ConstraintResult]]
    distinct_keys: Dict[str, "Column"]

    def merged(self, key: Key) -> Dict[str, "Column"]:
        """The row count plus every member's metrics for one fused key."""
        return merge_exprs([{SIZE_ALIAS: F.count(F.lit(1))},
                            *(exprs for _, _, exprs in self.scalar[key])])


def _describe(key: Key, label: str, aliases) -> str:
    table, where = key
    scope = f", where {where}" if where else ""
    return f"{table} [{label}, {len(aliases)} metrics{scope}]"


def _scalar_exprs(con: Constraint, df: "DataFrame") -> Dict[str, "Column"]:
    """``con.scalar_metrics(df)``, cached on the constraint per schema:
    the expressions depend on column types (temporal stats aggregate
    epoch seconds, custom aggregates are probed against the table), so
    a repeat run over a same-schema table skips the py4j rebuild and a
    run over another schema rebuilds."""
    schema = df.schema
    cached = con.__dict__.get(_EXPRS_CACHE)
    if cached is not None and cached[0] == schema:
        return cached[1]
    exprs = con.scalar_metrics(df)
    con.__dict__[_EXPRS_CACHE] = (schema, exprs)
    return exprs


class SuiteRunner:
    @staticmethod
    def plan(suite: "ValidationSuite", ctx: EngineContext) -> SuitePlan:
        """Partition the suite's constraints by execution shape. The
        fusion key is the (table, filter) pair (SURVEY §7.1)."""
        plan = SuitePlan({}, defaultdict(list), [], [], {})
        for check in suite.checks:
            for con in check.constraints:
                key = (con.table or check.table or suite.default_table,
                       check.where)
                try:
                    if key not in plan.scoped:
                        df = ctx.df(key[0])
                        plan.scoped[key] = df.filter(key[1]) if key[1] else df
                    exprs = _scalar_exprs(con, plan.scoped[key])
                except Exception as exc:  # bad column etc. — record, continue
                    if _engine_fatal(exc, ctx.spark):
                        raise
                    plan.errors.append(
                        (check, con, con._finish(ConstraintResult.error(str(exc)))))
                    continue
                if not exprs:
                    plan.own_job.append((check, con, key))
                    continue
                plan.scalar[key].append((check, con, exprs))
                # exact DISTINCT metrics whose constraint states its
                # grouping key run as explicit two-stage groupBys
                grouping = getattr(con, "distinct_groupings", None)
                if grouping is not None:
                    plan.distinct_keys.update(grouping())
        return plan

    def run(self, suite: "ValidationSuite", spark: "SparkSession",
            tables: Mapping[str, "DataFrame"], debug=None) -> ValidationResult:
        dbg = debug if (debug is not None and debug.enabled) else None
        report = ValidationReport(suite=suite.name)
        t0 = time.perf_counter()
        plan = self.plan(suite, EngineContext(spark, tables, suite.default_table))

        def run_job(key, label, aliases, build):
            if dbg is not None:
                members = ", ".join(sorted(
                    con.metric_key() for _, con, _ in plan.scalar[key]))
                dbg.log_query(f"fused agg on {_describe(key, label, aliases)}: "
                              + ", ".join(aliases), context=members)
                with dbg.track_constraint(f"fused:{key[0]}"):
                    return build().collect()[0]
            return build().collect()[0]

        def run_own(check, con, key):
            table, where = key
            tbls = dict(tables)
            if where:  # row scope applies to the check's own table
                tbls[table] = plan.scoped[key]
            sub_ctx = EngineContext(spark, tbls, table)
            if dbg is not None:
                dbg.log_query(f"own job: {type(con).__name__} on {table}",
                              context=con.metric_key())
                with dbg.track_constraint(con.metric_key()):
                    return con.evaluate(sub_ctx)
            return con.evaluate(sub_ctx)

        def submit_own(pool, own):
            return [(check, con, pool.submit(run_own, check, con, key))
                    for check, con, key in own]

        def record_own(futures):
            for check, con, fut in futures:
                try:
                    res = fut.result()
                except Exception as exc:
                    if _engine_fatal(exc, spark):
                        raise
                    res = con._finish(ConstraintResult.error(str(exc)))
                report.num_spark_jobs += 1
                self._record(report, check, con, res, dbg)

        def fused_metrics(futures):
            """One key's merged metric row, or None if a job failed."""
            metrics: Dict[str, object] = {}
            try:
                for fut in futures:
                    metrics.update(fut.result().asDict())
                    report.num_spark_jobs += 1
            except Exception as exc:
                if _engine_fatal(exc, spark):
                    raise
                return None
            return metrics

        for check, con, res in plan.errors:
            self._record(report, check, con, res, dbg)

        # ---- execute concurrently, record deterministically -----------
        with ThreadPoolExecutor(max_workers=MAX_CONCURRENT_JOBS) as pool:
            # own jobs first: building the fused jobs plans each key's
            # table on this thread (``_one_partition``)
            own_futures = submit_own(pool, plan.own_job)
            fused = {key: [pool.submit(run_job, key, *job)
                           for job in fused_aggs(plan.scoped[key], plan.merged(key),
                                                 plan.distinct_keys)]
                     for key in plan.scalar}

            for key, members in plan.scalar.items():
                metrics = fused_metrics(fused[key])
                if metrics is None:
                    # one constraint's expression failed (e.g. a bad
                    # column in a satisfies predicate) — each member runs
                    # as its own job so the error is attributed to the
                    # offender and the rest still run.
                    record_own(submit_own(
                        pool, [(check, con, key) for check, con, _ in members]))
                    continue
                empty = (metrics[SIZE_ALIAS] or 0) == 0
                for check, con, _ in members:
                    if empty:
                        res = con._finish(ConstraintResult.skipped())
                    else:
                        try:
                            res = con._finish(con.result_from_metrics(metrics))
                        except Exception as exc:
                            if _engine_fatal(exc, spark):
                                raise
                            res = con._finish(ConstraintResult.error(str(exc)))
                    self._record(report, check, con, res, dbg)

            record_own(own_futures)

        report.duration_sec = time.perf_counter() - t0
        return ValidationResult.from_report(report)

    def explain(self, suite, spark, tables, mode: str = "formatted") -> str:
        """Render the physical plan of every fused aggregation job."""
        plan = self.plan(suite, EngineContext(spark, tables, suite.default_table))
        out = []
        for key in plan.scalar:
            for label, aliases, build in fused_aggs(
                    plan.scoped[key], plan.merged(key), plan.distinct_keys):
                buf = io.StringIO()
                with contextlib.redirect_stdout(buf):
                    build().explain(mode)
                out.append(f"== table: {_describe(key, label, aliases)} ==\n"
                           + buf.getvalue())
        return "\n".join(out)

    @staticmethod
    def _record(report: ValidationReport, check, con: Constraint,
                res: ConstraintResult, dbg=None) -> None:
        report.outcomes.append(ConstraintOutcome(check.name, check.level, res))
        if res.metric is not None:
            report.metrics[con.metric_key()] = res.metric
        if dbg is not None:
            dbg.record_result(con.metric_key(), res)
