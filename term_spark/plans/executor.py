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

Scale posture: the shared pass is a single full scan with partial
aggregation (map-side combine) — at 100 TB this is one shuffle of a few
hundred bytes per partition. Nothing here collects more than one row
per table plus bounded violation samples.
"""

from __future__ import annotations

import time
from collections import defaultdict
from concurrent.futures import ThreadPoolExecutor
from typing import TYPE_CHECKING, Dict, List, Mapping, Tuple

import pyspark.sql.functions as F

from ..core.constraint import Constraint, EngineContext
from ..core.result import (ConstraintOutcome, ConstraintResult, ValidationReport,
                           ValidationResult)

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql import DataFrame, SparkSession

    from ..core.suite import ValidationSuite

SIZE_ALIAS = "__size"

#: concurrent Spark actions per suite run. Spark's scheduler is
#: thread-safe; independent jobs (different tables' fused aggs, join
#: constraints) overlap instead of queueing — the reference runs
#: everything sequentially (suite.rs:84).
MAX_CONCURRENT_JOBS = 4


class SuiteRunner:
    def run(self, suite: "ValidationSuite", spark: "SparkSession",
            tables: Mapping[str, "DataFrame"], debug=None) -> ValidationResult:
        ctx = EngineContext(spark, tables, suite.default_table)
        dbg = debug if (debug is not None and debug.enabled) else None
        report = ValidationReport(suite=suite.name)
        t0 = time.perf_counter()

        # ---- partition constraints by execution shape ---------------
        # scalar: (table, where) -> [(check, constraint, exprs)] — the
        # fusion key is the (table, filter) pair (SURVEY §7.1)
        scalar: Dict[Tuple, List[Tuple]] = defaultdict(list)
        own_job: List[Tuple[object, Constraint]] = []

        def scoped_df(table, where):
            df = ctx.df(table)
            return df.filter(where) if where else df

        # alias -> key expression for exact DISTINCT metrics whose
        # constraint can state its grouping key (distinct_groupings
        # protocol) — these run as explicit two-stage groupBys below.
        distinct_keys: Dict[str, "F.Column"] = {}

        for check in suite.checks:
            for con in check.constraints:
                table = con.table or check.table or suite.default_table
                df = scoped_df(table, check.where)
                try:
                    # expressions are column-name-based (df-independent);
                    # cache per constraint so repeat runs of one suite
                    # skip the py4j expression rebuild
                    exprs = con.__dict__.get("_scalar_exprs_cache")
                    if exprs is None:
                        exprs = con.scalar_metrics(df)
                        con.__dict__["_scalar_exprs_cache"] = exprs
                except Exception as exc:  # bad column etc. — record, continue
                    report.outcomes.append(ConstraintOutcome(
                        check.name, check.level,
                        con._finish(ConstraintResult.error(str(exc)))))
                    continue
                if exprs:
                    scalar[(table, check.where)].append((check, con, exprs))
                    grouping = getattr(con, "distinct_groupings", None)
                    if grouping is not None:
                        distinct_keys.update(grouping())
                else:
                    own_job.append((check, con))

        # ---- build independent job thunks -----------------------------
        fused_jobs = {}   # (table, where) -> (pairs, fusion groups)
        for key, pairs in scalar.items():
            merged = self._merge(exprs for _, _, exprs in pairs)
            fused_jobs[key] = (pairs, self._fusion_groups(merged))

        def agg_group(df, group):
            # An exact-DISTINCT singleton with a declared key runs as an
            # explicit two-stage groupBy: select(key).distinct() then
            # count non-null keys (COUNT(DISTINCT) NULL parity).
            # Measured 1.08 s vs 1.39 s on 6M-row lineitem for a
            # two-column tuple — the DISTINCT-agg rewrite adds an
            # aggregate layer the explicit plan skips.
            (alias,) = tuple(group)[:1] or (None,)
            if len(group) == 1 and alias in distinct_keys:
                return (df.select(distinct_keys[alias].alias(alias))
                          .distinct()
                          .agg(F.count(F.col(alias)).alias(alias))
                          .collect()[0])
            return df.agg(*[c.alias(a) for a, c in group.items()]).collect()[0]

        def run_group(key, group):
            df = scoped_df(*key)
            if dbg is not None:
                table, where = key
                members = ", ".join(sorted(
                    con.metric_key() for _, con, _ in fused_jobs[key][0]))
                dbg.log_query(
                    f"fused agg on {table}"
                    + (f" where {where}" if where else "")
                    + f" [{len(group)} metrics]", context=members)
                with dbg.track_constraint(f"fused:{table}"):
                    return agg_group(df, group)
            return agg_group(df, group)

        def run_own(check, con):
            table = con.table or check.table or suite.default_table
            tbls = dict(tables)
            if check.where:  # row scope applies to the check's own table
                tbls[table] = scoped_df(table, check.where)
            sub_ctx = EngineContext(spark, tbls, table)
            if dbg is not None:
                dbg.log_query(f"own job: {type(con).__name__} on {table}",
                              context=con.metric_key())
                with dbg.track_constraint(con.metric_key()):
                    return con.evaluate(sub_ctx)
            return con.evaluate(sub_ctx)

        # ---- execute concurrently, record deterministically -----------
        with ThreadPoolExecutor(max_workers=MAX_CONCURRENT_JOBS) as pool:
            group_futures = {
                (key, i): pool.submit(run_group, key, group)
                for key, (_, groups) in fused_jobs.items()
                for i, group in enumerate(groups)}
            own_futures = [(check, con, pool.submit(run_own, check, con))
                           for check, con in own_job]

            for key, (pairs, groups) in fused_jobs.items():
                try:
                    metrics: Dict[str, object] = {}
                    for i in range(len(groups)):
                        metrics.update(group_futures[(key, i)].result().asDict())
                        report.num_spark_jobs += 1
                except Exception:
                    # one constraint's expression failed analysis (e.g. a
                    # bad column in a satisfies predicate) — fall back to
                    # per-constraint evaluation so the error is attributed
                    # to the offender and the rest still run.
                    self._per_constraint_fallback(scoped_df(*key), pairs, report)
                    continue
                empty = (metrics[SIZE_ALIAS] or 0) == 0
                for check, con, _ in pairs:
                    if empty:
                        res = con._finish(ConstraintResult.skipped())
                    else:
                        try:
                            res = con._finish(con.result_from_metrics(metrics))
                        except Exception as exc:
                            res = con._finish(ConstraintResult.error(str(exc)))
                    self._record(report, check, con, res, dbg)

            for check, con, fut in own_futures:
                try:
                    res = fut.result()
                except Exception as exc:
                    res = con._finish(ConstraintResult.error(str(exc)))
                report.num_spark_jobs += 1
                self._record(report, check, con, res, dbg)

        report.duration_sec = time.perf_counter() - t0
        return ValidationResult.from_report(report)

    # Spark plans a pathological Expand + sort-based aggregation when a
    # DISTINCT aggregate shares a physical agg with a TypedImperative
    # sketch aggregate (percentile_approx / approx_count_distinct /
    # hll_sketch_agg): every expanded row drags the sketch buffer
    # through a sort — 2 orders of magnitude slower than two separate
    # hash aggregations (measured: 62 s vs 2×0.1 s on 600k rows).
    #
    # Round 8 splits further: DISTINCT also leaves the plain group.
    # plain+distinct fuse without an Expand, but every plain metric
    # then rides the distinct's two-phase shuffle path — measured on
    # sf1 lineitem (6M rows): the mixed 20-metric agg takes 1.88 s
    # where the 19 plain metrics alone take 0.39 s and the distinct
    # alone 1.39 s.  The split removes that ~0.1-0.5 s of duplicated
    # carry work; the jobs are CPU-bound on local[32], so the
    # concurrent wall tracks TOTAL work (the distinct job is the
    # critical path), not max(group) — on a real cluster with
    # I/O-bound scans the concurrency upside grows.
    #
    # Round 9 splits the DISTINCT class once more: one group PER
    # DISTINCT ALIAS.  Two different COUNT(DISTINCT x), COUNT(DISTINCT
    # y) in one aggregate force the Expand plan (one projection per
    # distinct group — every input row duplicated N times), while
    # separate singleton jobs each run the plain two-phase shuffle and
    # overlap in the pool; singletons whose constraint declares its key
    # (distinct_groupings) additionally drop the DISTINCT-agg rewrite
    # for an explicit groupBy (measured ~20% faster at sf1).  So: up to
    # 2 + #distinct groups — {plain}, one per DISTINCT alias,
    # {sketches} — each aggregation shuffles only its own class's
    # state, and no metric rides a shuffle, Expand, or sketch buffer it
    # doesn't need.  Each extra job costs ~50 ms of scheduling on tiny
    # inputs.  Classification comes from the alias tag (metric_alias
    # tag=): 'md_' = distinct, 'mk_' = sketch, 'ms_' = plain.
    @staticmethod
    def _merge(expr_maps) -> Dict[str, "F.Column"]:
        """Row count + every constraint's metrics, first alias wins."""
        merged: Dict[str, "F.Column"] = {SIZE_ALIAS: F.count(F.lit(1))}
        for exprs in expr_maps:
            for alias, col in exprs.items():
                merged.setdefault(alias, col)
        return merged

    @staticmethod
    def _fusion_groups(merged: Dict[str, "F.Column"]) -> List[Dict[str, "F.Column"]]:
        plain: Dict[str, "F.Column"] = {}
        distinct: List[Dict[str, "F.Column"]] = []
        sketch: Dict[str, "F.Column"] = {}
        for alias, col in merged.items():
            if alias.startswith("md_"):
                distinct.append({alias: col})
            elif alias.startswith("mk_"):
                sketch[alias] = col
            else:
                plain[alias] = col
        return [g for g in (plain, *distinct, sketch) if g]

    def _per_constraint_fallback(self, df: "DataFrame", pairs,
                                 report: ValidationReport) -> None:
        for check, con, exprs in pairs:
            try:
                row = df.agg(F.count(F.lit(1)).alias(SIZE_ALIAS),
                             *[c.alias(a) for a, c in exprs.items()]
                             ).collect()[0]
                report.num_spark_jobs += 1
                if (row[SIZE_ALIAS] or 0) == 0:
                    res = con._finish(ConstraintResult.skipped())
                else:
                    res = con._finish(con.result_from_metrics(row.asDict()))
            except Exception as exc:
                res = con._finish(ConstraintResult.error(str(exc)))
            self._record(report, check, con, res)

    def explain(self, suite, spark, tables, mode: str = "formatted") -> str:
        """Render the fused-aggregation physical plan(s) per table."""
        import contextlib
        import io

        ctx = EngineContext(spark, tables, suite.default_table)
        exprs_by_table: Dict[Tuple, List[Dict]] = defaultdict(list)
        distinct_keys: Dict[str, "F.Column"] = {}
        for check in suite.checks:
            for con in check.constraints:
                table = con.table or check.table or suite.default_table
                try:
                    exprs = con.scalar_metrics(ctx.df(table))
                except Exception:
                    continue
                if not exprs:
                    continue
                exprs_by_table[(table, check.where)].append(exprs)
                grouping = getattr(con, "distinct_groupings", None)
                if grouping is not None:
                    distinct_keys.update(grouping())
        out = []
        for (table, where), expr_maps in exprs_by_table.items():
            # the SAME merge and grouping run() executes — explain must
            # never render a fusion the runner wouldn't use
            groups = self._fusion_groups(self._merge(expr_maps))
            for group in groups:
                first = next(iter(group))
                label = ("distinct" if first.startswith("md_")
                         else "sketch" if first.startswith("mk_")
                         else "plain")
                base = ctx.df(table)
                if where:
                    base = base.filter(where)
                if len(group) == 1 and first in distinct_keys:
                    # render the two-stage plan run() actually executes
                    df = (base.select(distinct_keys[first].alias(first))
                              .distinct()
                              .agg(F.count(F.col(first)).alias(first)))
                else:
                    df = base.agg(*[c.alias(a) for a, c in group.items()])
                buf = io.StringIO()
                with contextlib.redirect_stdout(buf):
                    df.explain(mode)
                scope = f", where {where}" if where else ""
                out.append(f"== table: {table} [{label}, {len(group)} metrics"
                           f"{scope}] ==\n" + buf.getvalue())
        return "\n".join(out)

    @staticmethod
    def _record(report: ValidationReport, check, con: Constraint,
                res: ConstraintResult, dbg=None) -> None:
        report.outcomes.append(ConstraintOutcome(check.name, check.level, res))
        if res.metric is not None:
            report.metrics[con.metric_key()] = res.metric
        if dbg is not None:
            dbg.record_result(con.metric_key(), res)
