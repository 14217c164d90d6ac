"""A one-partition table aggregates in place (``plans.executor.
_one_partition``): when the scoped table plans with no exchange as one
partition under AQE, every fused group reads ``df.coalesce(1)`` and
Spark plans no exchange under the aggregate, so each group is one job.
Tables with an exchange or more than one partition, and AQE-off
sessions, keep the plans they had."""

import re

from term_spark import Assertion, Check, Level, ValidationSuite
from term_spark.analyzers.base import (CompletenessAnalyzer,
                                       DistinctnessAnalyzer, MeanAnalyzer)
from term_spark.analyzers.quantile_sketch import QuantileSketchAnalyzer
from term_spark.analyzers.runner import AnalysisRunner
from term_spark.plans import executor
from term_spark.sources import read_parquet
from tests.conftest import SF_DIR, conf_override


def _jobs(spark, fn):
    """(result of ``fn()``, Spark jobs it started)."""
    sc = spark.sparkContext
    group = sc.getLocalProperty("spark.jobGroup.id")
    before = set(sc.statusTracker().getJobIdsForGroup(group))
    out = fn()
    return out, len(set(sc.statusTracker().getJobIdsForGroup(group)) - before)


def _sections(text):
    return text.split("== table: ")[1:]


def _ids_masked(text):
    """``explain`` text with the expression and plan ids, which every
    new DataFrame allocates afresh, masked."""
    return re.sub(r"(#|plan_id=)\d+", r"\1_", text)


def _three_class_suite():
    """One plain, one two-stage DISTINCT and one sketch group."""
    return (ValidationSuite.builder("in_place").with_check(
        Check("c", Level.ERROR)
        .is_complete("l_orderkey")
        .has_mean("l_extendedprice", Assertion.gt(0))
        .uniqueness(["l_orderkey", "l_linenumber"], 0.5)
        .has_approx_quantile("l_quantity", 0.5, Assertion.gt(0))))


def _monitor_suite():
    """The 7-constraint monthly monitoring suite."""
    return ValidationSuite.builder("monitor").with_check(
        Check("lineitem_monthly", Level.ERROR)
        .has_size(Assertion.gt(0))
        .is_complete("l_orderkey")
        .has_min("l_quantity", Assertion.ge(1))
        .has_max("l_quantity", Assertion.le(50))
        .has_mean("l_quantity", Assertion.between(20, 30))
        .uniqueness(["l_orderkey", "l_linenumber"], 0.5)
        .has_approx_quantile("l_quantity", 0.5, Assertion.between(20, 30)))


def test_one_file_table_explains_without_an_exchange(spark, tpch):
    li = tpch["lineitem"]
    assert executor._one_partition(li)
    sections = _sections(_three_class_suite().explain(spark, li))
    assert [s.split(" [")[1].split(",")[0] for s in sections] == [
        "plain", "distinct", "sketch"]
    for section in sections:
        assert "Exchange" not in section, section
        assert "Coalesce" in section, section


def test_repartitioned_or_aqe_off_tables_keep_their_exchanges(spark, tpch, monkeypatch):
    suite = _three_class_suite()
    spread = tpch["lineitem"].repartition(3)
    with conf_override(spark, "spark.sql.adaptive.enabled", "false"):
        aqe_off = suite.explain(spark, tpch["lineitem"])
    shown = {"repartition": suite.explain(spark, spread), "aqe_off": aqe_off}
    for text in shown.values():
        for section in _sections(text):
            assert "Exchange" in section and "Coalesce" not in section, section
    # the same text as with the check switched off
    monkeypatch.setattr(executor, "_one_partition", lambda df: False)
    with conf_override(spark, "spark.sql.adaptive.enabled", "false"):
        aqe_off = suite.explain(spark, tpch["lineitem"])
    assert _ids_masked(shown["aqe_off"]) == _ids_masked(aqe_off)
    assert _ids_masked(shown["repartition"]) == _ids_masked(suite.explain(spark, spread))


def test_the_check_starts_no_spark_job(spark, tpch):
    scoped = tpch["lineitem"].where("l_quantity > 10")
    joined = scoped.join(tpch["orders"], scoped.l_orderkey == tpch["orders"].o_orderkey)
    assert _jobs(spark, lambda: executor._one_partition(scoped)) == (True, 0)
    assert _jobs(spark, lambda: executor._one_partition(joined)) == (False, 0)
    assert _jobs(spark, lambda: executor._one_partition(
        tpch["lineitem"].repartition(3))) == (False, 0)


def test_in_place_metrics_equal_the_shuffled_metrics(spark, tpch, monkeypatch):
    suite = _monitor_suite()
    li = tpch["lineitem"]
    in_place = suite.run(spark, li)
    monkeypatch.setattr(executor, "_one_partition", lambda df: False)
    shuffled = suite.run(spark, li)
    assert in_place.passed and shuffled.passed
    assert in_place.metrics == shuffled.metrics
    assert {"mean.l_quantity", "quantile.l_quantity"} <= set(in_place.metrics)


def test_monitor_suite_runs_one_job_per_fusion_group(spark):
    """The 7-constraint monitoring suite on one ~6k-row file, the size
    of a monitored month: plain, two-stage DISTINCT and sketch groups
    each run as one job."""
    suite = _monitor_suite()
    month = read_parquet(spark, f"{SF_DIR}/lineitem.parquet")
    result, jobs = _jobs(spark, lambda: suite.run(spark, month))
    assert result.passed
    assert jobs == result.report.num_spark_jobs == 3


def test_analysis_runner_runs_one_job_per_fusion_group(spark, tpch):
    li = tpch["lineitem"]
    runner = (AnalysisRunner()
              .add(CompletenessAnalyzer("l_orderkey"))
              .add(MeanAnalyzer("l_quantity"))
              .add(DistinctnessAnalyzer("l_partkey"))
              .add(QuantileSketchAnalyzer("l_quantity")))
    ctx, jobs = _jobs(spark, lambda: runner.run(li, spark))
    assert not ctx.errors
    merged = executor.merge_exprs(an.state_exprs() for an in runner.analyzers)
    labels = [label for label, _, _ in executor.fused_aggs(li, merged)]
    assert labels == ["plain", "distinct", "sketch"]
    assert jobs == len(labels)


class _NoPlan:
    """A Java Dataset handle whose planning fails; every other call
    reaches the Dataset."""

    def __init__(self, jdf):
        self._jdf = jdf

    def queryExecution(self):
        raise RuntimeError("planning failed")

    def __getattr__(self, name):
        return getattr(self._jdf, name)


def _summary(result):
    return ([(o.check, o.result.name, o.result.status, o.result.message)
             for o in result.report.outcomes], result.metrics)


def test_a_check_that_raises_leaves_run_unchanged(spark, tpch, monkeypatch):
    suite = _monitor_suite()
    li = tpch["lineitem"].select("*")
    li._jdf = _NoPlan(li._jdf)
    assert executor._one_partition(li) is False
    raised = suite.run(spark, li)
    monkeypatch.setattr(executor, "_one_partition", lambda df: False)
    assert _summary(raised) == _summary(suite.run(spark, tpch["lineitem"]))
    assert raised.passed


def test_spread_reads_partitions_without_a_job(spark, tpch):
    """``dedup.spread`` shares the check's partition count: an
    aggregated input (its plan has an exchange) counts as distributed
    and comes back as it is, and a one-file scan is spread; neither
    starts a job."""
    from term_spark.operators.dedup import spread
    li = tpch["lineitem"]
    agg = li.groupBy("l_orderkey").count()
    out, jobs = _jobs(spark, lambda: spread(agg, "l_orderkey"))
    assert out is agg and jobs == 0
    assert executor.planned_partitions(agg) is None
    out, jobs = _jobs(spark, lambda: spread(li, "l_orderkey"))
    assert jobs == 0 and executor.planned_partitions(li) == 1
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism


def test_run_submits_own_jobs_before_it_checks_a_table(spark, tpch, monkeypatch):
    """The own-job constraints reach the pool before the caller thread
    plans any fused job (``_one_partition`` per table)."""
    events = []

    class Pool(executor.ThreadPoolExecutor):
        def submit(self, fn, *args, **kwargs):
            events.append(fn.__name__)
            return super().submit(fn, *args, **kwargs)

    check = executor._one_partition
    monkeypatch.setattr(executor, "ThreadPoolExecutor", Pool)
    monkeypatch.setattr(executor, "_one_partition",
                        lambda df: events.append("check") or check(df))
    suite = ValidationSuite.builder("own_first").with_check(
        Check("c", Level.ERROR)
        .is_complete("l_orderkey")
        .has_entropy("l_returnflag", Assertion.gt(0)))
    assert suite.run(spark, tpch["lineitem"]).passed
    assert events[0] == "run_own" and "check" in events
    assert "run_own" not in events[events.index("check"):]
