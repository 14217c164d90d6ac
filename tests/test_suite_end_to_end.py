"""End-to-end slice (SURVEY §7.2 step 1): a suite with completeness,
size, and uniqueness constraints runs as class-pure fused Spark
aggregations (round 8: plain metrics and the DISTINCT aggregate run as
two CONCURRENT jobs — fusing them was measured 1.35x slower at sf1
because every plain metric rides the distinct's two-phase shuffle)
against TPC-H customer and produces correct pass/fail + metrics.
"""

import pytest

from term_spark import Assertion, Check, Level, Status, ValidationSuite
from term_spark.core.constraint import Constraint
from term_spark.core.result import ConstraintResult


def test_minimum_end_to_end(spark, tpch):
    suite = (ValidationSuite.builder("customer_quality")
             .with_check(Check("basics", Level.ERROR)
                         .has_size(Assertion.gt(0))
                         .is_complete("c_name")
                         .uniqueness("c_custkey", 1.0)))
    result = suite.run(spark, tpch["customer"])
    assert result.passed
    # two class-pure fused jobs: {size+completeness} and {uniqueness's
    # DISTINCT} — concurrent, each shuffling only its own state
    assert result.report.num_spark_jobs == 2
    m = result.metrics
    assert m["completeness.c_name"] == 1.0
    assert m["uniqueness.c_custkey"] == 1.0
    assert m["size"] == tpch["customer"].count()


def test_failure_and_levels(spark, nulls_df):
    # name has 4/5 non-null → completeness 0.8 (runner.rs:282-288 example)
    suite = (ValidationSuite.builder("nulls")
             .with_check(Check("err", Level.ERROR).completeness("name", Assertion.ge(0.9)))
             .with_check(Check("warn", Level.WARNING).completeness("email", Assertion.ge(0.9))))
    result = suite.run(spark, nulls_df)
    assert not result.passed
    assert result.metrics["completeness.name"] == pytest.approx(0.8)
    assert result.metrics["completeness.email"] == pytest.approx(0.8)
    # warning-level failure alone must not fail the suite
    suite2 = (ValidationSuite.builder("nulls_warn_only")
              .with_check(Check("warn", Level.WARNING).completeness("name", Assertion.ge(0.9))))
    assert suite2.run(spark, nulls_df).passed


def test_empty_input_skips(spark, nulls_df):
    empty = nulls_df.filter("id < 0")
    suite = (ValidationSuite.builder("empty")
             .with_check(Check("c", Level.ERROR)
                         .is_complete("name")
                         .has_mean("score", Assertion.gt(0))))
    result = suite.run(spark, empty)
    assert result.passed  # skipped constraints don't fail (suite semantics)
    assert all(o.result.status == Status.SKIPPED for o in result.report.outcomes)


def test_error_level_missing_column(spark, nulls_df):
    suite = (ValidationSuite.builder("bad")
             .with_check(Check("c", Level.ERROR).is_complete("does_not_exist")))
    result = suite.run(spark, nulls_df)
    assert not result.passed
    assert result.report.outcomes[0].result.status == Status.ERROR


def test_scan_sharing_many_constraints_one_job(spark, tpch):
    """20 scalar constraints on lineitem → at most TWO Spark jobs:
    {plain + distinct aggregates} and {sketch aggregates} (the split
    avoids Spark's pathological Expand+sort plan when DISTINCT and
    sketch aggregates share a physical aggregation; see executor)."""
    check = (Check("lineitem_20", Level.ERROR)
             .has_size(Assertion.gt(0))
             .is_complete("l_orderkey").is_complete("l_partkey")
             .is_complete("l_suppkey").is_complete("l_quantity")
             .has_min("l_quantity", Assertion.ge(1))
             .has_max("l_quantity", Assertion.le(50))
             .has_mean("l_quantity", Assertion.between(20, 30))
             .has_sum("l_extendedprice", Assertion.gt(0))
             .has_standard_deviation("l_quantity", Assertion.gt(0))
             .has_variance("l_quantity", Assertion.gt(0))
             .value_range("l_discount", 0.0, 0.1)
             .is_contained_in("l_returnflag", ["R", "A", "N"])
             .is_contained_in("l_linestatus", ["O", "F"])
             .satisfies("l_extendedprice >= 0", 1.0)
             .satisfies("l_tax >= 0", 1.0)
             .uniqueness(["l_orderkey", "l_linenumber"], 0.5)
             .has_approx_count_distinct("l_orderkey", Assertion.gt(100))
             .has_approx_quantile("l_quantity", 0.5, Assertion.between(20, 30))
             .has_correlation("l_quantity", "l_extendedprice", Assertion.between(-1, 1)))
    suite = ValidationSuite.builder("lineitem_suite").with_check(check)
    result = suite.run(spark, tpch["lineitem"])
    # three class-pure groups: plain / DISTINCT / sketches
    assert result.report.num_spark_jobs == 3
    assert result.passed, result.report.to_json(2)


def test_check_where_row_scope(spark, tpch):
    """Scoped checks validate only matching rows; the (table, where)
    pair is the fusion key so differently-scoped checks run as
    separate fused jobs (both pushed to the scan by Catalyst)."""
    from term_spark import Assertion, Check, Level, ValidationSuite

    li = tpch["lineitem"]
    suite = (ValidationSuite.builder("scoped")
             .with_check(Check("returned_only", Level.ERROR,
                               where="l_returnflag = 'R'")
                         .satisfies("l_returnflag = 'R'", 1.0)
                         .has_size(Assertion.gt(0)))
             .with_check(Check("all_rows", Level.ERROR)
                         .satisfies("l_returnflag = 'R'",
                                    Assertion.between(0.1, 0.6))))
    result = suite.run(spark, li)
    assert result.passed, result.report.to_json(2)
    assert result.report.num_spark_jobs == 2  # two (table, where) scopes


def test_run_and_store(spark, nulls_df):
    from term_spark import Assertion, Check, Level, ValidationSuite
    from term_spark.repository import InMemoryRepository

    repo = InMemoryRepository()
    suite = (ValidationSuite.builder("stored")
             .with_check(Check("c").completeness("name", Assertion.ge(0.5))))
    suite.run_and_store(spark, nulls_df, repo, timestamp=1.0, env="test")
    suite.run_and_store(spark, nulls_df, repo, timestamp=2.0, env="test")
    assert repo.series("completeness.name", tags={"env": "test"}) == [0.8, 0.8]


def test_suite_reused_on_another_schema_matches_a_fresh_suite(spark):
    """A constraint's aggregate depends on its column's type (a date
    column's min aggregates epoch seconds), so one suite object run on
    a numeric table and then on a date table answers the date table as
    a fresh suite does."""
    import datetime

    def suite():
        return ValidationSuite.builder("reuse").with_check(
            Check("c", Level.ERROR).has_min("v", Assertion.ge(0)))

    numbers = spark.createDataFrame([(5,), (7,)], "v long")
    dates = spark.createDataFrame(
        [(datetime.date(2024, 1, 1),), (datetime.date(2024, 3, 1),)], "v date")
    reused = suite()
    assert reused.run(spark, numbers).metrics["min.v"] == 5
    again, fresh = reused.run(spark, dates), suite().run(spark, dates)
    assert fresh.metrics["min.v"] == 1704067200.0
    assert [(o.result.status, o.result.metric) for o in again.report.outcomes] \
        == [(o.result.status, o.result.metric) for o in fresh.report.outcomes]


class _Raises(Constraint):
    """A scalar constraint (an own-job one for ``step="own_job"``) that
    raises ``make_exc()`` in one step of a suite run."""

    name = "raises"

    def __init__(self, step, make_exc):
        self.step, self.make_exc, self.evaluated = step, make_exc, 0

    def scalar_metrics(self, df):
        if self.step == "plan":
            raise self.make_exc()
        if self.step == "own_job":
            return {}
        import pyspark.sql.functions as F
        return {"ms_raises": F.max(F.lit(1))}

    def result_from_metrics(self, metrics):
        if self.step == "result":
            raise self.make_exc()
        return ConstraintResult.success(1.0)

    def evaluate(self, ctx):
        self.evaluated += 1
        if self.step == "own_job":
            raise self.make_exc()
        return super().evaluate(ctx)


def _error_kinds(spark, monkeypatch):
    from py4j.protocol import Py4JJavaError, Py4JNetworkError

    def network():
        return Py4JNetworkError("Answer from Java side is empty")

    def oom():
        jvm = spark.sparkContext._jvm
        cause = jvm.org.apache.spark.SparkException(
            "Job aborted", jvm.java.lang.OutOfMemoryError("Java heap space"))
        return Py4JJavaError("An error occurred while calling o1.collectToPython.\n",
                             cause)

    def stopped():
        # what PySpark raises once SparkContext.stop() has run
        monkeypatch.setattr(spark.sparkContext, "_jsc", None)
        return AttributeError("'NoneType' object has no attribute 'setCallSite'")

    return {"network": (network, Py4JNetworkError), "oom": (oom, Py4JJavaError),
            "stopped": (stopped, AttributeError),
            "constraint": (lambda: ValueError("bad metric"), ValueError)}


def _raising_fused_aggs(monkeypatch, make_exc):
    """Every fused job of the run raises ``make_exc()`` when collected."""
    from term_spark.plans import executor

    real = executor.fused_aggs

    def fail():
        raise make_exc()

    monkeypatch.setattr(executor, "fused_aggs", lambda *a, **k: [
        (label, aliases, fail) for label, aliases, _ in real(*a, **k)])


@pytest.mark.parametrize("step", ["plan", "fused_job", "own_job", "result"])
@pytest.mark.parametrize("kind", ["network", "oom", "stopped", "constraint"])
def test_engine_fatal_errors_propagate_constraint_errors_stay_owned(
        spark, monkeypatch, kind, step):
    """A lost JVM, a stopped SparkContext or a JVM OutOfMemoryError
    leaves ``SuiteRunner.run`` at once: no ERROR outcome per member, no
    rerun of a failed fused group's members. Any other error is an
    ERROR outcome of the constraint that raised it."""
    df = spark.createDataFrame([(1,), (2,)], "id long")
    make_exc, exc_type = _error_kinds(spark, monkeypatch)[kind]
    con = _Raises("scalar" if step == "fused_job" else step, make_exc)
    suite = ValidationSuite.builder("errors").with_check(
        Check("c", Level.ERROR).has_size(Assertion.eq(2)).with_constraint(con))
    if step == "fused_job":
        _raising_fused_aggs(monkeypatch, make_exc)

    if kind != "constraint":
        with pytest.raises(exc_type):
            suite.run(spark, df)
        assert con.evaluated == (1 if step == "own_job" else 0)
        return
    statuses = {o.result.name: o.result.status
                for o in suite.run(spark, df).report.outcomes}
    if step == "fused_job":  # both members rerun as their own jobs
        assert con.evaluated == 1
        assert statuses == {"size": Status.SUCCESS, "raises": Status.SUCCESS}
    else:
        assert statuses == {"size": Status.SUCCESS, "raises": Status.ERROR}
