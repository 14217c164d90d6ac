"""DebugContext / telemetry parity (core/debug_context.rs).

Covers: level tiers auto-enabling toggles (:97-121), query logging
(:135), constraint timing (:144-190), result recording (:157), the
DebugInfo summary (:270), ErrorReport generation with suggestions and
related queries (:285-360, :459-520), and the live wiring through
ValidationSuite.run(debug=...).
"""

import pytest

from term_spark import Assertion, Check, Level, ValidationSuite
from term_spark.telemetry import (DebugContext, DebugLevel, ErrorReport, span)


def test_level_tiers_auto_enable():
    none = DebugContext()
    assert not none.log_queries and not none.track_performance
    assert not none.enabled

    basic = DebugContext(DebugLevel.BASIC)
    assert basic.track_performance and not basic.log_queries

    detailed = DebugContext(DebugLevel.DETAILED)
    assert detailed.track_performance and detailed.log_queries
    assert not detailed.capture_intermediate_results

    verbose = DebugContext(DebugLevel.VERBOSE)
    assert verbose.capture_intermediate_results

    with pytest.raises(ValueError):
        DebugContext("loud")


def test_builder_overrides():
    d = DebugContext(DebugLevel.BASIC).with_query_logging(True)
    assert d.log_queries
    d.log_query("SELECT 1", context="c1")
    assert d.queries[0].query == "SELECT 1"
    # disabling performance tracking silences track_constraint
    d.with_performance_tracking(False)
    with d.track_constraint("x"):
        pass
    assert d.timings == []


def test_none_level_collects_nothing():
    d = DebugContext(DebugLevel.NONE)
    d.log_query("SELECT 1")
    with d.track_constraint("c"):
        pass
    d.record_result("c", object())
    d.capture("tmp", 42)
    info = d.debug_info()
    assert info.queries == [] and info.timings == []
    assert info.results == {} and info.intermediates == {}


def test_error_report_suggestions_and_related_queries():
    class FakeResult:
        status = "failure"
        message = "0.91 does not satisfy >= 0.95"

    d = DebugContext(DebugLevel.DETAILED)
    d.log_query("fused agg on data [3 metrics]",
                context="completeness.email, size")
    with d.track_constraint("completeness.email"):
        pass
    d.record_result("completeness.email", FakeResult())
    d.record_result("size", type("R", (), {"status": "success",
                                           "message": None})())
    rep = d.error_report()
    assert isinstance(rep, ErrorReport)
    assert rep.total_failures == 1
    fc = rep.failed_constraints[0]
    assert fc.name == "completeness.email"
    assert fc.timing is not None
    assert any("null distribution" in s for s in fc.suggestions)
    assert len(fc.related_queries) == 1
    text = str(rep)
    assert "Validation Error Report" in text
    assert "Failure #1: completeness.email" in text
    assert "Suggestions:" in text


def test_verbose_captures_intermediates():
    d = DebugContext(DebugLevel.VERBOSE)
    d.capture("plan", "HashAggregate(...)")
    assert d.debug_info().intermediates["plan"] == "HashAggregate(...)"


def test_span_noop_without_sdk():
    with span("suite.run", suite="s") as s:
        assert s is None or s is not None  # protocol only


def test_suite_run_with_debug(spark):
    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "c")], "id long, name string")
    suite = (ValidationSuite.builder("dbg")
             .with_check(Check("quality", Level.ERROR)
                         .has_size(Assertion.eq(3))
                         .completeness("name", Assertion.ge(0.99))))
    d = DebugContext(DebugLevel.DETAILED)
    result = suite.run(spark, df, debug=d)
    assert not result.passed  # completeness is 2/3

    info = d.debug_info()
    # the fused scalar pass logged one query naming both constraints
    assert any("fused agg" in q.query for q in info.queries)
    assert any("completeness.name" in q.context for q in info.queries)
    assert info.summary.total_constraints == 2
    assert info.summary.failed_constraints == 1
    assert any(t.constraint.startswith("fused:") for t in info.timings)

    rep = d.error_report()
    assert rep.total_failures == 1
    assert rep.failed_constraints[0].name == "completeness.name"
    # the fused query is attributed to the failed constraint
    assert rep.failed_constraints[0].related_queries


@pytest.mark.parametrize("add_bad", [
    # the fused job fails analysis; its members rerun as own jobs
    lambda c: c.is_complete("does_not_exist"),
    # the constraint's expression fails to build (row-level, not an agg)
    lambda c: c.has_custom_aggregate("l_quantity + 1", Assertion.gt(0)),
], ids=["fused_job_fails", "expression_build_fails"])
def test_suite_run_debug_records_every_outcome(spark, add_bad):
    df = spark.createDataFrame([(1, 1.0), (2, 2.0)], "id long, l_quantity double")
    suite = ValidationSuite.builder("dbg_errors").with_check(
        add_bad(Check("c", Level.ERROR).has_size(Assertion.eq(2))))
    d = DebugContext(DebugLevel.DETAILED)
    result = suite.run(spark, df, debug=d)
    assert sorted(o.result.status.value for o in result.report.outcomes) == \
        ["error", "success"]
    assert d.debug_info().summary.total_constraints == 2
    rep = d.error_report()
    assert rep.total_failures == 1
    assert rep.failed_constraints[0].name != "size"


def test_suite_run_debug_none_is_default(spark):
    df = spark.createDataFrame([(1,)], "id long")
    suite = (ValidationSuite.builder("nodbg")
             .with_check(Check("c").has_size(Assertion.eq(1))))
    assert suite.run(spark, df).passed
