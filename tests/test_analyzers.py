"""Analyzer state algebra: compute/merge/metric triplet + incremental
partition analysis (the reference's core abstraction, traits.rs:64-178)."""

import math

import pytest

from term_spark.analyzers.base import (ApproxCountDistinctAnalyzer,
                                       CompletenessAnalyzer,
                                       CorrelationAnalyzer, MaxAnalyzer,
                                       MeanAnalyzer, MinAnalyzer, SizeAnalyzer,
                                       StandardDeviationAnalyzer, SumAnalyzer)
from term_spark.analyzers.runner import (AnalysisRunner, FilesystemStateStore,
                                         IncrementalAnalysisRunner)


def test_analysis_runner_single_pass(spark, nulls_df):
    ctx = (AnalysisRunner()
           .add(SizeAnalyzer())
           .add(CompletenessAnalyzer("name"))
           .add(MeanAnalyzer("score"))
           .add(StandardDeviationAnalyzer("age"))
           .run(nulls_df))
    assert ctx.metrics["size"].value == 5
    assert ctx.metrics["completeness.name"].value == pytest.approx(0.8)
    assert ctx.metrics["mean.score"].value == pytest.approx((1 + 2 + 3 + 5) / 4)
    assert not ctx.errors


def test_runner_fusion_splits_distinct_from_sketch(spark, nulls_df):
    """Distinct-column analyzers + sketch analyzers must split into
    class-pure agg jobs — DISTINCT+sketch in one df.agg plans an Expand
    that drags sketch buffers through a sort (the ~100x trap), and
    plain+DISTINCT fused drags every plain metric through the
    distinct's two-phase shuffle (measured 1.35x at sf1).  Round 9:
    each DISTINCT alias gets its OWN singleton group — two different
    COUNT(DISTINCT) in one agg would themselves force the Expand plan."""
    from term_spark.analyzers.base import DistinctnessAnalyzer
    from term_spark.plans.executor import fused_aggs, merge_exprs

    runner = (AnalysisRunner()
              .add(DistinctnessAnalyzer("name"))
              .add(DistinctnessAnalyzer("score"))
              .add(ApproxCountDistinctAnalyzer("age")))
    merged = merge_exprs(an.state_exprs() for an in runner.analyzers)
    groups = [aliases for _, aliases, _ in fused_aggs(nulls_df, merged)]
    assert len(groups) == 4  # {plain}, {distinct name}, {distinct score}, {sketches}
    plain, d1, d2, sketch = groups
    for d in (d1, d2):
        assert len(d) == 1 and all(a.startswith("md_") for a in d), d
    assert all(a.startswith("mk_") for a in sketch), sketch
    assert not any(a.startswith(("md_", "mk_")) for a in plain)
    # and the split runner still produces correct metrics
    ctx = runner.run(nulls_df, spark=spark)
    assert not ctx.errors, ctx.errors
    assert ctx.metrics["distinctness.name"].value == pytest.approx(4 / 5)


def test_state_merge_equals_global(spark):
    """Partition-wise states merged == global metric (the monoid law
    the reference's property tests pin)."""
    df = spark.createDataFrame([(float(i),) for i in range(1, 101)], "x double")
    p1 = df.filter("x <= 40")
    p2 = df.filter("x > 40 and x <= 77")
    p3 = df.filter("x > 77")

    for an_factory in (lambda: MeanAnalyzer("x"),
                       lambda: SumAnalyzer("x"),
                       lambda: MinAnalyzer("x"),
                       lambda: MaxAnalyzer("x"),
                       lambda: StandardDeviationAnalyzer("x")):
        an = an_factory()
        states = []
        for part in (p1, p2, p3):
            row = part.agg(*[c.alias(a) for a, c in an.state_exprs().items()]
                           ).collect()[0]
            states.append(an.state_from_row(row.asDict()))
        merged_metric = an.metric_from_state(an.merge_states(states))
        global_metric = an.compute(df)
        assert merged_metric.value == pytest.approx(global_metric.value, rel=1e-9), \
            an.name


def test_correlation_state_merge(spark):
    df = spark.createDataFrame(
        [(float(i), float(2 * i + 1)) for i in range(1, 51)], "x double, y double")
    an = CorrelationAnalyzer("x", "y")
    s1 = df.filter("x <= 25")
    s2 = df.filter("x > 25")
    states = []
    for part in (s1, s2):
        row = part.agg(*[c.alias(a) for a, c in an.state_exprs().items()]).collect()[0]
        states.append(an.state_from_row(row.asDict()))
    merged = an.metric_from_state(an.merge_states(states))
    assert merged.value == pytest.approx(1.0, abs=1e-9)


def test_incremental_runner_filesystem(spark, tmp_path):
    store = FilesystemStateStore(str(tmp_path / "states"))
    runner = (IncrementalAnalysisRunner(store)
              .add(SizeAnalyzer()).add(MeanAnalyzer("v")))
    d1 = spark.createDataFrame([(1.0,), (2.0,)], "v double")
    d2 = spark.createDataFrame([(3.0,), (4.0,), (5.0,)], "v double")
    runner.analyze_partition(d1, "2024-01-01")
    runner.analyze_partition(d2, "2024-01-02")
    assert store.partitions() == ["2024-01-01", "2024-01-02"]

    # a fresh runner (fresh process) can aggregate from persisted state
    runner2 = (IncrementalAnalysisRunner(FilesystemStateStore(str(tmp_path / "states")))
               .add(SizeAnalyzer()).add(MeanAnalyzer("v")))
    ctx = runner2.aggregate_partitions()
    assert ctx.metrics["size"].value == 5
    assert ctx.metrics["mean.v"].value == pytest.approx(3.0)
    # single-partition rollup
    ctx1 = runner2.aggregate_partitions(["2024-01-01"])
    assert ctx1.metrics["mean.v"].value == pytest.approx(1.5)


def test_hll_sketch_merge(spark):
    an = ApproxCountDistinctAnalyzer("v").bind_spark(spark)
    d1 = spark.createDataFrame([(i,) for i in range(1000)], "v long")
    d2 = spark.createDataFrame([(i,) for i in range(500, 1500)], "v long")
    states = []
    for part in (d1, d2):
        row = part.agg(*[c.alias(a) for a, c in an.state_exprs().items()]).collect()[0]
        states.append(an.state_from_row(row.asDict()))
    est = an.metric_from_state(an.merge_states(states)).value
    assert est == pytest.approx(1500, rel=0.05)  # HLL 2-3% error band


def test_distinctness_analyzer_exact_and_merged(spark):
    from term_spark.analyzers.base import DistinctnessAnalyzer

    df = spark.createDataFrame([(i % 100,) for i in range(1000)], "v long")
    an = DistinctnessAnalyzer("v").bind_spark(spark)
    assert an.compute(df).value == pytest.approx(0.1)
    # merged across slices: HLL-approximate ratio within error band
    parts = [df.filter(f"v % 2 = {i}") for i in (0, 1)]
    states = []
    for p in parts:
        row = p.agg(*[c.alias(a) for a, c in an.state_exprs().items()]).collect()[0]
        states.append(an.state_from_row(row.asDict()))
    merged = an.metric_from_state(an.merge_states(states))
    assert merged.value == pytest.approx(0.1, rel=0.1)


def test_compliance_analyzer_merge(spark):
    from term_spark.analyzers.base import ComplianceAnalyzer

    df = spark.createDataFrame([(float(i),) for i in range(100)], "x double")
    an = ComplianceAnalyzer("x_small", "x < 25")
    assert an.compute(df).value == pytest.approx(0.25)
    states = []
    for p in (df.filter("x < 50"), df.filter("x >= 50")):
        row = p.agg(*[c.alias(a) for a, c in an.state_exprs().items()]).collect()[0]
        states.append(an.state_from_row(row.asDict()))
    assert an.metric_from_state(an.merge_states(states)).value == pytest.approx(0.25)


def test_datatype_distribution_analyzer(spark):
    from term_spark.analyzers.base import DataTypeDistributionAnalyzer

    df = spark.createDataFrame(
        [("1",), ("2",), ("3.5",), ("abc",), ("2024-01-01",)], "v string")
    an = DataTypeDistributionAnalyzer("v")
    shares = an.compute(df).value
    assert shares["integer"] == pytest.approx(0.4)
    assert shares["float"] == pytest.approx(0.2)
    assert shares["date"] == pytest.approx(0.2)
    assert shares["text"] == pytest.approx(0.2)


def test_classify_expr_null_stays_null(spark):
    """Regression (ADVICE r1): NULL must not classify as 'text' —
    rlike(NULL) is NULL so a bare CASE falls through to otherwise."""
    import pyspark.sql.functions as F

    from term_spark.operators.datatype import classify_expr

    df = spark.createDataFrame([("1",), (None,), ("x",)], "v string")
    got = {r["v"]: r["t"] for r in
           df.select("v", classify_expr("v").alias("t")).collect()}
    assert got["1"] == "integer" and got["x"] == "text"
    assert got[None] is None


def test_bucket_distribution_merge_law(spark):
    from term_spark.analyzers.base import BucketDistributionAnalyzer
    an = BucketDistributionAnalyzer("v", lo=0.0, hi=10.0, bins=5)
    vals = [float(i % 10) + 0.3 for i in range(200)]
    whole = spark.createDataFrame([(v,) for v in vals], "v double")
    h1 = spark.createDataFrame([(v,) for v in vals[:77]], "v double")
    h2 = spark.createDataFrame([(v,) for v in vals[77:]], "v double")

    def state_of(df):
        row = df.agg(*[c.alias(a) for a, c in an.state_exprs().items()]) \
                .collect()[0].asDict()
        return an.state_from_row(row)

    merged = an.merge_states([state_of(h1), state_of(h2)])
    assert merged["counts"] == state_of(whole)["counts"]
    assert sum(merged["counts"]) == 200


def test_psi_between_states_matches_operator(spark):
    from term_spark.analyzers.base import (BucketDistributionAnalyzer,
                                           psi_between_states)
    from term_spark.operators.statistics import population_stability
    an = BucketDistributionAnalyzer("v", lo=0.0, hi=10.0, bins=10)
    ref = spark.createDataFrame(
        [(float(i % 7),) for i in range(300)], "v double")
    cur = spark.createDataFrame(
        [(float((i * 3) % 10) + 0.2,) for i in range(250)], "v double")

    def state_of(df):
        row = df.agg(*[c.alias(a) for a, c in an.state_exprs().items()]) \
                .collect()[0].asDict()
        return an.state_from_row(row)

    from_states = psi_between_states(state_of(ref), state_of(cur))
    operator = population_stability(ref, cur, "v", bins=10,
                                    lo=0.0, hi=10.0).collect()[0]["psi"]
    assert from_states == pytest.approx(operator, abs=1e-6)


def test_state_store_crash_mid_save_keeps_the_earlier_state(tmp_path,
                                                            monkeypatch):
    """A state save that dies mid-write leaves the partition's previous
    state readable and lists no half-written partition."""
    import json

    store = FilesystemStateStore(str(tmp_path / "states"))
    store.save("day1", {"m": "v1"})

    def torn_dump(obj, f, *a, **kw):
        f.write('{"m": "v')
        raise OSError("device lost mid-write")

    monkeypatch.setattr(json, "dump", torn_dump)
    with pytest.raises(OSError, match="mid-write"):
        store.save("day1", {"m": "v2"})
    with pytest.raises(OSError, match="mid-write"):
        store.save("day2", {"m": "v1"})
    monkeypatch.undo()
    assert store.load("day1") == {"m": "v1"}
    assert store.partitions() == ["day1"]
    assert not list((tmp_path / "states").glob("*.tmp"))


def test_hll_analyzers_reject_lg_k_out_of_range_at_construction():
    """An lg_k hll_sketch_agg refuses fails when the analyzer is made,
    not as an unattributed Spark error for the whole run."""
    from term_spark.analyzers.base import DistinctnessAnalyzer
    for cls in (ApproxCountDistinctAnalyzer, DistinctnessAnalyzer):
        for lg_k in (3, 22, 30):
            with pytest.raises(ValueError, match="lgk must be in"):
                cls("v", lg_k=lg_k)
        assert cls("v", lg_k=4).lg_k == 4


def test_bucket_distribution_incremental_roundtrip(spark, tmp_path):
    import math as _m

    from term_spark.analyzers.base import (BucketDistributionAnalyzer,
                                           psi_between_states)
    from term_spark.analyzers.runner import (FilesystemStateStore,
                                             IncrementalAnalysisRunner)
    an = BucketDistributionAnalyzer("v", lo=0.0, hi=4.0, bins=4)
    store = FilesystemStateStore(str(tmp_path / "states"))
    runner = IncrementalAnalysisRunner(store).add(an)
    runner.analyze_partition(spark.createDataFrame(
        [(float(i % 4),) for i in range(40)], "v double"), "day1", spark)
    runner.analyze_partition(spark.createDataFrame(
        [(3.9,)] * 40, "v double"), "day2", spark)

    # global metric over both partitions: entropy of the merged counts
    ctx = runner.aggregate_partitions(spark=spark)
    assert not _m.isnan(ctx.metrics[an.metric_key()].value)

    # drift day1 -> day2 from the persisted states alone (no rescan)
    from term_spark.analyzers.base import AnalyzerState
    s1 = AnalyzerState.from_json(store.load("day1")[an.metric_key()])
    s2 = AnalyzerState.from_json(store.load("day2")[an.metric_key()])
    assert s1["counts"] == [10, 10, 10, 10]
    assert s2["counts"] == [0, 0, 0, 40]
    assert psi_between_states(s1, s2) > 0.25  # collapsed -> drifted


def test_bucket_distribution_and_psi_state_guards(spark):
    import pytest as _pt

    from term_spark.analyzers.base import (AnalyzerState,
                                           BucketDistributionAnalyzer,
                                           psi_between_states)
    with _pt.raises(ValueError, match="must exceed"):
        BucketDistributionAnalyzer("v", lo=1.0, hi=1.0)
    with _pt.raises(ValueError, match="bins"):
        BucketDistributionAnalyzer("v", lo=0.0, hi=1.0, bins=1)
    with _pt.raises(ValueError, match="different analyzer configs"):
        psi_between_states(AnalyzerState(counts=[1, 2]),
                           AnalyzerState(counts=[1, 2, 3]))
    with _pt.raises(ValueError, match="empty snapshot"):
        psi_between_states(AnalyzerState(counts=[0, 0]),
                           AnalyzerState(counts=[1, 1]))


def test_correlation_matrix_one_scan_long_form(spark):
    import pyspark.sql.functions as F
    from term_spark.operators.statistics import correlation_matrix
    rows = [(float(i), float(2 * i), float(-i), 7.0) for i in range(50)]
    df = spark.createDataFrame(rows, "a double, b double, c double, k double")
    out = correlation_matrix(df, ["a", "b", "c", "k"]).collect()
    got = {(r["col_a"], r["col_b"]): r["corr"] for r in out}
    assert len(got) == 6                       # 4 choose 2
    assert got[("a", "b")] == 1.0              # perfectly linear
    assert got[("a", "c")] == -1.0
    assert got[("b", "c")] == -1.0
    assert got[("a", "k")] is None             # constant -> NULL, kept
    # min_abs screens weak pairs but never drops the NULL findings
    flt = correlation_matrix(df, ["a", "b", "k"], min_abs=0.5).collect()
    assert {(r["col_a"], r["col_b"]) for r in flt} == {("a", "b"), ("a", "k"),
                                                       ("b", "k")}
    import pytest as _pt
    with _pt.raises(ValueError):
        correlation_matrix(df, ["a"])
    with _pt.raises(ValueError):
        correlation_matrix(df, ["a", "a"])


def test_correlation_matrix_is_single_fused_scan(spark, tpch):
    """All p(p-1)/2 corr aggregates must ride ONE physical aggregate
    over ONE scan (the operator's whole point), with the shared
    stddevs deduplicated across pairs."""
    import contextlib, io
    from term_spark.operators.statistics import correlation_matrix
    plan = correlation_matrix(
        tpch["lineitem"], ["l_quantity", "l_extendedprice", "l_discount"])
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        plan.explain("formatted")
    text = buf.getvalue()
    import re
    scans = [ln for ln in text.splitlines()
             if re.match(r"\(\d+\) Scan", ln)]
    assert len(scans) == 1, text               # one pass over the data
    # partial agg carries per-pair conditional stddevs (2 per pair) +
    # 3 covars: the stddevs must share the covariance's
    # pairwise-complete population (review r6), so the cross-pair
    # dedup is deliberately given up for correctness under NULLs
    partial = [ln for ln in text.splitlines() if "partial_stddev_pop" in ln][0]
    assert partial.count("partial_stddev_pop") == 6, partial
    assert partial.count("partial_covar_pop") == 3, partial


def test_frequent_items_summary_exact_when_cardinality_fits(spark):
    from term_spark.operators.histogram import frequent_items_summary
    rows = [("a",)] * 50 + [("b",)] * 30 + [("c",)] * 20
    df = spark.createDataFrame(rows, "v string")
    out = frequent_items_summary(df, "v", k=10).collect()
    assert [(r["item"], r["cnt"], r["rank"]) for r in out] == \
        [("a", 50, 1), ("b", 30, 2), ("c", 20, 3)]
    assert all(r["n_slice"] == 100 and r["max_dropped"] == 0 for r in out)


def test_frequent_items_merge_bounds_contain_truth(spark):
    """The Misra-Gries-style guarantee: merging per-slice top-k
    summaries (k smaller than slice cardinality) must bracket every
    item's true union count within [cnt_lower, cnt_upper] — including
    an item that missed the top-k in one slice (adversarial split)."""
    from term_spark.operators.histogram import (frequent_items_summary,
                                                merge_frequent_items)
    # slice 1: x dominates; y just misses top-2 (k=2)
    s1_rows = [("x",)] * 50 + [("z",)] * 20 + [("y",)] * 19
    # slice 2: y dominates
    s2_rows = [("y",)] * 40 + [("x",)] * 5 + [("w",)] * 4
    s1 = frequent_items_summary(
        spark.createDataFrame(s1_rows, "v string"), "v", k=2)
    s2 = frequent_items_summary(
        spark.createDataFrame(s2_rows, "v string"), "v", k=2)
    merged = merge_frequent_items([s1, s2], k=4)
    got = {item: (lo, hi) for item, lo, hi in merged}
    truth = {"x": 55, "y": 59, "z": 20, "w": 4}
    for item, (lo, hi) in got.items():
        assert lo <= truth[item] <= hi, (item, lo, hi, truth[item])
    # y missed slice-1's top-2 (count 19 <= max_dropped 19): its lower
    # bound is the slice-2 count alone, the upper bound recovers it
    assert got["y"][0] == 40 and got["y"][1] >= 59
    # x made both slices: provably exact (bounds collapse)
    assert got["x"] == (55, 55)
    import pytest as _pt
    with _pt.raises(ValueError):
        merge_frequent_items([], k=2)
    with _pt.raises(ValueError):
        frequent_items_summary(s1, "item", k=0)


def test_shape_analyzer_merge_matches_spark_builtins(spark):
    """Partition-wise (n, Σx..Σx⁴) states merged must reproduce
    Spark's own population skewness / excess kurtosis globally — and
    the constraint-side stats must agree too."""
    import pyspark.sql.functions as F
    from term_spark.analyzers.base import ShapeAnalyzer
    vals = [float(i) ** 1.5 for i in range(1, 200)]  # right-skewed
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    expect = df.agg(F.skewness("x").alias("s"),
                    F.kurtosis("x").alias("k")).collect()[0]
    parts = [df.filter("x <= 300"), df.filter("x > 300 and x <= 1500"),
             df.filter("x > 1500")]
    for metric, want in (("skewness", expect["s"]), ("kurtosis", expect["k"])):
        an = ShapeAnalyzer("x", metric)
        states = []
        for p in parts:
            row = p.agg(*[c.alias(a) for a, c in an.state_exprs().items()]
                        ).collect()[0]
            states.append(an.state_from_row(row.asDict()))
        merged = an.metric_from_state(an.merge_states(states))
        assert merged.value == pytest.approx(want, rel=1e-6), metric
    import pytest as _pt
    with _pt.raises(ValueError):
        ShapeAnalyzer("x", "mode")


def test_skewness_kurtosis_check_methods(spark):
    from term_spark import Assertion, Check, Level, ValidationSuite
    import random
    rng = random.Random(3)
    df = spark.createDataFrame(
        [(rng.gauss(0, 1),) for _ in range(2000)], "x double")
    res = ValidationSuite.builder("shape").with_check(
        Check("s", Level.ERROR)
        .has_skewness("x", Assertion.between(-0.3, 0.3))
        .has_kurtosis("x", Assertion.between(-0.5, 0.5))).run(spark, df)
    assert res.passed, res.report.to_json(2)


def test_correlation_matrix_pairwise_complete_under_nulls(spark):
    """review r6: with NULLs on one side, the normalization must use
    the same pairwise-complete rows as the covariance — matching
    F.corr/DuckDB CORR (here: the non-null pairs are perfectly
    linear, so corr must be exactly 1.0, not a diluted ratio)."""
    from term_spark.operators.statistics import correlation_matrix
    rows = [(0.0, None), (100.0, None), (1.0, 1.0), (2.0, 2.0),
            (3.0, 3.0)]
    df = spark.createDataFrame(rows, "x double, y double")
    got = correlation_matrix(df, ["x", "y"]).collect()[0]
    assert got["corr"] == 1.0
