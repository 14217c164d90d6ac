"""Mergeable quantile sketch + grouped analyzer runner + cloud conf."""

import pytest

from term_spark.analyzers.base import CompletenessAnalyzer, MeanAnalyzer
from term_spark.analyzers.grouped import GroupedAnalysisRunner
from term_spark.analyzers.quantile_sketch import QuantileSketchAnalyzer
from term_spark.operators.grouped import GroupingConfig


def test_quantile_sketch_single(spark):
    df = spark.createDataFrame([(float(i),) for i in range(1, 1001)], "x double")
    an = QuantileSketchAnalyzer("x", k=100)
    m = an.compute(df)
    assert m.value == pytest.approx(500, rel=0.05)


def test_quantile_sketch_merge_law(spark):
    """Merged per-partition sketches ≈ global sketch (the KLL merge
    guarantee the reference tests, kll_sketch.rs merge support)."""
    df = spark.createDataFrame([(float(i),) for i in range(1, 2001)], "x double")
    an = QuantileSketchAnalyzer("x", k=200)
    parts = [df.filter(f"x > {lo} and x <= {lo + 500}") for lo in (0, 500, 1000, 1500)]
    states = []
    for p in parts:
        row = p.agg(*[c.alias(a) for a, c in an.state_exprs().items()]).collect()[0]
        states.append(an.state_from_row(row.asDict()))
    merged = an.merge_states(states)
    assert merged["n"] == 2000
    assert merged["mn"] == 1.0 and merged["mx"] == 2000.0
    for q, expected in ((0.1, 200), (0.5, 1000), (0.9, 1800)):
        got = an.quantile_from_state(merged, q)
        assert got == pytest.approx(expected, rel=0.05), q


def test_quantile_sketch_skewed_partitions(spark):
    """Unequal partition sizes must be weighted correctly in the merge."""
    df = spark.createDataFrame([(float(i),) for i in range(1, 1001)], "x double")
    an = QuantileSketchAnalyzer("x", k=100)
    small = df.filter("x <= 50")      # 5% of mass
    big = df.filter("x > 50")         # 95% of mass
    states = []
    for p in (small, big):
        row = p.agg(*[c.alias(a) for a, c in an.state_exprs().items()]).collect()[0]
        states.append(an.state_from_row(row.asDict()))
    merged = an.merge_states(states)
    assert an.quantile_from_state(merged, 0.5) == pytest.approx(500, rel=0.07)


def test_grouped_analysis_runner(spark):
    rows = ([("a", 1.0, "x")] * 8 + [("a", None, "x")] * 2 +
            [("b", 5.0, "y")] * 5)
    df = spark.createDataFrame(rows, "g string, v double, s string")
    out = (GroupedAnalysisRunner("g")
           .add(CompletenessAnalyzer("v"))
           .add(MeanAnalyzer("v"))
           .run(df))
    assert out[("a",)]["completeness.v"].value == pytest.approx(0.8)
    assert out[("a",)]["mean.v"].value == pytest.approx(1.0)
    assert out[("b",)]["completeness.v"].value == 1.0
    assert out[("b",)]["mean.v"].value == pytest.approx(5.0)


def test_grouped_overflow_strategies(spark):
    rows = [(f"g{i}", float(i)) for i in range(20) for _ in range(i + 1)]
    df = spark.createDataFrame(rows, "g string, v double")
    cfg = GroupingConfig(max_groups=5, overflow="top_k")
    out = GroupedAnalysisRunner("g", cfg).add(MeanAnalyzer("v")).run(df)
    assert len(out) == 5
    assert ("g19",) in out  # biggest groups kept
    cfg = GroupingConfig(max_groups=5, overflow="bottom_k")
    out = GroupedAnalysisRunner("g", cfg).add(MeanAnalyzer("v")).run(df)
    assert ("g0",) in out
    with pytest.raises(ValueError):
        GroupedAnalysisRunner("g", GroupingConfig(max_groups=5, overflow="fail")) \
            .add(MeanAnalyzer("v")).run(df)


def test_grouping_config_rejects_an_unknown_overflow():
    """One overflow policy: an unknown strategy is refused when the
    config is made, where the constraint and the runner once disagreed
    on it (unbounded groups vs a sample)."""
    with pytest.raises(ValueError, match="overflow must be one of"):
        GroupingConfig(overflow="top-k")
    assert GroupingConfig(overflow="sample").overflow == "sample"


def test_quantile_sketch_error_bound(spark):
    """Merged Spark-computed states stay within the analyzer's stated
    merge_error_bound (eps = 2/k + 1/accuracy) of the exact quantile —
    the reference publishes exactly this kind of guarantee for KLL
    (kll_sketch.rs:161-166)."""
    import bisect

    # deterministic skewed data: squares mod a prime, 4 uneven slices
    values = [float((i * i) % 9973) for i in range(10_000)]
    df = spark.createDataFrame([(v,) for v in values], "x double")
    an = QuantileSketchAnalyzer("x", k=200, accuracy=10_000)
    cuts = (0, 500, 3000, 7000, 10_000)
    states = []
    for lo, hi in zip(cuts, cuts[1:]):
        part = spark.createDataFrame([(v,) for v in values[lo:hi]], "x double")
        row = part.agg(*[c.alias(a) for a, c in an.state_exprs().items()]).collect()[0]
        states.append(an.state_from_row(row.asDict()))
    merged = an.merge_states(states)
    assert merged["n"] == len(values)

    union = sorted(values)
    eps = an.merge_error_bound()  # 0.0101 at defaults
    for q in (0.05, 0.25, 0.5, 0.75, 0.95, 0.99):
        est = an.quantile_from_state(merged, q)
        lo_r = bisect.bisect_left(union, est) / len(union)
        hi_r = bisect.bisect_right(union, est) / len(union)
        err = 0.0 if lo_r <= q <= hi_r else min(abs(q - lo_r), abs(q - hi_r))
        assert err <= eps, (q, est, err, eps)


def test_quantile_sketch_by_groupwise_merge_law(spark):
    """Grouped states from arbitrary shards merge per group to within
    the documented rank bound of each group's own exact quantile —
    groups never interact (round 11, the mg_sketch_by symmetry)."""
    import pyspark.sql.functions as F

    from term_spark.analyzers.quantile_sketch import (
        QuantileSketchAnalyzer, quantile_sketch_by)

    # two groups with very different distributions, 3 uneven shards
    rows = ([("a", float(i % 97)) for i in range(700)]
            + [("b", float((i * i) % 31)) for i in range(300)])
    df = spark.createDataFrame(rows, "g string, v double").repartition(7)
    an = QuantileSketchAnalyzer("v", k=100, accuracy=1000)
    # shard rows must partition df rows exactly: index-residue shards
    df = df.withColumn("i", F.monotonically_increasing_id())
    shards = [df.filter(F.col("i") % 3 == s).drop("i") for s in range(3)]
    per_shard = [quantile_sketch_by(s, "g", "v", k=100, accuracy=1000)
                 for s in shards]
    eps = an.merge_error_bound()
    import bisect
    by_group = {"a": sorted(v for g, v in rows if g == "a"),
                "b": sorted(v for g, v in rows if g == "b")}
    for g, vals in by_group.items():
        states = [ps[g] for ps in per_shard if g in ps]
        merged = an.merge_states(states)
        assert merged["n"] == len(vals)
        for q in (0.1, 0.5, 0.9):
            est = an.quantile_from_state(merged, q)
            lo = bisect.bisect_left(vals, est) / len(vals)
            hi = bisect.bisect_right(vals, est) / len(vals)
            assert lo - eps <= q <= hi + eps, (g, q, est, lo, hi)
