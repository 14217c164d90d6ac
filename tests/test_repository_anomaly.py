"""Metrics repository + anomaly detection over metric history."""

import pytest

from term_spark.analyzers.anomaly import (AbsoluteChange, AnomalyDetector,
                                          RelativeRateOfChange, ZScore)
from term_spark.analyzers.base import MetricValue
from term_spark.repository import (InMemoryRepository, ParquetRepository,
                                   ResultKey)


def _seed(repo, values, metric="completeness.name", **tags):
    for i, v in enumerate(values):
        repo.save(ResultKey.of(1000.0 + i, **tags),
                  {metric: MetricValue.double(v)})


def test_in_memory_repository_query():
    repo = InMemoryRepository()
    _seed(repo, [0.9, 0.92, 0.95], env="prod")
    _seed(repo, [0.5], metric="completeness.name", env="dev")
    prod = repo.query("completeness.name", tags={"env": "prod"})
    assert len(prod) == 3
    assert repo.series("completeness.name", tags={"env": "prod"}) == [0.9, 0.92, 0.95]
    # time-range filter
    recent = repo.query("completeness.name", after=1001.5, tags={"env": "prod"})
    assert len(recent) == 1


def test_parquet_repository_roundtrip(tmp_path):
    repo = ParquetRepository(str(tmp_path / "metrics"))
    key = ResultKey.of(1234.5, suite="s1")
    repo.save(key, {"size": MetricValue.long(100),
                    "mean.x": MetricValue.double(3.5)})
    loaded = repo.load(key)
    assert loaded["size"].value == 100
    assert loaded["mean.x"].value == 3.5
    assert repo.keys() == [key]


def test_rate_of_change_detector():
    repo = InMemoryRepository()
    _seed(repo, [100, 105, 110, 300])  # 2.7× jump
    det = AnomalyDetector(RelativeRateOfChange(max_increase=2.0, max_decrease=0.5))
    res = det.detect_on(repo, "completeness.name")
    assert res.is_anomaly
    _seed_ok = InMemoryRepository()
    _seed(_seed_ok, [100, 105, 110, 120])
    assert not det.detect_on(_seed_ok, "completeness.name").is_anomaly


def test_absolute_change_detector():
    det = AnomalyDetector(AbsoluteChange(max_increase=10, max_decrease=5))
    assert det.detect_series([100, 100, 115]).is_anomaly
    assert det.detect_series([100, 100, 94]).is_anomaly  # asymmetric
    assert not det.detect_series([100, 100, 108]).is_anomaly


def test_zscore_detector_min_history():
    det = AnomalyDetector(ZScore(threshold=3.0, min_history=3))
    # insufficient history → not anomalous
    assert not det.detect_series([1.0, 2.0]).is_anomaly
    series = [10, 10.5, 9.5, 10.2, 9.8, 10.1, 25.0]
    res = det.detect_series(series)
    assert res.is_anomaly
    assert res.expected_low < 10 < res.expected_high


def test_validation_result_metrics_flow_to_repository(spark, nulls_df):
    """End-to-end: suite run → repository → anomaly check."""
    from term_spark import Check, Level, ValidationSuite

    repo = InMemoryRepository()
    suite = (ValidationSuite.builder("s")
             .with_check(Check("c", Level.WARNING).completeness("name", 0.8)))
    for ts in (1.0, 2.0, 3.0):
        result = suite.run(spark, nulls_df)
        repo.save(ResultKey.of(ts, suite="s"),
                  {k: MetricValue.double(v) for k, v in result.metrics.items()})
    series = repo.series("completeness.name")
    assert series == [0.8, 0.8, 0.8]
    assert not AnomalyDetector(ZScore()).detect_series(series + [0.8]).is_anomaly


def test_sql_over_metrics_history(spark, tmp_path):
    """DataFusionQueryExecutor parity: run SQL over the persisted
    metrics history (repository/datafusion_executor.rs)."""
    repo = ParquetRepository(str(tmp_path / "m"))
    for i, v in enumerate([0.8, 0.9, 0.95]):
        repo.save(ResultKey.of(1000.0 + i, env="prod"),
                  {"completeness.name": MetricValue.double(v)})
    repo.as_spark_df(spark)
    rows = spark.sql("""
        SELECT metric, COUNT(*) AS n_runs,
               MIN(CAST(value AS DOUBLE)) AS min_v,
               MAX(CAST(value AS DOUBLE)) AS max_v
        FROM metrics_history GROUP BY metric
    """).collect()
    assert len(rows) == 1
    assert rows[0]["n_runs"] == 3
    assert rows[0]["min_v"] == 0.8 and rows[0]["max_v"] == 0.95


def test_sql_view_reads_committed_files_only(spark, tmp_path):
    """A crashed ``compact()`` can leave ``compacted_*.parquet.tmp``
    behind, complete or torn; SQL must see what ``series()`` sees."""
    import os
    import shutil

    repo = ParquetRepository(str(tmp_path / "m"))
    empty = repo.as_spark_df(spark)
    assert empty.columns == ["timestamp", "tags", "metric", "kind", "value"]
    assert empty.count() == 0
    _seed(repo, [0.8, 0.9, 0.95], env="prod")
    committed = repo._files()[0]
    shutil.copy(committed, os.path.join(
        repo.path, "compacted_1.000000_00000001.parquet.tmp"))
    with open(committed, "rb") as f:
        data = f.read()
    with open(os.path.join(
            repo.path, "compacted_2.000000_00000002.parquet.tmp"), "wb") as f:
        f.write(data[:len(data) // 2])
    assert repo.series("completeness.name") == [0.8, 0.9, 0.95]
    repo.as_spark_df(spark)
    rows = spark.sql("SELECT timestamp FROM metrics_history "
                     "ORDER BY timestamp").collect()
    assert [r["timestamp"] for r in rows] == [1000.0, 1001.0, 1002.0]


def test_parquet_repository_compaction_retention(tmp_path):
    repo = ParquetRepository(str(tmp_path / "m"))
    for ts in (100.0, 200.0, 300.0):
        repo.save(ResultKey.of(ts, run=str(int(ts))),
                  {"size": MetricValue.double(ts), "mean": MetricValue.double(1.0)})
    assert len(repo._files()) == 3

    dropped = repo.compact(before_ts=250.0)
    assert dropped == 4  # two runs x two metrics
    assert len(repo._files()) == 1  # rewritten as one file
    remaining = repo.keys()
    assert [k.timestamp for k in remaining] == [300.0]
    m = repo.load(remaining[0])
    assert m["size"].value == 300.0 and m["mean"].value == 1.0

    # idempotent: nothing left to drop, already one file
    assert repo.compact(before_ts=250.0) == 0


def test_parquet_repository_delete_via_compaction(tmp_path):
    repo = ParquetRepository(str(tmp_path / "m"))
    k1 = ResultKey.of(100.0, run="a")
    k2 = ResultKey.of(100.0, run="b")  # same ts, different tags
    k3 = ResultKey.of(200.0, run="a")
    for k in (k1, k2, k3):
        repo.save(k, {"size": MetricValue.double(k.timestamp)})

    repo.delete(k1)  # exact (timestamp, tags) match only
    assert repo.load(k1) is None
    assert repo.load(k2).get("size").value == 100.0
    assert repo.load(k3).get("size").value == 200.0

    # deleting everything leaves an empty, still-usable store
    repo.delete(k2)
    repo.delete(k3)
    assert repo.keys() == []
    repo.save(k1, {"size": MetricValue.double(1.0)})
    assert repo.load(k1).get("size").value == 1.0


def test_seasonal_comparison_cancels_the_cycle():
    from term_spark.analyzers.anomaly import SeasonalComparison
    # strong daily cycle, period 4: [10, 50, 90, 30] repeating
    cycle = [10.0, 50.0, 90.0, 30.0] * 3
    det = SeasonalComparison(period=4)
    # every in-cycle continuation is NOT an anomaly (same-phase ratio 1)
    for i in range(4, len(cycle)):
        assert not det.check(cycle[: i + 1]).is_anomaly
    # a trend detector would fire on the 30 -> 10 drop; seasonal doesn't
    # but a genuine same-phase collapse does:
    res = det.check(cycle + [10.0 * 0.2])  # phase expects ~10, got 2
    assert res.is_anomaly and "seasonal rate" in res.detail
    assert res.expected_low == 5.0 and res.expected_high == 20.0


def test_seasonal_comparison_guards():
    import pytest as _pt

    from term_spark.analyzers.anomaly import SeasonalComparison
    with _pt.raises(ValueError, match="period"):
        SeasonalComparison(period=0)
    with _pt.raises(ValueError, match="max_decrease"):
        SeasonalComparison(period=2, max_increase=1.0, max_decrease=2.0)
    det = SeasonalComparison(period=7)
    # fewer than period+1 points -> insufficient history, not an alert
    assert not det.check([1.0] * 7).is_anomaly
    assert "insufficient" in det.check([1.0] * 7).detail
    # zero baseline handled explicitly
    assert det.check([0.0] * 7 + [5.0]).is_anomaly


def test_has_no_anomaly_check_gates_on_history(spark):
    import pyspark.sql.functions as F

    from term_spark import Check, Level, ValidationSuite
    from term_spark.analyzers.anomaly import ZScore
    from term_spark.analyzers.base import MetricValue
    from term_spark.repository import InMemoryRepository, ResultKey

    repo = InMemoryRepository()
    for i, v in enumerate([100.0, 102.0, 98.0, 101.0]):
        repo.save(ResultKey.of(float(i)), {"row_count": MetricValue.double(v)})

    def run(df):
        return ValidationSuite.builder("anom").with_check(
            Check("d", Level.ERROR).has_no_anomaly(
                "row_count", F.count(F.lit(1)), ZScore(threshold=3.0), repo)
        ).run(spark, df)

    ok = run(spark.createDataFrame([(i,) for i in range(100)], "id long"))
    assert ok.passed

    spike = run(spark.createDataFrame([(i,) for i in range(500)], "id long"))
    assert not spike.passed
    msg = [x.message for x in spike.report.issues][0]
    assert "anomalous vs 4 historical points" in msg

    # a brand-new metric has no history -> cannot be anomalous
    fresh = ValidationSuite.builder("anom").with_check(
        Check("d", Level.ERROR).has_no_anomaly(
            "never_seen", F.count(F.lit(1)), ZScore(threshold=3.0), repo)
    ).run(spark, spark.createDataFrame([(1,)], "id long"))
    assert fresh.passed


def test_has_no_anomaly_rides_fused_agg(spark):
    import pyspark.sql.functions as F

    from term_spark import Assertion, Check, Level, ValidationSuite
    from term_spark.analyzers.anomaly import ZScore
    from term_spark.repository import InMemoryRepository

    repo = InMemoryRepository()
    df = spark.createDataFrame([(float(i),) for i in range(50)], "v double")
    suite = ValidationSuite.builder("fused").with_check(
        Check("d", Level.ERROR)
        .has_size(Assertion.gt(0))
        .has_mean("v", Assertion.between(0, 100))
        .has_no_anomaly("mean_v", F.avg("v"), ZScore(), repo))
    res = suite.run(spark, df)
    assert res.passed  # shares the one scan; no history -> no alert


def test_ewma_catches_slow_drift_zscore_misses():
    """EWMA's reason to exist: a metric creeping +0.4 sigma per run is
    never individually extreme (ZScore at 3 sigma stays quiet) but the
    EWMA accumulates the evidence and trips."""
    from term_spark.analyzers.anomaly import EwmaControl, ZScore
    stable = [10.0, 10.2, 9.8, 10.1, 9.9, 10.0, 10.15, 9.85]
    drift = stable + [10.3, 10.5, 10.7, 10.9, 11.1]
    assert not ZScore(threshold=3.0).check(drift).is_anomaly
    assert EwmaControl().check(drift).is_anomaly
    # and a stable series stays quiet
    assert not EwmaControl().check(stable + [10.05]).is_anomaly


def test_iqr_resists_spike_masking_zscore_suffers():
    """IQR's reason to exist: two historical spikes inflate sigma so
    ZScore misses a clear outlier; the quartiles barely move."""
    from term_spark.analyzers.anomaly import InterquartileRange, ZScore
    history = [10.0, 10.1, 9.9, 10.05, 9.95, 10.0, 10.02, 9.98,
               10.03, 9.97, 10.01, 9.99, 10.04, 9.96, 60.0, 58.0]
    series = history + [14.0]          # far outside the quiet band
    assert not ZScore(threshold=3.0).check(series).is_anomaly   # masked
    assert InterquartileRange(k=1.5).check(series).is_anomaly   # caught
    assert not InterquartileRange(k=1.5).check(
        history + [10.02]).is_anomaly


def test_new_strategies_edge_semantics():
    import pytest
    from term_spark.analyzers.anomaly import EwmaControl, InterquartileRange
    # insufficient history -> not an anomaly, zero confidence
    r = EwmaControl().check([1.0, 2.0])
    assert not r.is_anomaly and r.detail == "insufficient history"
    # constant history: equality passes, deviation flags
    c = [5.0] * 6
    assert not EwmaControl().check(c + [5.0]).is_anomaly
    assert EwmaControl().check(c + [5.1]).is_anomaly
    assert not InterquartileRange().check(c + [5.0]).is_anomaly
    assert InterquartileRange().check(c + [5.1]).is_anomaly
    with pytest.raises(ValueError):
        EwmaControl(lam=0.0)
    with pytest.raises(ValueError):
        InterquartileRange(k=0)


def test_new_strategies_through_repository_and_check():
    """Both strategies plug into the existing AnomalyDetector/
    has_no_anomaly machinery unchanged."""
    from term_spark.analyzers.anomaly import AnomalyDetector, EwmaControl
    from term_spark.repository import InMemoryRepository, ResultKey
    from term_spark.analyzers.base import MetricValue
    repo = InMemoryRepository()
    for i, v in enumerate([100.0, 101, 99, 100.5, 99.5, 100,
                           103, 106, 109, 112]):
        repo.save(ResultKey.of(1000.0 + i), {"size": MetricValue.double(v)})
    res = AnomalyDetector(EwmaControl()).detect_on(repo, "size")
    assert res.is_anomaly
