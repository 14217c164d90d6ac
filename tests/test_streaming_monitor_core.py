"""The foreachBatch core every streaming monitor shares: a replayed
batch_id is a no-op for all of them, and readers that need a Spark
session work from any thread."""

import threading

import pytest

import pyspark.sql.functions as F

from term_spark import Assertion, Check, Level, ValidationSuite
from term_spark.analyzers.anomaly import AbsoluteChange
from term_spark.analyzers.base import MetricValue
from term_spark.repository import InMemoryRepository, ResultKey
from term_spark import streaming as st


def _pii(spark):
    m = st.StreamingPiiMonitor(max_ratio=0.0)
    df = spark.createDataFrame(
        [("mail me at jane.doe@example.com",), ("nothing here",), (None,)],
        "text string")
    return m, df, lambda: (m.status(), list(m.alerts))


def _heavy_hitters(spark):
    m = st.StreamingHeavyHitterMonitor("tok", k=8, max_ratio=0.5)
    df = spark.createDataFrame([("a",), ("a",), ("b",)], "tok string")
    return m, df, lambda: (m.summary.n, m.top(), list(m.alerts))


def _grouped_heavy_hitters(spark):
    m = st.StreamingGroupedHeavyHitterMonitor("src", "tok", k=8,
                                              max_ratio=0.5)
    df = spark.createDataFrame(
        [("x", "a"), ("x", "a"), ("x", "b"), ("y", "c")], "src string, tok string")
    return m, df, lambda: ([(g, m.summaries[g].n, m.top(g))
                            for g in m.groups()], list(m.alerts))


def _anomaly(spark):
    repo = InMemoryRepository()
    repo.save(ResultKey.of(1.0), {"n_rows": MetricValue.double(1.0)})
    m = st.StreamingAnomalyMonitor({"n_rows": F.count(F.lit(1))}, repo,
                                   AbsoluteChange(max_increase=1))
    df = spark.createDataFrame([(float(i),) for i in range(4)], "v double")
    return m, df, lambda: ([(n, v.value) for _, n, v in repo.query()],
                           [(b, n) for b, n, _ in m.alerts])


def _suite_runner(spark):
    repo = InMemoryRepository()
    suite = (ValidationSuite.builder("replay_suite")
             .with_check(Check("c", Level.ERROR)
                         .is_complete("id").has_min("v", Assertion.ge(0))))
    seen = []
    m = st.StreamingSuiteRunner(suite, repository=repo,
                                on_result=lambda b, r: seen.append(b))
    df = spark.createDataFrame([(1, 1.0), (2, 2.0)], "id long, v double")
    return m, df, lambda: ([(b, r.passed) for b, r in m.results], list(seen),
                           [(n, v.value) for _, n, v in repo.query()])


def _distinct(spark):
    m = st.StreamingDistinctMonitor(["u"], max_distinct={"u": 1})
    df = spark.createDataFrame([(1,), (2,), (2,)], "u long")
    return m, df, lambda: (m.estimates(), m.n_rows, list(m.alerts))


def _quantile(spark):
    m = st.StreamingQuantileMonitor(["v"], k=16,
                                    bounds={"v": (0.5, 100.0, 200.0)})
    df = spark.createDataFrame([(float(i),) for i in range(10)], "v double")
    return m, df, lambda: (m.quantiles([0.5]), m.n_rows, list(m.alerts))


def _embedding(spark):
    m = st.StreamingEmbeddingQualityMonitor(expect_dim=2)
    df = spark.createDataFrame([(1, [0.6, 0.8]), (2, [0.0, 0.0])],
                               "vec_id long, embedding array<double>")
    return m, df, lambda: (m.status(), list(m.alerts))


@pytest.mark.parametrize("make", [
    _pii, _heavy_hitters, _grouped_heavy_hitters, _anomaly, _suite_runner,
    _distinct, _quantile, _embedding], ids=lambda f: f.__name__.lstrip("_"))
def test_replayed_batch_id_is_a_no_op(spark, make):
    """foreachBatch is at-least-once: folding batch 0 again (a replay
    reuses the id) leaves every reader, alert and repository row as the
    first fold left them."""
    monitor, df, read = make(spark)
    monitor.foreach_batch(df, 0)
    first = read()
    assert first != make(spark)[2](), "batch 0 was not folded"
    monitor.foreach_batch(df, 0)
    assert read() == first


def test_distinct_estimates_from_another_thread(spark):
    """estimates() needs a session; it uses the last batch's, so it
    works on a thread that has no active session."""
    monitor = st.StreamingDistinctMonitor(["u", "k"])
    monitor.foreach_batch(spark.createDataFrame(
        [(i, "x") for i in range(20)], "u long, k string"), 0)
    main = monitor.estimates()
    got = {}

    def read():
        try:
            got["est"] = monitor.estimates()
        except Exception as e:  # reported by the assert below
            got["error"] = e

    t = threading.Thread(target=read)
    t.start()
    t.join(timeout=120)
    assert not t.is_alive()
    assert got == {"est": main}
    assert main == {"u": 20, "k": 1}
