"""Unit tests of the benchmark's own helpers (no Spark session needed).

Run from the repository root: ``python3 -m pytest perfbench -q``.
"""

import json
import os
import subprocess
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import datagen  # noqa: E402
from metrics import (END_TO_END, INDEX_QUERIES, NAME_RE, PER_LAYER,  # noqa: E402
                     UNIT_RE, Stopwatch, layer_metrics, new_ids, result_line,
                     tail_percentile, tree_usage)
from oracle import normalize  # noqa: E402
from tracing import Tracer  # noqa: E402


def test_tail_percentile_needs_ten_samples_beyond():
    assert tail_percentile(list(range(10))) is None
    assert tail_percentile(list(range(11))) == (100.0 / 11, 0)
    pct, value = tail_percentile([float(x) for x in range(100, 0, -1)])
    assert (pct, value) == (90.0, 90.0)
    assert sum(1 for x in range(1, 101) if x > value) == 10


def test_new_ids_is_the_sorted_difference():
    assert new_ids([1, 2, 3], [3, 2, 1, 7, 5]) == [5, 7]
    assert new_ids([4, 5], [5]) == []  # evicted ids are not new jobs


def test_normalize_sorts_columns_rows_and_renders_cells():
    df = pd.DataFrame({"b": [2.5, None], "a": [1, 0]})
    rows, cols = normalize(df)
    assert cols == ["a", "b"]
    assert rows == [("0", "null"), ("1", "2.5")]
    # int64 vs float64 columns stay distinguishable, as in the parity test
    assert normalize(pd.DataFrame({"x": [6]}))[0] != normalize(pd.DataFrame({"x": [6.0]}))[0]


def test_normalize_agrees_with_the_oracle_parity_test():
    sys.path.insert(0, os.path.join(ROOT, "tests"))
    parity = pytest.importorskip("test_oracle_parity")
    df = pd.DataFrame({"z": ["x", None, "y"], "n": [1.0, float("nan"), 0.1 + 0.2],
                       "t": pd.to_datetime(["2024-01-01", None, "2024-01-02"])})
    assert normalize(df) == parity._normalize(df)


def test_metric_names_and_units_follow_the_result_contract():
    for name, unit in {**END_TO_END, **PER_LAYER}.items():
        assert NAME_RE.match(name), name
        assert UNIT_RE.match(unit), unit
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER
    from workloads import WORKLOADS
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)


def test_result_line_carries_every_metric_with_its_unit():
    values = {"setup_s": 1.5, "spark_jobs_per_op": 8, "read_mb_per_op": 2.25,
              "write_mb_per_op": 0.25, "jvm_heap_live_mb": 90.0}
    line = json.loads(result_line(True, 3, 0, values, END_TO_END))
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert line["metrics"]["read_mb_per_op"] == {"value": 2.25, "unit": "MB"}
    assert line["metrics"]["spark_jobs_per_op"] == {"value": 8.0, "unit": "count"}
    with pytest.raises(KeyError):
        result_line(True, 1, 0, {"setup_s": 1.0}, END_TO_END)
    with pytest.raises(ValueError):
        result_line(True, 1, 0, {**values, "setup_s": float("nan")}, END_TO_END)


def test_stopwatch_counts_cpu_and_io_of_child_processes(tmp_path):
    path = tmp_path / "blob"
    sw = Stopwatch()
    with sw:
        subprocess.run([sys.executable, "-c",
                        f"open({str(path)!r}, 'wb').write(bytes(2**20))\n"
                        "import time\nt = time.process_time()\n"
                        "while time.process_time() - t < 0.3: pass"], check=True)
    # the reaped child's CPU time and writes count
    assert sw.cpu_seconds >= 0.25
    assert sw.write_bytes >= 2**20
    with sw:
        path.read_bytes()
    assert 0.25 <= sw.cpu_seconds <= sw.seconds + 0.05
    assert sw.read_bytes >= 2**20
    assert tree_usage(root=-1) == (0.0, 0, 0)


def test_layer_metrics_ratios():
    q = next(iter(INDEX_QUERIES))
    ops = [{"repository.series_reads": 3 * 132, "repository.series_calls": 3,
            f"queries.{q}.build_jobs": 19, f"queries.{q}.collect_jobs": 1,
            f"queries.{q}.build_s": 2.0}]
    out = layer_metrics(ops, {"session.start_s": 4.0}, [1.0], [0.9], [2.5])
    assert set(out) >= set(PER_LAYER)
    assert out["repository.files_read_per_series"] == 132  # N(N+1) at N=11
    assert out["queries.eager_job_share"] == 0.95
    assert out["queries.build_s"] == 2.0
    assert out["trace.overhead_s"] == pytest.approx(0.1)
    assert out["trace.untraced_op_cpu_s"] == 2.5


def test_tracer_self_time_subtracts_children():
    t = Tracer()
    t.enabled, t.op_id = True, 0
    with t.span("outer"):
        with t.span("inner"):
            pass
        t.count("n", 2)
    totals = t.totals(0)
    selfs = t.self_times()
    assert totals["n"] == 2
    assert selfs["outer"] == pytest.approx(totals["outer_s"] - totals["inner_s"])
    t.enabled = False
    with t.span("ignored"):
        pass
    assert "ignored_s" not in t.totals(0)


def test_series_read_counter_is_n_times_n_plus_one(tmp_path, monkeypatch):
    """The traced run's file-read counter on a real ParquetRepository:
    ``series()`` reads every file for ``keys()`` and again per key."""
    sys.path.insert(0, ROOT)
    import pyarrow.parquet as pq

    from term_spark.analyzers.anomaly import AnomalyDetector
    from term_spark.analyzers.base import MetricValue
    from term_spark.core.suite import ValidationSuite
    from term_spark.repository import MetricsRepository, ParquetRepository, ResultKey
    from tracing import instrument

    # instrument() patches globally; register every target for restoring
    for obj, attr in [(pq, "read_table"), (ValidationSuite, "run"),
                      (ParquetRepository, "save"), (MetricsRepository, "series"),
                      (AnomalyDetector, "detect_on"), (AnomalyDetector, "detect_series")]:
        monkeypatch.setattr(obj, attr, getattr(obj, attr))
    for mod in [m for n, m in sys.modules.items() if n.startswith("term_spark")]:
        if hasattr(mod, "read_parquet"):
            monkeypatch.setattr(mod, "read_parquet", mod.read_parquet)

    repo = ParquetRepository(str(tmp_path))
    n = 6
    for i in range(n):
        repo.save(ResultKey.of(float(i)), {"size": MetricValue.double(float(i))})
    tracer = Tracer()
    instrument(tracer)
    tracer.enabled, tracer.op_id = True, 0
    assert repo.series("size") == [float(i) for i in range(n)]
    out = layer_metrics([tracer.totals(0)], {}, [1.0], [1.0], [1.0])
    assert out["repository.files_read_per_series"] == n * (n + 1)
    assert out["repository.series_s"] > 0


def test_datagen_is_seeded_and_months_partition_lineitem(tmp_path):
    a, b = datagen.make_tables(7, 0.001), datagen.make_tables(7, 0.001)
    assert all(a[t].equals(b[t]) for t in datagen.TABLES)
    c = datagen.make_tables(8, 0.001)
    assert not a["lineitem"].equals(c["lineitem"])
    # other words, the same amount of text to shingle
    assert not a["documents"].equals(c["documents"])
    assert sorted(len(x.split()) for x in a["documents"]["text"].to_pylist()) == \
        sorted(len(x.split()) for x in c["documents"]["text"].to_pylist())
    months = datagen.write_months(a["lineitem"], str(tmp_path))
    assert len(months) == 83
    assert sum(rows for _, rows in months) == a["lineitem"].num_rows
