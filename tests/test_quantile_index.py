"""Persisted quantile-sketch index (the sixth incremental tier,
analyzers/quantile_index.py): sharded-build-plus-merge rank accuracy
vs exact, shard-order invariance of the weighted-grid merge,
pinned-param guards, empty-shard and NULL handling, the report's
rank-band attestation, and bounded (one-extra-merge-level)
compaction."""

import pytest
import pyspark.sql.functions as F

from term_spark.analyzers.quantile_index import (DEFAULT_ACCURACY,
                                                 DEFAULT_K, _bound,
                                                 build_quantile_index,
                                                 compact_quantile_index,
                                                 quantile_index_report,
                                                 quantiles_from_index)
from term_spark.index_store import IndexStore

PROBS = [0.1, 0.5, 0.9]


def _data(spark, n=2000, start=0):
    # skewed + linear columns so quantiles are non-trivial
    return spark.range(start, start + n).select(
        F.col("id").alias("doc_id"),
        (F.col("id") * F.col("id")).cast("double").alias("sq"),
        (F.col("id") % 97).cast("double").alias("mod"))


def _est(spark, path, probs=PROBS):
    return {(r["col_name"], r["p"]): r for r in
            quantiles_from_index(spark, path, probs).collect()}


def _exact_rank(df, col, value):
    n, le = df.agg(F.count(F.col(col)),
                   F.count_if(F.col(col).cast("double")
                              <= F.lit(float(value)))).collect()[0]
    return le / n


def test_sharded_build_rank_within_bound(spark, tmp_path):
    d = _data(spark)
    path = str(tmp_path / "idx")
    build_quantile_index(d.filter(F.col("doc_id") % 3 != 0),
                         ["sq", "mod"], path)
    build_quantile_index(d.filter(F.col("doc_id") % 3 == 0),
                         ["sq", "mod"], path, mode="append")
    est = _est(spark, path)
    bound = _bound(DEFAULT_K, DEFAULT_ACCURACY)
    for col in ("sq", "mod"):
        for p in PROBS:
            r = est[(col, p)]
            assert r["n_rows"] == 2000
            assert r["n_shards"] == 2
            # the guarantee is on RANK, not value
            rank = _exact_rank(d, col, r["q_est"])
            assert abs(rank - p) <= bound + 0.01, (col, p, rank)


def test_shard_order_invariance(spark, tmp_path):
    """The merge sorts the union of weighted grid points before
    resampling, so A-then-B and B-then-A probes read identically."""
    d = _data(spark, n=800)
    a = d.filter(F.col("doc_id") % 2 == 0)
    b = d.filter(F.col("doc_id") % 2 != 0)
    p1, p2 = str(tmp_path / "ab"), str(tmp_path / "ba")
    build_quantile_index(a, ["sq"], p1)
    build_quantile_index(b, ["sq"], p1, mode="append")
    build_quantile_index(b, ["sq"], p2)
    build_quantile_index(a, ["sq"], p2, mode="append")
    e1, e2 = _est(spark, p1), _est(spark, p2)
    for key in e1:
        assert e1[key]["q_est"] == e2[key]["q_est"], key


def test_append_param_guard(spark, tmp_path):
    d = _data(spark, n=100)
    path = str(tmp_path / "idx")
    build_quantile_index(d, ["sq"], path, k=100)
    with pytest.raises(ValueError, match="pinned"):
        build_quantile_index(d, ["sq"], path, k=50, mode="append")
    with pytest.raises(ValueError, match="pinned"):
        build_quantile_index(d, ["sq"], path, k=100, accuracy=500,
                             mode="append")
    with pytest.raises(ValueError, match="pinned"):
        build_quantile_index(d, ["mod"], path, k=100, mode="append")


def test_input_validation(spark, tmp_path):
    d = _data(spark, n=10)
    with pytest.raises(ValueError, match="empty column list"):
        build_quantile_index(d, [], str(tmp_path / "a"))
    with pytest.raises(ValueError, match="k must be"):
        build_quantile_index(d, ["sq"], str(tmp_path / "b"), k=1)


def test_empty_and_null_shards_add_no_information(spark, tmp_path):
    d = _data(spark, n=500)
    path = str(tmp_path / "idx")
    build_quantile_index(d, ["sq"], path)
    before = _est(spark, path)
    build_quantile_index(d.filter(F.lit(False)), ["sq"], path,
                         mode="append")
    nulls = spark.range(50).select(
        F.col("id").alias("doc_id"),
        F.lit(None).cast("double").alias("sq"),
        F.lit(None).cast("double").alias("mod"))
    build_quantile_index(nulls, ["sq"], path, mode="append")
    after = _est(spark, path)
    for key in before:
        assert before[key]["q_est"] == after[key]["q_est"]
        assert after[key]["n_shards"] == 1  # zero-mass shards dropped


def test_report_attestation_column(spark, tmp_path):
    d = _data(spark, n=1500)
    path = str(tmp_path / "idx")
    build_quantile_index(d.filter(F.col("doc_id") < 1000), ["sq"], path)
    build_quantile_index(d.filter(F.col("doc_id") >= 1000), ["sq"], path,
                         mode="append")
    rep = quantile_index_report(spark, path, PROBS, exact_df=d).collect()
    assert len(rep) == len(PROBS)
    assert all(r["within_bound"] for r in rep)
    # a lost shard (build only 2/3 of the data, verify against all of
    # it) moves p=0.9's rank far outside the band — the attestation is
    # a real tripwire, not a tautology
    lost = str(tmp_path / "lost")
    build_quantile_index(d.filter(F.col("doc_id") < 1000), ["sq"], lost)
    rep2 = {r["p"]: r for r in quantile_index_report(
        spark, lost, PROBS, exact_df=d).collect()}
    assert not rep2[0.9]["within_bound"]


def test_compaction_bounded_and_append_composes(spark, tmp_path):
    d = _data(spark, n=1800)
    path = str(tmp_path / "idx")
    thirds = [d.filter(F.col("doc_id") % 3 == i) for i in range(3)]
    build_quantile_index(thirds[0], ["sq", "mod"], path)
    build_quantile_index(thirds[1], ["sq", "mod"], path, mode="append")
    compact_quantile_index(spark, path)
    grids = IndexStore(spark, path).read("grids")
    assert grids.count() == 2  # one row per column
    assert {r["n_shards"] for r in grids.collect()} == {2}
    # post-compaction append keeps composing; the report's two-level
    # tolerance still holds over compacted + fresh shards
    build_quantile_index(thirds[2], ["sq", "mod"], path, mode="append")
    rep = quantile_index_report(spark, path, PROBS, exact_df=d).collect()
    assert len(rep) == 2 * len(PROBS)
    assert all(r["within_bound"] for r in rep)
    assert all(r["n_rows"] == 1800 for r in rep)
    assert all(r["n_shards"] == 3 for r in rep)


def test_grouped_index_per_group_quantiles(spark, tmp_path):
    """The mg_sketch_by symmetry: per-group grids, group-wise rank
    bound, group_col pinned against ungrouped probes."""
    d = spark.range(3000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 3 == 0, "a").otherwise("b").alias("src"),
        # group a: values 0..999ish; group b: values shifted +10000
        (F.col("id") + F.when(F.col("id") % 3 == 0, 0)
         .otherwise(10000)).cast("double").alias("v"))
    path = str(tmp_path / "gidx")
    build_quantile_index(d.filter(F.col("doc_id") < 1500), ["v"], path,
                         group_col="src")
    build_quantile_index(d.filter(F.col("doc_id") >= 1500), ["v"], path,
                         group_col="src", mode="append")
    rep = quantile_index_report(spark, path, [0.5], exact_df=d)
    rows = {r["grp"]: r for r in rep.collect()}
    assert set(rows) == {"a", "b"}
    assert all(r["within_bound"] for r in rows.values())
    assert rows["a"]["q_est"] < 3000 and rows["b"]["q_est"] > 10000
    assert rows["a"]["n_rows"] == 1000 and rows["b"]["n_rows"] == 2000
    # grouped-vs-ungrouped params are pinned like k/accuracy
    with pytest.raises(ValueError, match="pinned"):
        build_quantile_index(d, ["v"], path, mode="append")
    # compaction folds to one row per (group, column) and keeps probing
    compact_quantile_index(spark, path)
    grids = IndexStore(spark, path).read("grids")
    assert grids.count() == 2
    rep2 = {r["grp"]: r for r in quantile_index_report(
        spark, path, [0.5], exact_df=d).collect()}
    assert all(r["within_bound"] for r in rep2.values())
