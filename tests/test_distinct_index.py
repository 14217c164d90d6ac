"""Persisted HLL distinct-count index (the fourth incremental tier,
analyzers/distinct_index.py): sharded-build-plus-union accuracy vs
exact, shard-order invariance (register MAX is commutative /
associative / idempotent), pinned-param guards, empty-shard and NULL
handling, and the report's attestation column."""

import pytest
import pyspark.sql.functions as F

from term_spark.analyzers.distinct_index import (DEFAULT_LGK,
                                                 build_distinct_index,
                                                 distinct_estimates_from_index,
                                                 distinct_index_report, rse)
from term_spark.index_store import IndexStore


def _docs(spark, n=600, start=0):
    return spark.range(start, start + n).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 7).cast("string").alias("lang"),
        F.concat(F.lit("src"), (F.col("id") % 13).cast("string"))
         .alias("source"))


def _est(spark, path):
    return {r["col_name"]: r for r in
            distinct_estimates_from_index(spark, path).collect()}


def test_union_of_shards_within_tolerance(spark, tmp_path):
    d = _docs(spark)
    path = str(tmp_path / "idx")
    build_distinct_index(d.filter(F.col("doc_id") % 3 != 0),
                         ["doc_id", "lang", "source"], path)
    build_distinct_index(d.filter(F.col("doc_id") % 3 == 0),
                         ["doc_id", "lang", "source"], path, mode="append")
    est = _est(spark, path)
    tol = 3.0 * rse(DEFAULT_LGK)
    for col, exact in (("doc_id", 600), ("lang", 7), ("source", 13)):
        got = est[col]["n_distinct_est"]
        assert abs(got - exact) <= tol * exact, (col, got, exact)
        assert est[col]["n_rows"] == 600
        assert est[col]["n_shards"] == 2


def test_shard_order_invariance(spark, tmp_path):
    """Register-wise MAX is order-independent: building A then B gives
    the same estimates as B then A, for every tracked column."""
    d = _docs(spark, n=400)
    a = d.filter(F.col("doc_id") % 2 == 0)
    b = d.filter(F.col("doc_id") % 2 != 0)
    p1, p2 = str(tmp_path / "ab"), str(tmp_path / "ba")
    build_distinct_index(a, ["doc_id", "lang"], p1)
    build_distinct_index(b, ["doc_id", "lang"], p1, mode="append")
    build_distinct_index(b, ["doc_id", "lang"], p2)
    build_distinct_index(a, ["doc_id", "lang"], p2, mode="append")
    e1, e2 = _est(spark, p1), _est(spark, p2)
    for col in ("doc_id", "lang"):
        assert e1[col]["n_distinct_est"] == e2[col]["n_distinct_est"]


def test_overlapping_shards_do_not_double_count(spark, tmp_path):
    """Idempotence: appending the SAME shard twice must not raise the
    estimate beyond tolerance of the true (unchanged) distinct count —
    the property plain per-shard COUNT(DISTINCT) sums lack."""
    d = _docs(spark, n=500)
    path = str(tmp_path / "idx")
    build_distinct_index(d, ["doc_id"], path)
    build_distinct_index(d, ["doc_id"], path, mode="append")
    est = _est(spark, path)["doc_id"]
    assert est["n_shards"] == 2
    assert abs(est["n_distinct_est"] - 500) <= 3.0 * rse(DEFAULT_LGK) * 500


def test_append_param_guard(spark, tmp_path):
    d = _docs(spark, n=50)
    path = str(tmp_path / "idx")
    build_distinct_index(d, ["doc_id", "lang"], path, lgk=12)
    with pytest.raises(ValueError, match="pinned"):
        build_distinct_index(d, ["doc_id", "lang"], path, lgk=14,
                             mode="append")
    with pytest.raises(ValueError, match="pinned"):
        build_distinct_index(d, ["doc_id"], path, lgk=12, mode="append")


def test_input_validation(spark, tmp_path):
    d = _docs(spark, n=10)
    with pytest.raises(ValueError, match="empty column list"):
        build_distinct_index(d, [], str(tmp_path / "a"))
    with pytest.raises(ValueError, match="lgk"):
        build_distinct_index(d, ["doc_id"], str(tmp_path / "b"), lgk=2)


def test_empty_shard_appends_no_information(spark, tmp_path):
    """An empty batch aggregates to NULL sketches — they are filtered
    at write time, so the probe neither fails nor shifts."""
    d = _docs(spark, n=200)
    path = str(tmp_path / "idx")
    build_distinct_index(d, ["doc_id"], path)
    before = _est(spark, path)["doc_id"]["n_distinct_est"]
    build_distinct_index(d.filter(F.lit(False)), ["doc_id"], path,
                         mode="append")
    after = _est(spark, path)["doc_id"]
    assert after["n_distinct_est"] == before
    assert after["n_shards"] == 1  # NULL sketch row never written


def test_nulls_ignored_like_count_distinct(spark, tmp_path):
    d = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, None), (4, None), (5, "a")],
        "doc_id long, lang string")
    path = str(tmp_path / "idx")
    build_distinct_index(d, ["lang"], path)
    est = _est(spark, path)["lang"]["n_distinct_est"]
    assert est == 2  # sparse mode at this size: exact


def test_report_attestation_column(spark, tmp_path):
    d = _docs(spark, n=300)
    path = str(tmp_path / "idx")
    build_distinct_index(d, ["doc_id", "lang", "source"], path)
    rep = {r["col_name"]: r for r in
           distinct_index_report(spark, path, exact_df=d).collect()}
    assert set(rep) == {"doc_id", "lang", "source"}
    for col in rep:
        assert rep[col]["within_tolerance"] is True
        assert rep[col]["n_exact"] == {"doc_id": 300, "lang": 7,
                                       "source": 13}[col]


def test_compaction_preserves_estimates_and_append_composes(spark, tmp_path):
    from term_spark.analyzers.distinct_index import compact_distinct_index
    d = _docs(spark, n=400)
    path = str(tmp_path / "idx")
    for m in range(4):   # four shards
        build_distinct_index(d.filter(F.col("doc_id") % 4 == m),
                             ["doc_id", "lang"], path,
                             mode="overwrite" if m == 0 else "append")
    before = _est(spark, path)
    compact_distinct_index(spark, path)
    after = _est(spark, path)
    for col in ("doc_id", "lang"):
        assert after[col]["n_distinct_est"] == before[col]["n_distinct_est"]
        assert after[col]["n_rows"] == 400
        # n_shards keeps meaning "shards that contributed" (round-12
        # fix): compaction folds rows but sums the shard counters
        assert after[col]["n_shards"] == 4
    # the table itself DID fold to one blob per column
    assert IndexStore(spark, path).read("sketches").count() == 2
    # appends keep composing after compaction
    build_distinct_index(_docs(spark, n=100, start=400),
                         ["doc_id", "lang"], path, mode="append")
    est = _est(spark, path)["doc_id"]
    assert abs(est["n_distinct_est"] - 500) <= 3.0 * rse(DEFAULT_LGK) * 500


def test_compaction_clears_stale_backup_and_checks_renames(spark, tmp_path):
    """A crashed prior compaction leaves an uncommitted shard
    directory; probes must ignore it and the next commit must delete
    it."""
    import os

    from term_spark.analyzers.distinct_index import compact_distinct_index
    d = _docs(spark, n=200)
    path = str(tmp_path / "idx")
    build_distinct_index(d, ["doc_id"], path)
    build_distinct_index(_docs(spark, n=50, start=200), ["doc_id"], path,
                         mode="append")
    before = _est(spark, path)["doc_id"]
    # plant the uncommitted shard of a "crashed" prior compaction
    stale = tmp_path / "idx" / "shard-crashed" / "sketches"
    stale.mkdir(parents=True)
    (stale / "junk.parquet").write_bytes(b"not parquet")
    compact_distinct_index(spark, path)
    after = _est(spark, path)["doc_id"]
    assert after["n_distinct_est"] == before["n_distinct_est"]
    assert after["n_shards"] == 2
    # the next commit deleted the uncommitted shard
    assert not os.path.exists(str(stale))
