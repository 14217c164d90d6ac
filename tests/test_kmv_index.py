"""Persisted KMV overlap index (the seventh incremental tier,
analyzers/kmv_index.py): exact-regime pairwise set ops under sharding,
shard-order AND overlap idempotence (min-k is an exact idempotent
monoid), pinned-param guards, byte-identical compaction, and the
saturated-regime estimator bands."""

import pyspark.sql.functions as F
import pytest

from term_spark.analyzers.kmv_index import (build_kmv_index,
                                            compact_kmv_index,
                                            overlap_from_index)
from term_spark.index_store import IndexStore


def _grouped(spark, n=300):
    # src_a holds 0..n, src_b holds n/2..3n/2 (50% overlap with a),
    # src_c holds 10n..11n (disjoint)
    half, ten = n // 2, 10 * n
    return spark.range(3 * n).select(
        F.when(F.col("id") < n, "src_a")
         .when(F.col("id") < 2 * n, "src_b").otherwise("src_c")
         .alias("source"),
        F.when(F.col("id") < n, F.col("id"))
         .when(F.col("id") < 2 * n, F.col("id") - n + half)
         .otherwise(F.col("id") - 2 * n + ten).alias("val"))


def _probe(spark, path):
    return {(r["grp_a"], r["grp_b"]): r for r in
            overlap_from_index(spark, path).collect()}


def test_exact_regime_pairwise_set_ops_under_sharding(spark, tmp_path):
    d = _grouped(spark, n=300)
    path = str(tmp_path / "idx")
    build_kmv_index(d.filter(F.col("val") % 2 == 0), "source", "val", path)
    build_kmv_index(d.filter(F.col("val") % 2 != 0), "source", "val", path,
                    mode="append")
    got = _probe(spark, path)
    ab = got[("src_a", "src_b")]
    assert ab["exact_regime"]
    assert ab["n_a"] == 300.0 and ab["n_b"] == 300.0
    assert ab["n_union"] == 450.0
    assert ab["n_intersection"] == 150.0
    assert ab["jaccard"] == round(150 / 450, 6)
    assert ab["n_shards"] == 4  # two shards contributed to each group
    ac = got[("src_a", "src_c")]
    assert ac["jaccard"] == 0.0 and ac["n_intersection"] == 0.0


def test_overlapping_shards_are_idempotent(spark, tmp_path):
    """min-k(A ∪ A) == min-k(A): appending the SAME rows twice cannot
    change any estimate (the COUNT-discipline tiers lack this)."""
    d = _grouped(spark, n=100)
    p1, p2 = str(tmp_path / "once"), str(tmp_path / "twice")
    build_kmv_index(d, "source", "val", p1)
    build_kmv_index(d, "source", "val", p2)
    build_kmv_index(d, "source", "val", p2, mode="append")
    g1, g2 = _probe(spark, p1), _probe(spark, p2)
    for key in g1:
        for c in ("n_a", "n_b", "jaccard", "n_union", "n_intersection"):
            assert g1[key][c] == g2[key][c], (key, c)


def test_append_param_guard(spark, tmp_path):
    d = _grouped(spark, n=50)
    path = str(tmp_path / "idx")
    build_kmv_index(d, "source", "val", path, k=64)
    with pytest.raises(ValueError, match="pinned"):
        build_kmv_index(d, "source", "val", path, k=32, mode="append")
    with pytest.raises(ValueError, match="pinned"):
        build_kmv_index(d.withColumnRenamed("val", "other"),
                        "source", "other", path, k=64, mode="append")
    with pytest.raises(ValueError, match="k must be"):
        build_kmv_index(d, "source", "val", str(tmp_path / "k"), k=4)


def test_compaction_is_byte_identical(spark, tmp_path):
    d = _grouped(spark, n=200)
    path = str(tmp_path / "idx")
    thirds = [d.filter(F.col("val") % 3 == i) for i in range(3)]
    build_kmv_index(thirds[0], "source", "val", path, k=64)
    build_kmv_index(thirds[1], "source", "val", path, k=64, mode="append")
    before = _probe(spark, path)
    compact_kmv_index(spark, path)
    sk = IndexStore(spark, path).read("sketches")
    assert sk.count() == 3  # one row per group
    after = _probe(spark, path)
    for key in before:
        for c in ("n_a", "n_b", "jaccard", "n_union", "n_intersection"):
            assert before[key][c] == after[key][c], (key, c)
    # the folded sketch equals a batch build hash-for-hash
    batch = str(tmp_path / "batch")
    build_kmv_index(thirds[0].unionByName(thirds[1]), "source", "val",
                    batch, k=64)
    live = {r["grp"]: r["hashes"] for r in sk.collect()}
    ref = {r["grp"]: r["hashes"] for r in
           IndexStore(spark, batch).read("sketches").collect()}
    assert live == ref
    # post-compaction append keeps composing
    build_kmv_index(thirds[2], "source", "val", path, k=64, mode="append")
    final = _probe(spark, path)
    # the folded row PRESERVES its contributing-shard count (2), so
    # after one more append each group reads 3 and the pair reads 6
    assert final[("src_a", "src_b")]["n_shards"] == 6


def test_saturated_regime_stays_in_band(spark, tmp_path):
    """With k far below the distinct count the estimates are sampled,
    not exact — distinct within 3/√(k−2) relative, Jaccard within
    3·√(J(1−J)/k) + 2/k absolute."""
    d = _grouped(spark, n=4000)
    path = str(tmp_path / "idx")
    k = 256
    build_kmv_index(d.filter(F.col("val") % 2 == 0), "source", "val",
                    path, k=k)
    build_kmv_index(d.filter(F.col("val") % 2 != 0), "source", "val",
                    path, k=k, mode="append")
    got = _probe(spark, path)
    ab = got[("src_a", "src_b")]
    assert not ab["exact_regime"]
    rel = 3.0 / (k - 2) ** 0.5
    for col, exact in (("n_a", 4000.0), ("n_b", 4000.0),
                       ("n_union", 6000.0)):
        assert abs(ab[col] - exact) <= rel * exact, (col, ab[col])
    j = 2000 / 6000
    band = 3.0 * (j * (1 - j) / k) ** 0.5 + 2.0 / k
    assert abs(ab["jaccard"] - j) <= band, ab["jaccard"]
