"""SQ8 scalar quantization (operators/similarity.py): quantization
arithmetic, map-only/no-shuffle quantize plan, reconstruction accuracy,
and refined-search recall vs exact brute force."""

import pyspark.sql.functions as F
import pytest

from term_spark.operators.similarity import (cosine_topk, sq8_quantize,
                                             sq8_topk_refined)


def _vecs(spark, n=200, d=16):
    # deterministic pseudo-random unit-ish vectors
    return (spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.transform(F.sequence(F.lit(1), F.lit(d)),
                    lambda j: F.sin(F.col("id") * j * 0.7 + j * j * 0.3))
        .alias("embedding")))


def test_sq8_codes_and_scale(spark):
    df = spark.createDataFrame(
        [(0, [2.0, -1.0, 0.5]), (1, [0.0, 0.0, 0.0])],
        "vec_id long, embedding array<double>")
    got = {r["id"]: r for r in sq8_quantize(df).collect()}
    assert got[0]["codes"] == [127, -64, 32]   # round(v / (2/127))
    assert got[0]["scale"] == pytest.approx(2.0 / 127.0)
    assert got[0]["norm"] == pytest.approx((4 + 1 + 0.25) ** 0.5)
    assert got[1]["codes"] == [0, 0, 0] and got[1]["scale"] == 0.0


def test_sq8_quantize_is_map_only(spark):
    plan = sq8_quantize(_vecs(spark))._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in plan


def test_sq8_refined_matches_exact_topk(spark):
    """With refine_factor 4 the shortlist contains the true neighbors
    and the exact re-rank returns them bit-for-bit."""
    corpus = _vecs(spark).filter(F.col("vec_id") >= 5)
    queries = (_vecs(spark).filter(F.col("vec_id") < 3)
               .select(F.col("vec_id").alias("query_id"),
                       F.col("embedding").alias("query_vec")))
    exact = cosine_topk(corpus, queries, k=5).collect()
    codes = sq8_quantize(corpus)
    got = sq8_topk_refined(corpus, codes, queries, k=5,
                           refine_factor=4).collect()
    key = lambda rows: sorted((r["query_id"], r["rank"], r["nbr_id"],
                               r["cosine"]) for r in rows)
    assert key(got) == key(exact)


def test_sq8_refined_schema_is_cosine_topk_schema(spark):
    """Same column names and types as the exact search (bigint rank),
    so ``ann_recall`` and unions compare either side directly."""
    corpus = _vecs(spark, n=20).filter(F.col("vec_id") >= 2)
    queries = (_vecs(spark, n=2)
               .select(F.col("vec_id").alias("query_id"),
                       F.col("embedding").alias("query_vec")))
    got = sq8_topk_refined(corpus, sq8_quantize(corpus), queries, k=3)
    assert got.dtypes == cosine_topk(corpus, queries, k=3).dtypes
