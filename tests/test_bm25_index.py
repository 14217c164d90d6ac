"""Persisted BM25 postings index (the fifth incremental tier,
operators/text.py): probe == in-memory bm25_topk score-for-score,
shard-wise append == batch build (doc-local rows ⇒ row-set equality),
tokenizer pin guard."""

import pytest

import pyspark.sql.functions as F

from term_spark.index_store import IndexStore
from term_spark.operators.text import (BM25_TOKENIZER_TAG, bm25_topk,
                                       bm25_topk_from_index,
                                       build_bm25_index)

_DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "a lazy dog sleeps all day long in the sun"),
    (3, "quick sorting algorithms beat lazy evaluation sometimes"),
    (4, "completely unrelated text about parquet column pruning"),
    (5, None),
]
_QUERIES = [(0, "lazy dog"), (1, "quick quick fox")]


def _rows(df):
    return sorted((r["query_id"], r["doc_id"], r["score"], r["rank"])
                  for r in df.collect())


def test_probe_matches_in_memory_bm25(spark, tmp_path):
    docs = spark.createDataFrame(_DOCS, "doc_id long, text string")
    q = spark.createDataFrame(_QUERIES, "query_id long, query string")
    path = str(tmp_path / "bm25")
    build_bm25_index(docs, path)
    got = _rows(bm25_topk_from_index(spark, path, q, k=3))
    want = _rows(bm25_topk(docs, q, k=3))
    assert got == want and len(got) > 0


def test_append_equals_batch_build(spark, tmp_path):
    docs = spark.createDataFrame(_DOCS, "doc_id long, text string")
    q = spark.createDataFrame(_QUERIES, "query_id long, query string")
    p_batch, p_inc = str(tmp_path / "batch"), str(tmp_path / "inc")
    build_bm25_index(docs, p_batch)
    build_bm25_index(docs.filter("doc_id <= 2"), p_inc)
    build_bm25_index(docs.filter("doc_id > 2"), p_inc, mode="append")
    got = _rows(bm25_topk_from_index(spark, p_inc, q, k=5))
    want = _rows(bm25_topk_from_index(spark, p_batch, q, k=5))
    assert got == want


def test_tokenizer_pin_guard(spark, tmp_path, monkeypatch):
    docs = spark.createDataFrame(_DOCS[:2], "doc_id long, text string")
    path = str(tmp_path / "bm25")
    build_bm25_index(docs, path)
    import term_spark.operators.text as T
    monkeypatch.setattr(T, "BM25_TOKENIZER_TAG", "norm_tokens_v999")
    with pytest.raises(ValueError, match="pinned"):
        build_bm25_index(docs, path, mode="append")


def test_probe_validates_params(spark, tmp_path):
    docs = spark.createDataFrame(_DOCS[:2], "doc_id long, text string")
    q = spark.createDataFrame(_QUERIES, "query_id long, query string")
    path = str(tmp_path / "bm25")
    build_bm25_index(docs, path)
    with pytest.raises(ValueError, match="k must be"):
        bm25_topk_from_index(spark, path, q, k=0)
    with pytest.raises(ValueError, match="k1"):
        bm25_topk_from_index(spark, path, q, k1=-1)


def test_probe_prunes_postings_scan_to_query_terms(spark, tmp_path):
    """The serving plan must carry the broadcast semi-join below the
    scoring joins — the postings table is corpus-sized, the pruned set
    is query-term-sized."""
    docs = spark.createDataFrame(_DOCS, "doc_id long, text string")
    q = spark.createDataFrame(_QUERIES, "query_id long, query string")
    path = str(tmp_path / "bm25")
    build_bm25_index(docs, path)
    plan = bm25_topk_from_index(spark, path, q)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "LeftSemi" in plan


def test_compaction_is_a_pure_rewrite(spark, tmp_path):
    import os

    from term_spark.operators.text import compact_bm25_index
    docs = spark.createDataFrame(_DOCS, "doc_id long, text string")
    q = spark.createDataFrame(_QUERIES, "query_id long, query string")
    path = str(tmp_path / "bm25")
    for lo, hi in ((1, 2), (3, 3), (4, 5)):
        build_bm25_index(docs.filter(f"doc_id between {lo} and {hi}"),
                         path, mode="overwrite" if lo == 1 else "append")
    before = _rows(bm25_topk_from_index(spark, path, q, k=5))
    compact_bm25_index(spark, path, target_partitions=1)
    after = _rows(bm25_topk_from_index(spark, path, q, k=5))
    assert after == before
    n_files = len([f for f in os.listdir(
                       IndexStore(spark, path).paths("postings")[0])
                   if f.endswith(".parquet")])
    assert n_files == 1
    # appends keep composing after compaction
    build_bm25_index(
        spark.createDataFrame([(9, "a brand new lazy dog document")],
                              "doc_id long, text string"),
        path, mode="append")
    grown = _rows(bm25_topk_from_index(spark, path, q, k=5))
    assert any(doc == 9 for _, doc, _, _ in grown)
