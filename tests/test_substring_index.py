"""Persisted ExactSubstr gram-frequency index: build/probe lifecycle,
batch-build equivalence (probe == duplicated_spans over history∪batch
restricted to batch docs), append-shard soundness (counts add;
min_count is monotone), compaction invariance, and the
include_batch=False "against history only" mode."""

import pytest

from term_spark.index_store import IndexStore
from term_spark.operators.text import (build_substring_index,
                                       compact_substring_index,
                                       duplicated_spans,
                                       duplicated_spans_against_index)

_PHRASE = "the quick brown fox jumps over the lazy dog tonight"
_HISTORY = [
    (1, f"an old crawl already contains {_PHRASE} in its archive pages"),
    (2, "completely unrelated text about spark aggregation plans and "
        "shuffles running wide"),
    (3, f"a second historical copy where {_PHRASE} appears once more"),
]
_BATCH = [
    # shares the >=k-token phrase with history docs 1 and 3
    (100, f"fresh document that repeats {_PHRASE} from the old corpus"),
    # novel content, no duplicated span
    (101, "nothing in common with anything stored in the index at all "
          "today or tomorrow"),
    # batch-internal repeat only (phrase absent from history)
    (102, "zebra yak xylophone walrus vulture toucan swan raven "
          "zebra yak xylophone walrus vulture toucan swan raven"),
]
K = 5


def _df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _probe(spark, idx, batch, **kw):
    return {(r["doc_id"], r["span_start"], r["span_end"]) for r in
            duplicated_spans_against_index(spark, idx, batch, **kw)
            .collect()}


def _batch_build_reference(spark, history_rows, batch_rows):
    union = _df(spark, history_rows + batch_rows)
    batch_ids = {i for i, _ in batch_rows}
    return {(r["doc_id"], r["span_start"], r["span_end"]) for r in
            duplicated_spans(union, k=K, min_count=2).collect()
            if r["doc_id"] in batch_ids}


@pytest.mark.parametrize("hasher", ["rolling", "md5"])
def test_probe_equals_batch_build(spark, tmp_path, hasher):
    """include_batch=True: probing the persisted index reproduces
    duplicated_spans(history ∪ batch) restricted to batch docs,
    span for span, under both gram hashers."""
    idx = str(tmp_path / f"ssidx_{hasher}")
    build_substring_index(_df(spark, _HISTORY), idx, k=K, hasher=hasher)
    got = _probe(spark, idx, _df(spark, _BATCH))
    assert got == _batch_build_reference(spark, _HISTORY, _BATCH)
    # the cross-corpus dup (100) and the batch-internal repeat (102)
    # are both flagged; the novel doc is not
    assert {d for d, _, _ in got} == {100, 102}


def test_append_equals_batch_build(spark, tmp_path):
    """Appending history shard-by-shard == building once over the
    union: per-shard partial counts add and the min_count test is
    monotone in the sum."""
    idx_inc = str(tmp_path / "ssidx_inc")
    build_substring_index(_df(spark, _HISTORY[:1]), idx_inc, k=K)
    build_substring_index(_df(spark, _HISTORY[1:2]), idx_inc, k=K,
                          mode="append")
    build_substring_index(_df(spark, _HISTORY[2:]), idx_inc, k=K,
                          mode="append")
    idx_batch = str(tmp_path / "ssidx_batch")
    build_substring_index(_df(spark, _HISTORY), idx_batch, k=K)
    batch = _df(spark, _BATCH)
    assert _probe(spark, idx_inc, batch) == _probe(spark, idx_batch, batch)


def test_compact_preserves_probe(spark, tmp_path):
    idx = str(tmp_path / "ssidx_c")
    build_substring_index(_df(spark, _HISTORY[:2]), idx, k=K)
    build_substring_index(_df(spark, _HISTORY[2:]), idx, k=K, mode="append")
    before = _probe(spark, idx, _df(spark, _BATCH))
    compact_substring_index(spark, idx)
    # compaction folds partials to one row per distinct gram
    grams = IndexStore(spark, idx).read("grams")
    assert grams.count() == grams.select("h").distinct().count()
    assert _probe(spark, idx, _df(spark, _BATCH)) == before


def test_include_batch_false_ignores_batch_internal_repeats(spark, tmp_path):
    """include_batch=False scores each position as stored + 1: the
    cross-corpus phrase still flags, the batch-internal repeat
    (doc 102, absent from history) does not."""
    idx = str(tmp_path / "ssidx_h")
    build_substring_index(_df(spark, _HISTORY), idx, k=K)
    got = _probe(spark, idx, _df(spark, _BATCH), include_batch=False)
    docs = {d for d, _, _ in got}
    assert 100 in docs and 102 not in docs


def test_probe_param_validation(spark, tmp_path):
    idx = str(tmp_path / "ssidx_v")
    build_substring_index(_df(spark, _HISTORY), idx, k=K)
    with pytest.raises(ValueError, match="min_count"):
        duplicated_spans_against_index(spark, idx, _df(spark, _BATCH),
                                       min_count=1).collect()


def test_probe_reads_params_from_meta(spark, tmp_path):
    """The probe hashes with the PINNED (k, hasher) — an index built
    at k=7 probes at k=7 regardless of any caller assumption."""
    idx = str(tmp_path / "ssidx_m")
    build_substring_index(_df(spark, _HISTORY), idx, k=7, hasher="md5")
    union = _df(spark, _HISTORY + _BATCH)
    expect = {(r["doc_id"], r["span_start"], r["span_end"]) for r in
              duplicated_spans(union, k=7, min_count=2).collect()
              if r["doc_id"] >= 100}
    assert _probe(spark, idx, _df(spark, _BATCH)) == expect


def test_rewrite_against_index_equals_batch_rewrite(spark, tmp_path):
    """The index-backed rewrite == remove_duplicated_spans over
    history ∪ batch, restricted to batch docs — text for text; the
    all-duplicate batch doc disappears in both."""
    from term_spark.operators.text import (
        remove_duplicated_spans, remove_duplicated_spans_against_index)

    idx = str(tmp_path / "ssidx_rw")
    build_substring_index(_df(spark, _HISTORY), idx, k=K)
    got, spans = remove_duplicated_spans_against_index(
        spark, idx, _df(spark, _BATCH))
    got_map = {r["doc_id"]: r["text"] for r in got.collect()}

    union = _df(spark, _HISTORY + _BATCH)
    ref, _ = remove_duplicated_spans(union, k=K, min_count=2)
    ref_map = {r["doc_id"]: r["text"] for r in ref.collect()
               if r["doc_id"] >= 100}
    assert got_map == ref_map
    # the shared-phrase doc lost its span but kept its novel tokens
    assert 100 in got_map and _PHRASE.split()[1] not in got_map[100]
    # spans_df is the probe output (caller accounting)
    assert {r["doc_id"] for r in spans.collect()} == {100, 102}


def test_append_param_mismatch_fails_loudly(spark, tmp_path):
    idx = str(tmp_path / "ssidx_pm")
    build_substring_index(_df(spark, _HISTORY), idx, k=K)
    with pytest.raises(ValueError, match="pinned at build time"):
        build_substring_index(_df(spark, _BATCH), idx, k=K + 2,
                              mode="append")
    with pytest.raises(ValueError, match="pinned at build time"):
        build_substring_index(_df(spark, _BATCH), idx, k=K, hasher="md5",
                              mode="append")
