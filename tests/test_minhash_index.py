"""Persisted MinHash-LSH index: build/probe lifecycle, equivalence
with the in-memory LSH pass on the cross pairs, append-shard
soundness, the signature Jaccard estimate's behavior on exact
copies vs novel text, and the stored layout (16-byte digests; a
hex-string index is refused). md5 hashing — deterministic, no RNG."""

import os

import pyspark.sql.functions as F
import pytest
from pyspark.sql.types import BinaryType

from term_spark.index_store import IndexStore
from term_spark.operators.dedup import (build_minhash_index,
                                        minhash_lsh_candidates,
                                        minhash_signatures,
                                        neardup_against_index)
from term_spark.sources import read_parquet
from tests.conftest import SF_DIR

_CORPUS = [
    (1, "the quick brown fox jumps over the lazy dog near the river bank"),
    (2, "completely unrelated text about spark aggregation plans and shuffles"),
    (3, "another distinct document discussing parquet column pruning at scale"),
]
_BATCH = [
    # exact copy of doc 1 -> every minhash agrees
    (100, "the quick brown fox jumps over the lazy dog near the river bank"),
    # near-dup of doc 1 (one word changed)
    (101, "the quick brown fox jumps over the lazy cat near the river bank"),
    # novel
    (102, "nothing in common with anything stored in the index at all today"),
]


def _df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_index_lifecycle_and_estimates(spark, tmp_path):
    idx = str(tmp_path / "mhidx")
    build_minhash_index(_df(spark, _CORPUS), idx)
    out = {(r["new_id"], r["index_id"]): r for r in
           neardup_against_index(spark, idx, _df(spark, _BATCH)).collect()}

    assert (100, 1) in out
    exact = out[(100, 1)]
    assert exact["est_jaccard"] == pytest.approx(1.0)
    assert exact["n_bands_matched"] == 4
    # the near-dup must be estimated strictly below the exact copy
    if (101, 1) in out:
        assert out[(101, 1)]["est_jaccard"] < 1.0
    # the novel doc shares no bucket with anything
    assert not any(nid == 102 for nid, _ in out)


def test_probe_matches_in_memory_lsh_on_cross_pairs(spark, tmp_path):
    """Index-probe candidates == the in-memory self-join's candidates
    restricted to (batch, corpus) pairs, band count for band count —
    persisting the index changes WHERE the corpus half lives, never
    the math."""
    idx = str(tmp_path / "mhidx2")
    corpus, batch = _df(spark, _CORPUS), _df(spark, _BATCH)
    build_minhash_index(corpus, idx)
    served = {(r["new_id"], r["index_id"]): r["n_bands_matched"]
              for r in neardup_against_index(spark, idx, batch).collect()}

    both = corpus.unionByName(batch)
    corpus_ids = {i for i, _ in _CORPUS}
    batch_ids = {i for i, _ in _BATCH}
    mem = {}
    for r in minhash_lsh_candidates(both).collect():
        pair = {r["id_a"], r["id_b"]}
        b = pair & batch_ids
        c = pair & corpus_ids
        if b and c:
            mem[(b.pop(), c.pop())] = r["n_bands_matched"]
    assert served == mem


def test_append_shard(spark, tmp_path):
    """mode='append' with the same params folds a second corpus shard
    in; probes then hit documents from both shards."""
    idx = str(tmp_path / "mhidx3")
    build_minhash_index(_df(spark, _CORPUS[:1]), idx)
    build_minhash_index(_df(spark, [
        (50, "nothing in common with anything stored in the index at all today"),
    ]), idx, mode="append")
    out = {(r["new_id"], r["index_id"])
           for r in neardup_against_index(spark, idx, _df(spark, _BATCH))
           .collect()}
    assert (100, 1) in out      # shard 1
    assert (102, 50) in out     # shard 2


def test_append_is_linear_not_quadratic(spark, tmp_path):
    """Each append adds exactly one signatures row per NEW document —
    earlier shards' rows are never re-appended (the quadratic-growth
    bug: re-deriving bucket rows from the whole persisted index
    duplicates every prior shard on every append, inflating
    n_bands_matched past `bands`)."""
    idx = str(tmp_path / "mhidx_lin")
    bands = 4
    build_minhash_index(_df(spark, _CORPUS[:1]), idx)
    build_minhash_index(_df(spark, _CORPUS[1:2]), idx, mode="append")
    build_minhash_index(_df(spark, _CORPUS[2:3]), idx, mode="append")

    sig = IndexStore(spark, idx).read("signatures")
    assert sig.count() == 3
    per_doc = {r["id"]: r["n"] for r in
               sig.groupBy("id").count().withColumnRenamed("count", "n")
               .collect()}
    assert per_doc == {1: 1, 2: 1, 3: 1}

    # probe of an exact copy: n_bands_matched == bands exactly, and the
    # three-append index behaves identically to a one-shot batch build
    out = {(r["new_id"], r["index_id"]): r["n_bands_matched"] for r in
           neardup_against_index(spark, idx, _df(spark, _BATCH)).collect()}
    assert out[(100, 1)] == bands

    batch_idx = str(tmp_path / "mhidx_batch")
    build_minhash_index(_df(spark, _CORPUS), batch_idx)
    batch_out = {(r["new_id"], r["index_id"]): r["n_bands_matched"] for r in
                 neardup_against_index(spark, batch_idx,
                                       _df(spark, _BATCH)).collect()}
    assert out == batch_out


def test_min_est_jaccard_filter(spark, tmp_path):
    idx = str(tmp_path / "mhidx4")
    build_minhash_index(_df(spark, _CORPUS), idx)
    out = neardup_against_index(spark, idx, _df(spark, _BATCH),
                                min_est_jaccard=1.0).collect()
    assert {(r["new_id"], r["index_id"]) for r in out} == {(100, 1)}


def test_signatures_shape(spark):
    sig = minhash_signatures(_df(spark, _CORPUS))
    assert sig.columns == ["id"] + [f"mh_{i}" for i in range(16)]
    assert sig.count() == 3


def test_append_param_mismatch_fails_loudly(spark, tmp_path):
    idx = str(tmp_path / "mhidx_pm")
    build_minhash_index(_df(spark, _CORPUS), idx)
    with pytest.raises(ValueError, match="pinned at build time"):
        build_minhash_index(_df(spark, _BATCH), idx, num_hashes=32,
                            bands=4, mode="append")


@pytest.mark.parametrize("entry", ["lsh", "oph", "index"])
def test_bands_must_divide_num_hashes(spark, tmp_path, entry):
    """A remainder would leave the trailing minhashes outside every
    band; the check must raise, not assert (asserts vanish under -O)."""
    from term_spark.operators.dedup import minhash_oph_candidates
    df = _df(spark, _CORPUS)
    call = {"lsh": lambda: minhash_lsh_candidates(df, num_hashes=10,
                                                  bands=4),
            "oph": lambda: minhash_oph_candidates(df, num_hashes=10,
                                                  bands=4),
            "index": lambda: build_minhash_index(
                df, str(tmp_path / "idx"), num_hashes=10, bands=4)}[entry]
    with pytest.raises(ValueError, match=r"num_hashes \(10\).*bands \(4\)"):
        call()


def test_build_and_probe_write_once_and_pin_nothing(spark, tmp_path,
                                                    monkeypatch):
    """One table per shard and a batch sketched once with no pin: a
    build followed by a probe writes one Parquet table and checkpoints
    nothing."""
    from pyspark.sql.readwriter import DataFrameWriter
    calls = {"parquet": 0, "localCheckpoint": 0}

    def count(cls, name):
        orig = getattr(cls, name)

        def counted(*args, **kwargs):
            calls[name] += 1
            return orig(*args, **kwargs)
        monkeypatch.setattr(cls, name, counted)

    corpus, batch = _df(spark, _CORPUS), _df(spark, _BATCH)
    count(DataFrameWriter, "parquet")
    count(type(corpus), "localCheckpoint")
    idx = str(tmp_path / "mhidx_once")
    build_minhash_index(corpus, idx)
    out = neardup_against_index(spark, idx, batch).collect()
    assert calls == {"parquet": 1, "localCheckpoint": 0}
    assert {(r["new_id"], r["index_id"]) for r in out} >= {(100, 1)}


def _parquet_bytes(spark, idx):
    store = IndexStore(spark, idx)
    return sum(os.path.getsize(os.path.join(root, f))
               for path in store.paths("signatures")
               for root, _, files in os.walk(path)
               for f in files if f.endswith(".parquet"))


def test_signatures_store_16_byte_digests(spark, tmp_path):
    """Every stored minhash and band hash is the raw md5 digest: binary
    of 16 bytes, whose hex form is the in-memory minhash."""
    idx = str(tmp_path / "mhidx_bin")
    build_minhash_index(_df(spark, _CORPUS), idx)
    sig = IndexStore(spark, idx).read("signatures")
    digests = sig.columns[1:]
    mh = [f"mh_{i}" for i in range(16)]
    assert digests == mh + [f"band_{b}" for b in range(4)]
    assert {sig.schema[c].dataType for c in digests} == {BinaryType()}
    assert {n for r in sig.select(*[F.length(c) for c in digests]).collect()
            for n in r} == {16}
    as_hex = sig.select("id", *[F.lower(F.hex(c)).alias(c) for c in mh])
    assert (sorted(map(tuple, as_hex.collect()))
            == sorted(map(tuple, minhash_signatures(_df(spark, _CORPUS))
                          .collect())))


def test_signatures_shard_is_under_two_thirds_of_its_hex_form(spark, tmp_path):
    """The registry's index corpus (documents with doc_id % 4 != 0):
    the shard takes at most 0.65x the Parquet bytes of the same rows
    as 32-char hex strings (0.60 at sf0.001 and sf0.01)."""
    corpus = (read_parquet(spark, f"{SF_DIR}/documents.parquet")
              .filter("doc_id % 4 != 0"))
    idx, hexed = str(tmp_path / "mh_bin"), str(tmp_path / "mh_hex")
    build_minhash_index(corpus, idx)
    stored = IndexStore(spark, idx).read("signatures")
    IndexStore(spark, hexed).write(
        {"signatures": stored.select(
            "id", *[F.lower(F.hex(c)).alias(c) for c in stored.columns[1:]])},
        {"digest": "hex"}, "overwrite")
    assert _parquet_bytes(spark, idx) <= 0.65 * _parquet_bytes(spark, hexed)


def _hex_index(spark, path):
    """An index in the hex-string layout: 32-char minhashes and band
    hashes, and params without the digest marker."""
    cols = [f"mh_{i}" for i in range(16)]
    bands = [F.md5(F.concat_ws("|", *cols[b * 4:(b + 1) * 4])).alias(f"band_{b}")
             for b in range(4)]
    sig = minhash_signatures(_df(spark, _CORPUS))
    IndexStore(spark, path).write({"signatures": sig.select("id", *cols, *bands)},
                                  {"k": 3, "num_hashes": 16, "bands": 4},
                                  "overwrite")


def test_hex_index_is_refused(spark, tmp_path):
    """A string compared with a binary is cast to binary, so probing a
    hex-string index would match nothing and say nothing: the probe
    raises, and an append onto it raises on the params."""
    idx = str(tmp_path / "mhidx_hex")
    _hex_index(spark, idx)
    with pytest.raises(ValueError, match="hex-string digests.*rebuild"):
        neardup_against_index(spark, idx, _df(spark, _BATCH))
    with pytest.raises(ValueError, match="pinned at build time"):
        build_minhash_index(_df(spark, _BATCH), idx, mode="append")
