"""IndexStore: the one committed layout behind every persisted index.

A write that dies after any table write and before its manifest
commit must leave every tier serving its last committed answer, and
the next write or compaction must succeed and delete what the crash
left.  Only a missing manifest means "no index": a torn one raises."""

import os

import pytest

import pyspark.sql.functions as F
from pyspark.sql.readwriter import DataFrameWriter

from term_spark.analyzers import distinct_index as DI
from term_spark.analyzers import kmv_index as KI
from term_spark.analyzers import quantile_index as QI
from term_spark.index_store import IndexStore
from term_spark.operators import dedup as D
from term_spark.operators import similarity as S
from term_spark.operators import text as T

_PHRASE = "alpha beta gamma delta epsilon zeta eta theta"
_BASE = ("the quick brown fox jumps over the lazy dog while the "
         "content defined chunker looks for gram boundaries in the "
         "stream and cuts wherever the rolling content hash lands")
_NOVEL = ("completely novel material with no chunk in common with the "
          "historical corpus stream at all, discussing parquet column "
          "pruning and adaptive query execution at petabyte scale")


def _docs(spark, rows, id_type="long"):
    return spark.createDataFrame(rows, f"doc_id {id_type}, text string")


def _sorted(df):
    return sorted(tuple(r) for r in df.collect())


def _vectors(spark, part):
    # four well-separated 4-d clusters; part 1 adds two more points
    n = 16 if part == 0 else 18
    rows = [(i, [10.0 if j == i % 4 else 0.0 for j in range(4)])
            for i in range(n)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _queries(spark):
    return spark.createDataFrame(
        [(0, [10.0, 0.0, 0.0, 0.0]), (1, [0.0, 0.0, 10.0, 0.0])],
        "query_id long, query_vec array<double>")


# Per tier: (build(spark, root, part, mode), probe(spark, root),
# tables written per build, mode of the second build, compaction or None).
# Part 1 changes every probe's answer, so a torn commit would show.
TIERS = {
    "minhash": (
        lambda spark, root, part, mode: D.build_minhash_index(
            _docs(spark, [(1, _BASE)] if part == 0 else [(50, _NOVEL)]),
            root, mode=mode),
        lambda spark, root: _sorted(D.neardup_against_index(
            spark, root, _docs(spark, [(100, _BASE), (102, _NOVEL)]))),
        1, "append", None),
    "substring": (
        lambda spark, root, part, mode: T.build_substring_index(
            _docs(spark, [(part + 1, f"history {part} says {_PHRASE}")]),
            root, k=4, mode=mode),
        lambda spark, root: _sorted(T.duplicated_spans_against_index(
            spark, root, _docs(spark, [(100, f"batch says {_PHRASE}")]),
            min_count=3)),
        1, "append", T.compact_substring_index),
    "cdc": (
        lambda spark, root, part, mode: D.build_cdc_index(
            _docs(spark, [("a1", _BASE)] if part == 0 else [("a2", _NOVEL)],
                  "string"), root, divisor=16, mode=mode),
        lambda spark, root: _sorted(D.remove_duplicate_chunks_against_index(
            spark, root, _docs(spark, [("b1", _BASE), ("b2", _NOVEL)],
                               "string"))[0]),
        1, "append", None),
    "bm25": (
        lambda spark, root, part, mode: T.build_bm25_index(
            _docs(spark, [(1, "a lazy dog sleeps"), (2, "quick sorting")]
                  if part == 0 else [(3, "the lazy lazy dog")]),
            root, mode=mode),
        lambda spark, root: _sorted(T.bm25_topk_from_index(
            spark, root, spark.createDataFrame(
                [(1, "lazy dog")], "query_id long, query string"))),
        2, "append",
        lambda spark, root: T.compact_bm25_index(spark, root, 1)),
    "distinct": (
        lambda spark, root, part, mode: DI.build_distinct_index(
            spark.range(100 * part, 100 * part + 100)
            .select(F.col("id").alias("v")), ["v"], root, mode=mode),
        lambda spark, root: _sorted(
            DI.distinct_estimates_from_index(spark, root)),
        1, "append", DI.compact_distinct_index),
    "quantile": (
        lambda spark, root, part, mode: QI.build_quantile_index(
            spark.range(100 * part, 100 * part + 100)
            .select(F.col("id").alias("v")), ["v"], root, k=8, mode=mode),
        lambda spark, root: _sorted(
            QI.quantiles_from_index(spark, root, [0.5])),
        1, "append", QI.compact_quantile_index),
    "kmv": (
        lambda spark, root, part, mode: KI.build_kmv_index(
            spark.createDataFrame(
                [("a", i) for i in range(40)] + [("b", i) for i in range(20)]
                if part == 0 else [("c", i) for i in range(30)],
                "g string, v long"), "g", "v", root, k=8, mode=mode),
        lambda spark, root: _sorted(KI.overlap_from_index(spark, root)),
        1, "append", KI.compact_kmv_index),
    "ivf": (
        lambda spark, root, part, mode: S.build_ivf_index(
            _vectors(spark, part), root, n_centroids=2, train_iterations=1),
        lambda spark, root: _sorted(S.ivf_topk_from_index(
            spark, root, _queries(spark), k=20, nprobe=2)),
        2, "overwrite", None),
    "ivfpq": (
        lambda spark, root, part, mode: S.build_ivfpq_index(
            _vectors(spark, part), root, n_centroids=2, m=2, pq_k=4,
            train_iterations=1, sample_size=64, iters=2),
        lambda spark, root: _sorted(S.ivfpq_topk_from_index(
            spark, root, _queries(spark), k=20, nprobe=2)),
        1, "overwrite", None),
}

CASES = [(tier, op, after)
         for tier, (_, _, n_tables, _, compact) in TIERS.items()
         for op in (("write", "compact") if compact else ("write",))
         for after in range(n_tables)]


class _Crash(Exception):
    pass


def _crash_after_table(monkeypatch, root, n):
    """Raise right after the n-th table written under ``root``."""
    orig = DataFrameWriter.parquet
    written = []

    def parquet(self, path, *args, **kwargs):
        orig(self, path, *args, **kwargs)
        if path.startswith(root):
            written.append(path)
            if len(written) == n:
                raise _Crash(path)

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)


def _uncommitted(spark, root):
    """Entries under ``root`` the committed manifest does not name."""
    manifests = os.listdir(os.path.join(root, "_manifest"))
    return ((set(os.listdir(root)) - set(IndexStore(spark, root).shards)
             - {"_manifest"}) | {f for f in manifests if f.endswith(".tmp")})


@pytest.mark.parametrize("tier,op,after", CASES)
def test_crash_before_commit_serves_committed_index(spark, tmp_path,
                                                    monkeypatch, tier, op,
                                                    after):
    build, probe, _, mode, compact = TIERS[tier]
    root = str(tmp_path / tier)
    build(spark, root, 0, "overwrite")
    if op == "compact":
        build(spark, root, 1, mode)
    before = probe(spark, root)

    def step():
        if op == "write":
            build(spark, root, 1, mode)
        else:
            compact(spark, root)

    with monkeypatch.context() as m:
        _crash_after_table(m, root, after + 1)
        with pytest.raises(_Crash):
            step()
    # the crashed write left an uncommitted shard; probes ignore it
    assert _uncommitted(spark, root)
    assert probe(spark, root) == before

    step()
    assert not _uncommitted(spark, root)
    if op == "write":
        assert probe(spark, root) != before
    else:
        assert probe(spark, root) == before


def test_truncated_manifest_raises_and_keeps_shards(spark, tmp_path):
    root = str(tmp_path / "mh")
    D.build_minhash_index(_docs(spark, [(1, _BASE)]), root)
    D.build_minhash_index(_docs(spark, [(2, _NOVEL)]), root,
                          mode="append")
    store = IndexStore(spark, root)
    manifest = os.path.join(root, "_manifest", f"v{store.version}.json")
    with open(manifest, "rb") as f:
        raw = f.read()
    with open(manifest, "wb") as f:
        f.write(raw[:len(raw) // 2])
    on_disk = sorted(os.listdir(root))

    with pytest.raises(IOError, match="unreadable index manifest"):
        D.build_minhash_index(_docs(spark, [(3, _BASE)]), root,
                              num_hashes=32, bands=4, mode="append")
    with pytest.raises(IOError, match="unreadable index manifest"):
        D.neardup_against_index(spark, root, _docs(spark, [(9, _BASE)]))
    assert sorted(os.listdir(root)) == on_disk
    assert set(store.shards) < set(on_disk)


def test_missing_manifest_is_no_index_and_modes_are_checked(spark,
                                                             tmp_path):
    root = str(tmp_path / "none")
    with pytest.raises(FileNotFoundError, match="no committed index at"):
        IndexStore(spark, root).read("grams")
    store = IndexStore(spark, root)
    with pytest.raises(ValueError, match="mode must be"):
        store.write({"t": spark.range(1)}, {}, mode="ignore")
    # append onto no index commits the first shard
    store.write({"t": spark.range(3)}, {"k": 1}, mode="append")
    assert IndexStore(spark, root).read("t").count() == 3
    with pytest.raises(ValueError, match="pinned at build time"):
        store.write({"t": spark.range(3)}, {"k": 2}, mode="append")


def test_commit_from_stale_snapshot_fails_instead_of_overwriting(spark,
                                                                 tmp_path):
    root = str(tmp_path / "race")
    IndexStore(spark, root).write({"t": spark.range(2)}, {})
    a, b = IndexStore(spark, root), IndexStore(spark, root)
    a.write({"t": spark.range(5)}, {}, mode="append")
    with pytest.raises(IOError, match="could not commit"):
        b.write({"t": spark.range(7)}, {}, mode="append")
    assert IndexStore(spark, root).read("t").count() == 7
