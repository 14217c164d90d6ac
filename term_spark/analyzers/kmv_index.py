"""Persisted KMV overlap index — the incremental-ingestion tier for
CROSS-SOURCE SET OPERATIONS (the OVERLAP tier of ``index_store``).

"How much of dump N is already in dump N−1?" / "which two of my twenty
sources share content?" is a pairwise set question the HLL tier cannot
answer (HLL unions; it does not intersect).  This index persists one
KMV sketch — the k smallest md5s of the group's distinct values — per
(shard, group), so every pairwise Jaccard / union / intersection
estimate between sources, snapshots, or dumps reads O(groups × shards
× k) hash strings instead of re-joining 100 TB of shingle tables; a
new ingest batch sketches ONLY ITSELF (one bounded per-group top-k
job) and appends one row per group it touches.

Append soundness — the STRONGEST in the catalog: min-k is an exact,
IDEMPOTENT monoid (kmv.py: min-k(A ∪ B) == min-k(min-k(A) ∪
min-k(B)), and min-k(A ∪ A) == min-k(A)), so shard-wise build + merge
reaches EXACTLY the sketch a batch build over the union reaches,
regardless of shard order, fan-in, or even overlapping shards — the
property the HLL tier has for registers, here at the level of the
whole sketch.  Compaction (fold shard rows to one merged row per
group) is therefore BYTE-IDENTICAL to the batch build, not merely
bounded — pinned by test.

Params pinned at build time (k, the group column, the sketched
expression tag): sketches with different k truncate to the smaller k
on merge (correct but silently coarser), and sketches of different
expressions estimate overlap of different things — both config
mistakes worth failing loudly on, so ``mode='append'`` under
different params raises (the build_distinct_index standard).

Estimator regimes (kmv.py): while a group's sketch holds fewer than k
hashes it IS the group's full distinct-hash set and every set
operation is EXACT; once saturated, distinct carries the Beyer
SIGMOD'07 ≈ 1/√(k−2) relative error and pairwise Jaccard the
±3·√(J(1−J)/k) sampling band — the report's attestation columns
cover both regimes.
"""

from __future__ import annotations

from itertools import combinations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..functions.security import validate_identifier
from ..index_store import IndexStore
from ..session import local_df
from .kmv import (KMVSketch, kmv_distinct, kmv_jaccard, kmv_merge,
                  kmv_sketch_by, kmv_union)

DEFAULT_K = 1024


def build_kmv_index(df: DataFrame, group_col: str, column: str,
                    index_path: str, k: int = DEFAULT_K,
                    mode: str = "overwrite") -> None:
    """Sketch this shard's per-``group_col`` distinct ``column`` values
    into one KMV row per group and persist under ``index_path``
    (params pin k + group_col + column; ``sketches`` holds
    (grp, hashes, n_shards) per shard).

    ``column`` may be any column of ``df`` — callers sketching
    derived units (shingles, fingerprints) explode them into a column
    first; the expression IDENTITY is pinned via the column name, so
    probes of differently-derived sketches refuse to mix.

    One bounded job: distinct (group, md5) pairs → per-group window
    top-k (sort-based, spillable) → ≤ k hashes per group row.
    """
    validate_identifier(group_col)
    validate_identifier(column)
    if k < 8:
        raise ValueError(f"k must be >= 8, got {k}")
    rows = (kmv_sketch_by(df, group_col, column, k=k)
            .withColumn("n_shards", F.lit(1).cast("bigint")))
    # empty groups never produce rows (kmv_sketch_by drops NULLs and
    # emits only groups with data), so n_shards keeps meaning "shards
    # that contributed data to this group"
    IndexStore(df.sparkSession, index_path).write(
        {"sketches": rows},
        {"k": int(k), "group_col": group_col, "column": column}, mode)


def _merged_sketches(store: IndexStore):
    k = store.params["k"]
    rows = store.read("sketches").collect()
    by_grp: dict = {}
    shards: dict = {}
    for r in rows:
        by_grp.setdefault(r["grp"], []).append(
            KMVSketch(k=k, hashes=tuple(r["hashes"])))
        shards[r["grp"]] = shards.get(r["grp"], 0) + int(r["n_shards"])
    return {g: (kmv_merge(sk), shards[g]) for g, sk in by_grp.items()}


def overlap_from_index(spark, index_path: str) -> DataFrame:
    """The pairwise overlap dashboard from the persisted sketches: per
    group pair (grp_a < grp_b) the estimated distinct counts, union,
    Jaccard and intersection — plus ``exact_regime`` (TRUE when BOTH
    sketches are unsaturated, i.e. every number in the row is exact,
    not an estimate).  O(|groups|²) pairs of k-row summaries, computed
    driver-side; the corpus is never touched."""
    merged = _merged_sketches(IndexStore(spark, index_path))
    out = []
    # NULL groups can no longer be built (kmv_sketch_by drops them),
    # but an index persisted before that fix may still carry one —
    # sort None last instead of raising on a None/str comparison.
    for ga, gb in combinations(
            sorted(merged, key=lambda g: (g is None, g)), 2):
        sa, n_sh_a = merged[ga]
        sb, n_sh_b = merged[gb]
        j = kmv_jaccard(sa, sb)
        u = kmv_union(sa, sb)
        out.append((ga, gb,
                    float(kmv_distinct(sa)), float(kmv_distinct(sb)),
                    round(j, 6), float(u), round(j * u, 6),
                    not sa.saturated and not sb.saturated,
                    n_sh_a + n_sh_b))
    return local_df(
        spark, out, "grp_a string, grp_b string, n_a double, n_b double, "
             "jaccard double, n_union double, n_intersection double, "
             "exact_regime boolean, n_shards bigint")


def compact_kmv_index(spark, index_path: str) -> None:
    """Fold the shard sketch rows into ONE row per group.  Because
    min-k is an exact idempotent monoid, the folded sketch is
    BYTE-IDENTICAL to what a batch build over all shards would have
    written — probes before and after compaction agree hash-for-hash
    (pinned by test), the strongest compaction contract in the tier
    catalog."""
    store = IndexStore(spark, index_path)
    rows = [(g, list(sk.hashes), n_sh)
            for g, (sk, n_sh) in sorted(_merged_sketches(store).items())]
    store.compact({"sketches": local_df(
        spark, rows, "grp string, hashes array<string>, n_shards bigint")})
