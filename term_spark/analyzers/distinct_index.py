"""Persisted HLL distinct-count index — the incremental-ingestion tier
for cardinality metrics (the PROFILE tier of ``index_store``).

A corpus-wide ``COUNT(DISTINCT col)`` rescans 100 TB every time the
profile dashboard refreshes.  This index stores one Apache DataSketches
HLL sketch per (shard, column) — a few KB each — so the corpus-wide
distinct count for any tracked column is a union of sketch blobs: the
probe reads kilobytes, not terabytes, and a new ingest batch sketches
ONLY ITSELF and appends one row per column.

Append soundness (the operators.dedup.build_minhash_index standard):
an HLL sketch is a register array holding, per register, the MAX
leading-zero rank observed among items hashing there.  MAX is
commutative, associative and idempotent, so

    registers(A ∪ B) = max(registers(A), registers(B))   (same lgK)

— shard-wise build + union touches exactly the same register states a
batch build over A ∪ B reaches, regardless of shard order or how many
appends happened.  (The library's union gadget may hold the
intermediate in a wider register encoding, so the ESTIMATE of the
union can differ from the batch estimate by a sub-percent encoding
artifact — both stay inside the sketch's published error bound, which
is what the driver-oracle row attests.  lgK=12 ⇒ relative standard
error 1.04/√4096 ≈ 1.6%.)

Params are pinned at build time (lgK and the tracked column set) —
sketches built at different lgK estimate correctly when unioned with
``allowDifferentLgConfigK`` but silently degrade to the coarser lgK,
and a probe for an untracked column has nothing to read — both are
config mistakes worth failing loudly on, so ``mode='append'`` under
different params raises.

Scale shape: the build is ONE fused aggregation over the shard (every
column's sketch accumulates in the same partial-agg pass — map-side
combine, one shuffle of sketch blobs, no row data movement); the probe
aggregates a sketch table whose size is O(shards × columns), i.e.
driver-trivial even at thousands of ingest batches.

Reference relationship: the reference's approx-distinct analyzer
(term-guard src/analyzers/approx_count_distinct.rs) keeps an HLL++
state for exactly this mergeable-reprofile purpose; this module is the
persisted, multi-shard form re-expressed on Spark's datasketches
functions (hll_sketch_agg / hll_union_agg, Spark 3.5+).
"""

from __future__ import annotations

from typing import Sequence

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..functions.security import validate_identifiers
from ..index_store import IndexStore
from .base import hll_lg_k, hll_sketch

#: lgK=12 ⇒ 4096 registers ⇒ RSE ≈ 1.04/sqrt(4096) ≈ 1.625 %.
DEFAULT_LGK = 12

#: attestation tolerance = 3 × RSE(lgK) — a ~3σ bound, so a green
#: attestation is meaningful and a regression (wrong union, clipped
#: sketch, lost shard) trips it.
def rse(lgk: int) -> float:
    return 1.04 / (2 ** (lgk / 2.0)) if lgk > 0 else float("inf")


def build_distinct_index(df: DataFrame, columns: Sequence[str],
                         index_path: str, lgk: int = DEFAULT_LGK,
                         mode: str = "overwrite") -> None:
    """Sketch ``columns`` of this shard into one HLL row per column and
    persist under ``index_path`` (params pin lgk + the column set;
    ``sketches`` holds (col_name, sketch, n_rows, n_shards) per shard).

    One fused aggregation: every column's ``base.hll_sketch`` rides the
    same scan (its string item domain matches ``COUNT(DISTINCT col)``
    for the integer/date/string columns a profile tracks).
    """
    cols = list(validate_identifiers(columns))
    if not cols:
        raise ValueError("build_distinct_index: empty column list")
    lgk = hll_lg_k(lgk)
    aggs = [hll_sketch(c, lgk).alias(f"__s_{c}") for c in cols]
    aggs.append(F.count(F.lit(1)).alias("__n"))
    one = df.agg(*aggs)
    rows = one.select(F.explode(F.array(*[
        F.struct(F.lit(c).alias("col_name"),
                 F.col(f"__s_{c}").alias("sketch"),
                 F.col("__n").alias("n_rows"),
                 # shard counter carried IN the rows so compaction can
                 # preserve it — "shards that contributed" must not
                 # silently become "rows in the sketch table" after a
                 # compaction folds the table to one row per column
                 F.lit(1).cast("bigint").alias("n_shards"))
        for c in cols])).alias("r")).select("r.*")
    # an empty shard aggregates to a zero-row empty-sketch blob (or a
    # NULL on some agg paths) — zero information either way; dropping
    # it keeps the shard count meaning "shards that contributed data"
    IndexStore(df.sparkSession, index_path).write(
        {"sketches": rows.filter(F.col("sketch").isNotNull()
                                 & (F.col("n_rows") > 0))},
        {"lgk": lgk, "columns": sorted(cols)}, mode)


def distinct_estimates_from_index(spark, index_path: str) -> DataFrame:
    """Corpus-wide distinct-count estimates from the persisted shard
    sketches: one row per tracked column — (col_name, n_distinct_est,
    n_rows, n_shards).  Reads only the sketch table (KBs); the corpus
    is never touched.  Union is the register-wise MAX described in the
    module docstring, so the estimate covers every shard ever appended.
    """
    return (IndexStore(spark, index_path).read("sketches").groupBy("col_name")
            .agg(F.hll_sketch_estimate(F.hll_union_agg("sketch"))
                 .alias("n_distinct_est"),
                 F.sum("n_rows").alias("n_rows"),
                 # SUM of the per-row shard counters, not a row count —
                 # compaction folds rows but sums the counters, so this
                 # keeps meaning "shards that contributed data"
                 F.sum("n_shards").alias("n_shards"))
            .orderBy("col_name"))


def distinct_index_report(spark, index_path: str,
                          exact_df: DataFrame | None = None) -> DataFrame:
    """The probe plus (optionally) a same-query exact verify: when
    ``exact_df`` is given, each tracked column's exact distinct count
    is computed from it and the report carries ``within_tolerance`` =
    |est − exact| ≤ 3·RSE(lgK)·exact — the attestation the driver
    oracle pins TRUE (the quantile_sketch_merge_quantity standard).

    The exact verify is ONE fused count_distinct aggregation (expand
    -based, single scan) — it exists for audits and CI gates; steady
    -state consumers read only the sketch estimates.
    """
    est = distinct_estimates_from_index(spark, index_path)
    if exact_df is None:
        return est
    params = IndexStore(spark, index_path).params
    cols = params["columns"]
    tol = 3.0 * rse(params["lgk"])
    exact_row = exact_df.agg(*[
        F.count_distinct(F.col(c).cast("string")).alias(f"__d_{c}")
        for c in cols])
    exact = exact_row.select(F.explode(F.array(*[
        F.struct(F.lit(c).alias("col_name"),
                 F.col(f"__d_{c}").alias("n_exact")) for c in cols]))
        .alias("r")).select("r.*")
    return (est.join(exact, "col_name")
            .withColumn(
                "within_tolerance",
                F.abs(F.col("n_distinct_est") - F.col("n_exact"))
                <= F.lit(tol) * F.col("n_exact")))


def compact_distinct_index(spark, index_path: str) -> None:
    """Fold the shard sketch rows into ONE row per column (the
    ``compact_substring_index`` role): after thousands of ingest
    batches the sketch table is O(shards × columns) rows — still tiny,
    but compaction restores O(columns) and every future probe unions
    one blob per column instead of one per shard.

    Sound by the same register-MAX idempotence as the probe itself:
    union-of-shards IS the compacted sketch, so estimates before and
    after compaction are identical (pinned by test).
    """
    store = IndexStore(spark, index_path)
    store.compact({"sketches": store.read("sketches").groupBy("col_name")
                   .agg(F.hll_union_agg("sketch").alias("sketch"),
                        F.sum("n_rows").alias("n_rows"),
                        F.sum("n_shards").alias("n_shards"))})
