"""Persisted quantile-sketch index — the incremental-ingestion tier
for DISTRIBUTION metrics (the QUANTILE tier of ``index_store``).

A corpus-wide percentile dashboard (p50/p95/p99 of document length,
token count, quality score) rescans 100 TB on every refresh.  This
index persists one equi-depth quantile grid per (shard[, group],
column) — the same mergeable state ``QuantileSketchAnalyzer`` computes
(k grid points + n/min/max, a few KB) — so corpus-wide (or per-source)
quantiles for any tracked column merge from O(shards × groups ×
columns) tiny rows: the probe reads kilobytes, and a new ingest batch
sketches ONLY ITSELF in one fused ``percentile_approx`` aggregation
and appends one row per (group, column).

Grouped form (the ``mg_sketch_by`` symmetry — every sketch family
ships batch, grouped, incremental and streaming shapes): pass
``group_col`` at build time and the same fused aggregation runs
``groupBy(group_col)`` — per-source/per-language length dashboards
("p95 doc length per crawl") read the same kilobyte probe.  Groups
never interact, so every soundness argument below applies group-wise
verbatim; the group column is pinned in the params like every other
param (an ungrouped probe of a grouped index would silently pool
groups — it refuses instead).

Append soundness (the operators.dedup.build_minhash_index standard):
each shard's grid is computed from that shard's rows alone, so shard
rows are row-local by construction — appending shard B's rows next to
shard A's touches nothing of A, and the probe's weighted-grid merge
(``QuantileSketchAnalyzer.merge_states``) is order-invariant because
it sorts the union of weighted grid points before resampling.  Unlike
the HLL tier's register-MAX the merge is NOT idempotent — appending
the SAME shard twice double-weights it, exactly like COUNT — so the
tier matches COUNT-discipline appends (each batch appended once),
which is the discipline every counts-add tier (substring grams, CDC
chunks) already requires.

Error bound: quantiles read off the merged state carry the analyzer's
normalized rank-error guarantee ε ≤ 2/k + 1/accuracy per merge level
(derivation in quantile_sketch.py).  The probe over shard rows is ONE
merge level; probing a COMPACTED index adds a second (the compaction
fold is itself a merge), so the report's attestation tolerance
defaults to 2·(2/k + 1/accuracy) — ~2.1 % normalized rank at the
default k=200/accuracy=10000, loose enough to survive compaction and
tight enough that a lost shard, a double append, or a wrong merge
trips it loudly.

Params are pinned at build time (k, accuracy, tracked column set, and
the group column): grids built at different k merge with the wrong
per-point mass and silently degrade the bound, so ``mode='append'``
under different params raises (the build_distinct_index standard).

Scale shape: the build is ONE fused aggregation over the shard (every
column's n/min/max/percentile_approx rides the same partial-agg scan —
map-side combined GK sketches, one shuffle of grid arrays, no row data
movement; the grouped form is the same aggregation keyed on the group
column); the probe collects O(shards × groups × columns) rows to the
driver and merges there — kilobytes at thousands of ingest batches.

Reference relationship: the reference's KLL analyzer
(term-guard/src/analyzers/advanced/kll_sketch.rs:142-229) keeps a
mergeable quantile state for exactly this reprofile-without-rescan
purpose; this module is its persisted multi-shard form, reusing the
repo's grid-state realization instead of porting the KLL compactor.
"""

from __future__ import annotations

from typing import Optional, Sequence

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..functions.security import validate_identifier, validate_identifiers
from ..index_store import IndexStore
from ..session import local_df
from .quantile_sketch import QuantileSketchAnalyzer

DEFAULT_K = 200
DEFAULT_ACCURACY = 10000

#: the grp value grid rows carry when the index is ungrouped — a
#: constant, so grouped and ungrouped tables share one schema
_NO_GROUP = ""


def _bound(k: int, accuracy: int) -> float:
    return 2.0 / k + 1.0 / accuracy


def build_quantile_index(df: DataFrame, columns: Sequence[str],
                         index_path: str, k: int = DEFAULT_K,
                         accuracy: int = DEFAULT_ACCURACY,
                         mode: str = "overwrite",
                         group_col: Optional[str] = None) -> None:
    """Sketch ``columns`` of this shard into one grid row per
    (group, column) and persist under ``index_path`` (params pin
    k + accuracy + the column set + the group column; ``grids`` holds
    (grp, col_name, n, mn, mx, grid, n_shards) per shard).

    One fused aggregation: every column's ``QuantileSketchAnalyzer``
    state (count/min/max/``percentile_approx`` grid) rides the same
    scan (``groupBy`` on ``group_col`` when given).  Values cast to double (the quantile
    domain); all-NULL or empty (group, column) cells contribute a
    zero-mass row that is dropped at write, so ``n_shards`` keeps
    meaning "shards that contributed data".
    """
    cols = list(validate_identifiers(columns))
    if not cols:
        raise ValueError("build_quantile_index: empty column list")
    if not 2 <= int(k) <= 10000:
        raise ValueError(f"k must be in [2, 10000], got {k}")
    gcol = validate_identifier(group_col) if group_col else None
    anas = {c: QuantileSketchAnalyzer(c, k=int(k), accuracy=int(accuracy))
            for c in cols}
    aggs = [e.alias(a) for an in anas.values()
            for a, e in an.state_exprs().items()]
    if gcol:
        one = df.groupBy(F.col(gcol).cast("string").alias("__grp")) \
                .agg(*aggs)
        grp_expr = F.col("__grp")
    else:
        one = df.agg(*aggs)
        grp_expr = F.lit(_NO_GROUP)
    rows = one.select(F.explode(F.array(*[
        F.struct(grp_expr.alias("grp"), F.lit(c).alias("col_name"),
                 *an.state_columns(),
                 F.lit(1).cast("bigint").alias("n_shards"))
        for c, an in anas.items()])).alias("r")).select("r.*")
    IndexStore(df.sparkSession, index_path).write(
        {"grids": rows.filter(F.col("n") > 0)},
        {"k": int(k), "accuracy": int(accuracy), "columns": sorted(cols),
         "group_col": gcol}, mode)


def _merged_states(store: IndexStore):
    """Collect the shard grid rows (O(shards × groups × columns), KBs)
    and merge per (grp, column) with the analyzer's weighted-grid
    merge.  Returns (params, analyzer, {(grp, col): (state, n_shards)})."""
    meta = store.params
    rows = store.read("grids").collect()
    ana = QuantileSketchAnalyzer("__probe__", k=meta["k"],
                                 accuracy=meta["accuracy"])
    by_key: dict = {}
    shards: dict = {}
    for r in rows:
        key = (r["grp"], r["col_name"])
        by_key.setdefault(key, []).append(
            ana.state_of(r["n"], r["mn"], r["mx"], r["grid"]))
        shards[key] = shards.get(key, 0) + int(r["n_shards"])
    merged = {key: (ana.merge_states(sts), shards[key])
              for key, sts in by_key.items()}
    return meta, ana, merged


def quantiles_from_index(spark, index_path: str,
                         probs: Sequence[float]) -> DataFrame:
    """Quantile estimates from the persisted shard grids: one row per
    (tracked column, requested prob) — (col_name, p, q_est, n_rows,
    n_shards) — with a leading ``grp`` column when the index was built
    grouped.  Reads only the grid table (KBs); the corpus is never
    touched.  Estimates carry the module-docstring rank-error bound
    over every shard ever appended."""
    meta, ana, merged = _merged_states(IndexStore(spark, index_path))
    grouped = bool(meta["group_col"])
    out = []
    for (g, c) in sorted(merged):
        st, n_sh = merged[(g, c)]
        for p in probs:
            row = (c, float(p), ana.quantile_from_state(st, float(p)),
                   st["n"], n_sh)
            out.append((g,) + row if grouped else row)
    schema = ("col_name string, p double, q_est double, n_rows bigint, "
              "n_shards bigint")
    if grouped:
        schema = "grp string, " + schema
    return local_df(spark, out, schema)


def quantile_index_report(spark, index_path: str,
                          probs: Sequence[float],
                          exact_df: DataFrame | None = None,
                          tolerance: float | None = None) -> DataFrame:
    """The probe plus (optionally) a same-query exact verify: when
    ``exact_df`` is given, each (group, column, prob)'s exact quantile
    rank is computed from it and the report carries ``within_bound`` —
    the NORMALIZED RANK of the estimate inside the exact data (the
    group's slice, for a grouped index) lands within ``tolerance`` of
    the requested prob (default 2·(2/k + 1/accuracy), the
    two-merge-level bound from the module docstring).  This is the
    attestation the driver oracle pins TRUE (the distinct_index_report
    standard): a lost shard, double append, or wrong merge moves the
    estimate's rank outside the band and trips it loudly.

    Rank check, not value check, because rank is what the sketch
    guarantees — on heavy-tailed data a 1 % rank error can be a large
    VALUE gap, which is the sketch working as designed.  The check is
    the two-sided form ``rank(<est)/n − tol ≤ p ≤ rank(≤est)/n + tol``:
    with TIED or few values the measured rank is a step function
    (count jumps by the tie's multiplicity), and any value whose
    strict-below/at-or-below ranks bracket p is a correct p-quantile —
    the one-sided form would false-alarm on every heavily-tied column.

    The exact verify is one fused aggregation over ``exact_df``
    (count_if per (group, column, prob) at the estimate point, grouped
    when the index is) — audits and CI gates only; steady-state
    consumers read the estimates alone.
    """
    meta, ana, merged = _merged_states(IndexStore(spark, index_path))
    grouped = bool(meta["group_col"])
    if tolerance is None:
        tolerance = 2.0 * _bound(meta["k"], meta["accuracy"])
    est = quantiles_from_index(spark, index_path, probs)
    keys = (["grp"] if grouped else []) + ["col_name", "p"]
    if exact_df is None:
        return est.orderBy(*keys)
    # one fused pass: for every (grp, col, p), the exact-data rank of
    # q_est — estimates enter as literals keyed by the group value
    att_rows = []
    aggs = []
    tags = []
    for (g, c) in sorted(merged):
        v = F.col(c).cast("double")
        st, _ = merged[(g, c)]
        for p in probs:
            q_est = ana.quantile_from_state(st, float(p))
            lo_tag, hi_tag = f"__lo_{len(tags)}", f"__hi_{len(tags)}"
            below = v < F.lit(float(q_est))
            at_or_below = v <= F.lit(float(q_est))
            if grouped:
                gmatch = F.col(meta["group_col"]).cast("string") == F.lit(g)
                n_g = F.count(F.when(gmatch, v))
                aggs.append((F.count_if(below & gmatch) / n_g).alias(lo_tag))
                aggs.append((F.count_if(at_or_below & gmatch) / n_g)
                            .alias(hi_tag))
            else:
                aggs.append((F.count_if(below) / F.count(v)).alias(lo_tag))
                aggs.append((F.count_if(at_or_below) / F.count(v))
                            .alias(hi_tag))
            tags.append((g, c, float(p), lo_tag, hi_tag))
    ranks = exact_df.agg(*aggs).collect()[0]
    for g, c, p, lo_tag, hi_tag in tags:
        row = (c, p, float(ranks[lo_tag]), float(ranks[hi_tag]))
        att_rows.append((g,) + row if grouped else row)
    schema = ("col_name string, p double, rank_below double, "
              "rank_at_or_below double")
    if grouped:
        schema = "grp string, " + schema
    att = local_df(spark, att_rows, schema)
    return (est.join(att, keys)
            .withColumn("within_bound",
                        (F.col("rank_below") - F.lit(float(tolerance))
                         <= F.col("p"))
                        & (F.col("p") <= F.col("rank_at_or_below")
                           + F.lit(float(tolerance))))
            .drop("rank_below", "rank_at_or_below")
            .orderBy(*keys))


def compact_quantile_index(spark, index_path: str) -> None:
    """Fold the shard grid rows into ONE row per (group, column) (the
    ``compact_distinct_index`` role): after thousands of ingest
    batches the grid table is O(shards × groups × columns) rows —
    still tiny, but compaction restores O(groups × columns) and every
    future probe merges one grid per cell instead of one per shard.

    The fold IS the probe's weighted-grid merge, so it is bounded, not
    lossless: a compacted grid carries one extra merge level of rank
    error (≤ 2/k + 1/accuracy more), which the report's default
    two-level tolerance already budgets for.  k/accuracy/columns/
    group_col stay pinned — appends keep composing, and a compacted
    row merges with later shard rows exactly like any other shard row
    (its n carries the folded mass).

    The fold runs in Python (the table is KBs by construction).
    """
    store = IndexStore(spark, index_path)
    _, _, merged = _merged_states(store)
    rows = []
    for (g, c) in sorted(merged):
        st, n_sh = merged[(g, c)]
        rows.append((g, c, st["n"], st["mn"], st["mx"], st["grid"], n_sh))
    store.compact({"grids": local_df(
        spark, rows, "grp string, col_name string, n bigint, mn double, "
              "mx double, grid array<double>, n_shards bigint")})
