"""Multi-dimensional data layout — Z-order (Morton) clustering for
multi-column scan pruning.

A 100 TB fact table sorted by one column prunes parquet row groups for
THAT column's predicates only; a dashboard filtering on (customer,
date) or (tenant, time, region) gets full scans for every predicate
off the sort key.  Z-ordering interleaves the bits of coarse per-column
buckets into one Morton key and range-partitions + sorts the write on
it, so every output file covers a small HYPER-RECTANGLE of the
combined key space — parquet footer min/max statistics then skip files
and row groups for range predicates on ANY prefix-free combination of
the clustered columns (the Delta Lake OPTIMIZE ZORDER / Databricks
liquid-clustering role, re-expressed as plain open-source Spark +
parquet: the "index" is nothing but file layout + existing footer
stats, so it needs no reader cooperation beyond predicate pushdown).

Design notes (the 100 TB posture):
- The Morton key is a pure codegen expression — per column one
  equi-width bucket (fixed [min, max] span pinned by the caller or
  measured in one agg) and a shift/OR interleave; no UDF, no shuffle
  beyond the single repartitionByRange the rewrite needs anyway.
- Equi-width buckets (not rank/ntile) keep the key DETERMINISTIC and
  engine-portable — two engines computing the key over the same rows
  agree bit-for-bit (the driver oracle replays it in DuckDB), and a
  skewed column simply wastes some bucket resolution rather than
  introducing a global sort for ranks.
- ``bits`` per column bounds the key to ``bits × n_cols`` ≤ 63 —
  8 bits/column resolves 256 buckets/dimension, plenty for file-level
  pruning (a 100k-file table has ~√-law overlap at 2^16 cells).
- Bucket arithmetic stays exact in doubles: inputs are (x − min) ×
  2^bits and span, both < 2^53 for any realistic key domain, so the
  floored quotient is correctly rounded and identical across engines.

Reference relationship: beyond-reference extension — the reference
(term-guard) has no storage-layout surface.  This is the layout half
of the LLM-data-pipeline extension layer, following the public
Z-order/liquid-clustering literature (Morton 1966; the Delta Lake
OPTIMIZE ZORDER design), executed with nothing but open-source Spark
and parquet footer statistics.
"""

from __future__ import annotations

from typing import Optional, Sequence, Tuple

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from ..functions.security import validate_identifiers
from ..sources import scan_parquet


def zorder_key(cols: Sequence[str],
               spans: Sequence[Tuple[float, float]],
               bits: int = 8) -> Column:
    """The Morton key as ONE codegen Column: per column an equi-width
    bucket over its pinned ``(min, max)`` span (clamped, so
    out-of-span rows land in the edge buckets instead of corrupting
    the interleave), then bit b of bucket j lands at position
    ``b · n_cols + j``.

    Column j is bucketized as
    ``clamp(floor((x − min) · 2^bits / (max − min + 1)), 0, 2^bits−1)``
    — NULLs bucket to 0 (they cluster together at the low edge, which
    is exactly what a pruning layout wants).
    """
    cols = list(validate_identifiers(cols))
    if not cols:
        raise ValueError("zorder_key: empty column list")
    if len(spans) != len(cols):
        raise ValueError("zorder_key: one (min, max) span per column")
    n = len(cols)
    bits = int(bits)
    if not 1 <= bits * n <= 63:
        raise ValueError(
            f"bits × n_cols must be in [1, 63], got {bits}×{n}")
    nb = float(2 ** bits)
    buckets = []
    for c, (mn, mx) in zip(cols, spans):
        if not mx >= mn:
            raise ValueError(f"zorder_key: empty span for {c}: ({mn}, {mx})")
        x = F.col(c).cast("double")
        raw = F.floor((x - F.lit(float(mn))) * F.lit(nb)
                      / F.lit(float(mx) - float(mn) + 1.0))
        b = F.least(F.lit(int(nb) - 1),
                    F.greatest(F.lit(0), raw.cast("bigint")))
        buckets.append(F.coalesce(b, F.lit(0)))
    z = F.lit(0).cast("bigint")
    for b in range(bits):
        for j, bk in enumerate(buckets):
            bit = F.shiftright(bk, b).bitwiseAND(F.lit(1))
            z = z + F.shiftleft(bit, b * n + j)
    return z


def measure_spans(df: DataFrame, cols: Sequence[str]) -> list:
    """One fused min/max aggregation over the clustering columns —
    the span-pinning step when the caller has no domain knowledge.
    Returns [(min, max), ...] aligned with ``cols``."""
    cols = list(validate_identifiers(cols))
    row = df.agg(*[f for c in cols
                   for f in (F.min(F.col(c).cast("double")).alias(f"__mn_{c}"),
                             F.max(F.col(c).cast("double")).alias(f"__mx_{c}"))
                   ]).collect()[0]
    return [(row[f"__mn_{c}"], row[f"__mx_{c}"]) for c in cols]


def write_zordered(df: DataFrame, path: str, cols: Sequence[str],
                   bits: int = 8, n_files: Optional[int] = None,
                   spans: Optional[Sequence[Tuple[float, float]]] = None,
                   mode: str = "overwrite") -> list:
    """Persist ``df`` Z-ordered on ``cols``: range-partition on the
    Morton key (``n_files`` contiguous key ranges — one output file
    each, so file boundaries ARE z-range boundaries) and sort within
    partitions, then drop the key and write parquet.  Returns the
    pinned spans so probes can recompute the same key.

    Why range-partition + sort rather than a global orderBy: it IS
    Spark's global sort decomposition (one range exchange + local
    sorts), written explicitly so ``n_files`` — the pruning
    granularity — is caller-controlled instead of inherited from
    ``spark.sql.shuffle.partitions``, and AQE cannot coalesce away the
    file boundaries the layout exists to create.
    """
    spans = list(spans) if spans is not None else measure_spans(df, cols)
    z = zorder_key(cols, spans, bits=bits)
    out = df.withColumn("__z", z)
    if n_files:
        out = out.repartitionByRange(int(n_files), F.col("__z"))
    else:
        out = out.repartitionByRange(F.col("__z"))
    (out.sortWithinPartitions("__z").drop("__z")
        .write.mode(mode).parquet(path))
    return spans


def file_pruning_stats(spark, path: str, cols: Sequence[str]) -> DataFrame:
    """Per-file min/max of the clustered columns — the footer
    statistics a pruning reader consults, surfaced as a DataFrame so
    layouts can be AUDITED (the test/bench hook): for a predicate box
    you can count exactly how many files overlap it.  One scan of the
    audited columns only."""
    cols = list(validate_identifiers(cols))
    df = scan_parquet(spark, path)
    return (df.groupBy(F.input_file_name().alias("file"))
            .agg(*[f for c in cols
                   for f in (F.min(c).alias(f"min_{c}"),
                             F.max(c).alias(f"max_{c}"))]))
