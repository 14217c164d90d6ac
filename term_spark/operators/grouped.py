"""Grouped completeness with overflow strategies.

Parity: /root/reference/term-guard/src/analyzers/basic/grouped_completeness.rs:132-139
(SELECT groups, COUNT(*), COUNT(col) … GROUP BY … [ORDER BY/LIMIT]) with
grouping config from analyzers/grouped.rs:17-89 — max_groups 10000 and
overflow strategies TopK / BottomK / Sample / Fail.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import List, Optional

import pyspark.sql.functions as F

from ..core.assertion import Assertion
from ..core.constraint import Constraint, EngineContext
from ..core.result import ConstraintResult
from ..functions.security import validate_identifier, validate_identifiers


_OVERFLOWS = ("top_k", "bottom_k", "sample", "fail")


@dataclass(frozen=True)
class GroupingConfig:
    max_groups: int = 10000
    overflow: str = "top_k"  # top_k | bottom_k | sample | fail

    def __post_init__(self):
        if self.overflow not in _OVERFLOWS:
            raise ValueError(f"overflow must be one of {_OVERFLOWS}, "
                             f"got {self.overflow!r}")


def bound_groups(g, config: GroupingConfig, size_col: str):
    """The overflow policy over grouped rows ``g``: ``top_k`` /
    ``bottom_k`` keep the ``max_groups`` groups with the most / fewest
    ``size_col`` rows, ``sample`` keeps any ``max_groups``, and ``fail``
    returns ``g`` unbounded for the caller to count and reject."""
    if config.overflow == "top_k":
        return g.orderBy(F.desc(size_col)).limit(config.max_groups)
    if config.overflow == "bottom_k":
        return g.orderBy(F.asc(size_col)).limit(config.max_groups)
    if config.overflow == "sample":
        return g.limit(config.max_groups)
    return g


def grouped_completeness(df, column: str, group_by: List[str],
                         config: GroupingConfig = GroupingConfig()):
    """Per-group completeness DataFrame: group cols + total/non_null/ratio.

    Returns a DataFrame (never collected here) so callers can keep it
    distributed; the constraint below bounds what reaches the driver.
    """
    validate_identifier(column)
    validate_identifiers(group_by)
    g = (df.groupBy(*group_by)
           .agg(F.count(F.lit(1)).alias("total_count"),
                F.count(F.col(column)).alias("non_null_count"))
           .withColumn("completeness",
                       F.col("non_null_count") / F.col("total_count")))
    return bound_groups(g, config, "total_count")


class GroupedCompletenessConstraint(Constraint):
    """Assert min completeness across groups (optionally per-group)."""

    name = "grouped_completeness"

    def __init__(self, column: str, group_by, assertion: Assertion,
                 config: GroupingConfig = GroupingConfig()):
        if isinstance(group_by, str):
            group_by = [group_by]
        self.column = validate_identifier(column)
        self.group_by = validate_identifiers(group_by)
        self.assertion = Assertion.coerce(assertion)
        self.config = config

    def evaluate(self, ctx: EngineContext) -> ConstraintResult:
        df = ctx.df(self.table)
        g = grouped_completeness(df, self.column, self.group_by, self.config)
        if self.config.overflow == "fail":
            n_groups = g.count()
            if n_groups > self.config.max_groups:
                return self._finish(ConstraintResult.error(
                    f"{n_groups} groups exceeds max_groups={self.config.max_groups}"))
        # Only the worst group + counts reach the driver.
        row = g.agg(F.min("completeness").alias("worst"),
                    F.count(F.lit(1)).alias("n_groups"),
                    F.sum(F.when(F.col("completeness").isNotNull(), 0)).alias("_z")
                    ).collect()[0]
        if row["n_groups"] == 0:
            return self._finish(ConstraintResult.skipped())
        worst = float(row["worst"])
        if self.assertion.evaluate(worst):
            return self._finish(ConstraintResult.success(worst))
        return self._finish(ConstraintResult.failure(
            worst,
            f"worst per-group completeness of {self.column} grouped by "
            f"{self.group_by} is {worst:.3f}; requires {self.assertion.describe()}"))
