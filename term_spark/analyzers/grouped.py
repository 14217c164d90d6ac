"""Grouped analyzer runner — any scalar analyzer per group key, with
overflow strategies.

Parity: /root/reference/term-guard/src/analyzers/grouped.rs:17-89 —
GroupingConfig{max_groups 10000, TopK|BottomK|Sample|Fail} applied to
grouped metric computation (grouped_completeness.rs is the reference's
only instance; here ANY state-algebra analyzer gains a grouped form
for free because states are aggregate expressions).

Scale: one groupBy job for all analyzers (states fuse per group);
top-/bottom-k bounding happens inside Spark (TakeOrderedAndProject) so
at most max_groups state rows reach the driver.
"""

from __future__ import annotations

from typing import Dict, List

import pyspark.sql.functions as F

from ..functions.security import validate_identifiers
from ..operators.grouped import GroupingConfig, bound_groups
from ..plans.executor import merge_exprs
from .base import Analyzer, MetricValue


class GroupedAnalysisRunner:
    def __init__(self, group_by, config: GroupingConfig = GroupingConfig()):
        if isinstance(group_by, str):
            group_by = [group_by]
        self.group_by = validate_identifiers(group_by)
        self.config = config
        self.analyzers: List[Analyzer] = []

    def add(self, analyzer: Analyzer) -> "GroupedAnalysisRunner":
        self.analyzers.append(analyzer)
        return self

    def run(self, df) -> Dict[tuple, Dict[str, MetricValue]]:
        """Returns {group_key_tuple: {metric_key: MetricValue}}."""
        merged = merge_exprs(an.state_exprs() for an in self.analyzers)
        g = df.groupBy(*self.group_by).agg(
            F.count(F.lit(1)).alias("__group_rows"),
            *[c.alias(a) for a, c in merged.items()])
        if self.config.overflow == "fail":
            n_groups = g.count()
            if n_groups > self.config.max_groups:
                raise ValueError(
                    f"{n_groups} groups exceed max_groups={self.config.max_groups}")
        g = bound_groups(g, self.config, "__group_rows")
        out: Dict[tuple, Dict[str, MetricValue]] = {}
        for row in g.collect():
            key = tuple(row[c] for c in self.group_by)
            values = row.asDict()
            metrics = {}
            for an in self.analyzers:
                state = an.state_from_row(values)
                metrics[an.metric_key()] = an.metric_from_state(state)
            out[key] = metrics
        return out

    def run_df(self, df):
        """Distributed variant: per-group metric DataFrame (never
        collected) for pipelines that feed grouped metrics onward."""
        merged = merge_exprs(an.state_exprs() for an in self.analyzers)
        return df.groupBy(*self.group_by).agg(
            *[c.alias(a) for a, c in merged.items()])
