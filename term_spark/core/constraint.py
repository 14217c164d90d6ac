"""Constraint ABC and engine context.

Parity: /root/reference/term-guard/src/core/constraint.rs:186-225 — a
constraint is a *metric computation* plus an *assertion* over the
metric. The reference evaluates each constraint as its own SQL query;
our design center (SURVEY §7.1) is the opposite: every scalar-aggregate
constraint *contributes expressions* to one shared ``df.agg(...)`` pass
per table, and only groupBy-/join-shaped constraints run their own
Spark jobs. This natively reproduces the reference optimizer's N-scans→1
batching (optimizer/combiner.rs:34-143) as the only execution path.

Instead of the reference's task-local ValidationContext
(core/validation_context.rs) we pass tables explicitly through
``EngineContext`` (SURVEY §7.4.5).
"""

from __future__ import annotations

import hashlib
from abc import ABC, abstractmethod
from typing import TYPE_CHECKING, Dict, Mapping, Optional

from .result import ConstraintResult

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql import Column, DataFrame, SparkSession


#: alias of the row count every scalar job carries: an empty table
#: skips its constraints instead of judging NULL aggregates
SIZE_ALIAS = "__size"


class EngineContext:
    """Explicit table registry handed to self-executing constraints."""

    def __init__(self, spark: "SparkSession", tables: Mapping[str, "DataFrame"],
                 default_table: str = "data"):
        self.spark = spark
        self.tables = dict(tables)
        self.default_table = default_table

    def df(self, name: Optional[str] = None) -> "DataFrame":
        key = name or self.default_table
        if key not in self.tables:
            raise KeyError(
                f"table {key!r} is not registered (have: {sorted(self.tables)})")
        return self.tables[key]


def metric_alias(*parts: object, tag: str = "s") -> str:
    """Deterministic, collision-safe alias for a shared-scan aggregate.

    Two constraints requesting the same semantic metric produce the same
    alias, so the executor dedups the expression and computes it once.

    ``tag`` classifies the aggregate for the executor's fusion policy
    (PySpark's Column string hides the DISTINCT flag, so constraints
    declare it): 's' plain hash aggregate, 'd' DISTINCT aggregate,
    'k' sketch (TypedImperative: percentile_approx / HLL). The executor
    never fuses 'd' and 'k' into one physical aggregation — that plan
    degenerates to Expand + sort with per-row sketch buffers.
    """
    assert tag in ("s", "d", "k")
    digest = hashlib.md5("\x1f".join(str(p) for p in parts).encode()).hexdigest()[:12]
    return f"m{tag}_{digest}"


class Constraint(ABC):
    """Base class. Subclasses implement ONE of the two protocols:

    * scalar protocol — override ``scalar_metrics`` (aggregate Columns
      merged into the shared single-pass ``df.agg``) and
      ``result_from_metrics``;
    * self-executing protocol — override ``evaluate`` (runs its own
      groupBy/join/window jobs via the EngineContext).
    """

    name: str = "constraint"
    column: Optional[str] = None
    #: optional per-constraint table override (else the check's table)
    table: Optional[str] = None

    # ---- scalar protocol -------------------------------------------
    def scalar_metrics(self, df: "DataFrame") -> Dict[str, "Column"]:
        return {}

    def result_from_metrics(self, metrics: Mapping[str, object]) -> ConstraintResult:
        raise NotImplementedError

    # ---- row-level protocol (optional) ------------------------------
    def row_predicate(self) -> Optional["Column"]:
        """Boolean Column that is True exactly for rows satisfying this
        constraint, or None when the constraint has no row-level form
        (aggregates like mean/uniqueness judge the COLLECTION, not a
        row).  Powers ``core.rows.annotate_rows`` / ``quarantine_rows``
        — the deequ-style row-level results / bad-row routing."""
        return None

    def row_label(self) -> str:
        """Short violation tag for annotated rows."""
        return f"{self.name}({self.column})" if self.column else self.name

    # ---- self-executing protocol -----------------------------------
    def evaluate(self, ctx: EngineContext) -> ConstraintResult:
        """Standalone evaluation; default = run the scalar protocol as
        its own single-table job (used when a constraint is evaluated
        outside a suite)."""
        df = ctx.df(self.table)
        exprs = self.scalar_metrics(df)
        if not exprs:
            raise NotImplementedError(
                f"{type(self).__name__} implements neither protocol")
        import pyspark.sql.functions as F

        row = df.agg(F.count(F.lit(1)).alias(SIZE_ALIAS),
                     *[c.alias(a) for a, c in exprs.items()]).collect()[0]
        if row[SIZE_ALIAS] == 0:
            return self._finish(ConstraintResult.skipped())
        return self._finish(self.result_from_metrics(row.asDict()))

    # ---- shared helpers ---------------------------------------------
    def _finish(self, result: ConstraintResult) -> ConstraintResult:
        result.name = self.name
        result.column = self.column
        return result

    def metric_key(self) -> str:
        """Report key, '{analyzer}.{column}' (analyzers/runner.rs:367-377)."""
        return f"{self.name}.{self.column}" if self.column else self.name
