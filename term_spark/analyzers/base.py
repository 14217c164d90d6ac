"""Analyzer framework — Deequ's commutative-monoid state algebra.

Parity: /root/reference/term-guard/src/analyzers/traits.rs:64-178 — an
Analyzer has a mergeable State and the triplet
``compute_state_from_data`` / ``merge_states`` /
``compute_metric_from_state``. States are serde-serializable
(JSON) so they can be persisted per partition and merged later
(incremental analysis, incremental/runner.rs:71-111).

Spark mapping (SURVEY §1.1.6): a state is one row of partial-aggregate
values; ``state_exprs`` contributes aggregate Columns to a shared
single-pass ``df.agg`` (the AnalysisRunner fuses all analyzers' states
into one job); merging is pure Python arithmetic on the state fields
(sum/count/min/max/moments compose; HLL sketches merge via Spark's
hll_union).

Example mergeable states, matching the reference:
- mean = (sum, count)                    (basic/mean.rs:104)
- stddev = (n, sum, sum_sq)              (advanced/standard_deviation.rs:172-179)
- correlation = (n, Σx, Σy, Σx², Σy², Σxy) (advanced/correlation.rs:240-249)
"""

from __future__ import annotations

import base64
import json
import math
from abc import ABC, abstractmethod
from dataclasses import dataclass, field
from typing import Any, Dict, List, Mapping, Optional

import pyspark.sql.functions as F

from ..core.constraint import metric_alias
from ..functions.security import validate_identifier
from ..session import local_df


@dataclass
class MetricValue:
    """Tagged metric union (analyzers/types.rs:13-34)."""

    kind: str  # double | long | string | boolean | histogram | vector | map
    value: Any

    def to_json(self) -> str:
        return json.dumps({"kind": self.kind, "value": self.value})

    @staticmethod
    def double(v: float) -> "MetricValue":
        return MetricValue("double", float(v))

    @staticmethod
    def long(v: int) -> "MetricValue":
        return MetricValue("long", int(v))


class AnalyzerState(dict):
    """A JSON-serializable dict of partial-aggregate values."""

    def to_json(self) -> str:
        return json.dumps(self, sort_keys=True)

    @staticmethod
    def from_json(text: str) -> "AnalyzerState":
        return AnalyzerState(json.loads(text))


class Analyzer(ABC):
    """Subclasses define the state triplet. ``state_exprs`` aliases must
    be unique per analyzer instance (use metric_alias)."""

    name: str = "analyzer"
    column: Optional[str] = None

    @abstractmethod
    def state_exprs(self) -> Dict[str, "F.Column"]:
        """Aggregate Columns whose single-row result IS the state."""

    @abstractmethod
    def state_from_row(self, row: Mapping[str, Any]) -> AnalyzerState:
        ...

    @abstractmethod
    def merge_states(self, states: List[AnalyzerState]) -> AnalyzerState:
        ...

    @abstractmethod
    def metric_from_state(self, state: AnalyzerState) -> MetricValue:
        ...

    # -- convenience ---------------------------------------------------
    def metric_key(self) -> str:
        return f"{self.name}.{self.column}" if self.column else self.name

    def compute(self, df) -> MetricValue:
        """Standalone single-table computation (one Spark job)."""
        exprs = self.state_exprs()
        row = df.agg(*[c.alias(a) for a, c in exprs.items()]).collect()[0]
        return self.metric_from_state(self.state_from_row(row.asDict()))


# ---------------------------------------------------------------------------
# basic analyzers
# ---------------------------------------------------------------------------

class SizeAnalyzer(Analyzer):
    name = "size"

    def __init__(self):
        self._n = metric_alias("an_size")

    def state_exprs(self):
        return {self._n: F.count(F.lit(1))}

    def state_from_row(self, row):
        return AnalyzerState(n=int(row[self._n]))

    def merge_states(self, states):
        return AnalyzerState(n=sum(s["n"] for s in states))

    def metric_from_state(self, state):
        return MetricValue.long(state["n"])


class CompletenessAnalyzer(Analyzer):
    name = "completeness"

    def __init__(self, column: str):
        self.column = validate_identifier(column)
        self._nn = metric_alias("an_nn", column)
        self._n = metric_alias("an_size")

    def state_exprs(self):
        return {self._nn: F.count(F.col(self.column)),
                self._n: F.count(F.lit(1))}

    def state_from_row(self, row):
        return AnalyzerState(non_null=int(row[self._nn]), n=int(row[self._n]))

    def merge_states(self, states):
        return AnalyzerState(non_null=sum(s["non_null"] for s in states),
                             n=sum(s["n"] for s in states))

    def metric_from_state(self, state):
        return MetricValue.double(
            state["non_null"] / state["n"] if state["n"] else float("nan"))


class SumAnalyzer(Analyzer):
    name = "sum"

    def __init__(self, column: str):
        self.column = validate_identifier(column)
        self._s = metric_alias("an_sum", column)

    def state_exprs(self):
        return {self._s: F.sum(F.col(self.column).cast("double"))}

    def state_from_row(self, row):
        v = row[self._s]
        return AnalyzerState(s=float(v) if v is not None else 0.0)

    def merge_states(self, states):
        return AnalyzerState(s=sum(s["s"] for s in states))

    def metric_from_state(self, state):
        return MetricValue.double(state["s"])


class MeanAnalyzer(Analyzer):
    """State = (sum, count) — basic/mean.rs:104."""

    name = "mean"

    def __init__(self, column: str):
        self.column = validate_identifier(column)
        self._s = metric_alias("an_sum", column)
        self._c = metric_alias("an_cnt", column)

    def state_exprs(self):
        col = F.col(self.column).cast("double")
        return {self._s: F.sum(col), self._c: F.count(col)}

    def state_from_row(self, row):
        return AnalyzerState(s=float(row[self._s] or 0.0), c=int(row[self._c]))

    def merge_states(self, states):
        return AnalyzerState(s=sum(x["s"] for x in states),
                             c=sum(x["c"] for x in states))

    def metric_from_state(self, state):
        return MetricValue.double(
            state["s"] / state["c"] if state["c"] else float("nan"))


class MinAnalyzer(Analyzer):
    name = "min"

    def __init__(self, column: str):
        self.column = validate_identifier(column)
        self._m = metric_alias("an_min", column)

    def state_exprs(self):
        return {self._m: F.min(F.col(self.column).cast("double"))}

    def state_from_row(self, row):
        v = row[self._m]
        return AnalyzerState(m=float(v) if v is not None else None)

    def merge_states(self, states):
        vals = [s["m"] for s in states if s["m"] is not None]
        return AnalyzerState(m=min(vals) if vals else None)

    def metric_from_state(self, state):
        return MetricValue.double(state["m"] if state["m"] is not None else float("nan"))


class MaxAnalyzer(Analyzer):
    name = "max"

    def __init__(self, column: str):
        self.column = validate_identifier(column)
        self._m = metric_alias("an_max", column)

    def state_exprs(self):
        return {self._m: F.max(F.col(self.column).cast("double"))}

    def state_from_row(self, row):
        v = row[self._m]
        return AnalyzerState(m=float(v) if v is not None else None)

    def merge_states(self, states):
        vals = [s["m"] for s in states if s["m"] is not None]
        return AnalyzerState(m=max(vals) if vals else None)

    def metric_from_state(self, state):
        return MetricValue.double(state["m"] if state["m"] is not None else float("nan"))


class StandardDeviationAnalyzer(Analyzer):
    """State = (n, sum, sum_sq) — advanced/standard_deviation.rs:172-179.
    Sample (n−1) semantics, property-pinned in the reference."""

    name = "standard_deviation"

    def __init__(self, column: str):
        self.column = validate_identifier(column)
        self._n = metric_alias("an_sd_n", column)
        self._s = metric_alias("an_sd_s", column)
        self._q = metric_alias("an_sd_q", column)

    def state_exprs(self):
        col = F.col(self.column).cast("double")
        return {self._n: F.count(col), self._s: F.sum(col),
                self._q: F.sum(col * col)}

    def state_from_row(self, row):
        return AnalyzerState(n=int(row[self._n]),
                             s=float(row[self._s] or 0.0),
                             q=float(row[self._q] or 0.0))

    def merge_states(self, states):
        return AnalyzerState(n=sum(x["n"] for x in states),
                             s=sum(x["s"] for x in states),
                             q=sum(x["q"] for x in states))

    def metric_from_state(self, state):
        n, s, q = state["n"], state["s"], state["q"]
        if n < 2:
            return MetricValue.double(float("nan"))
        var = (q - s * s / n) / (n - 1)
        return MetricValue.double(math.sqrt(max(var, 0.0)))


class ShapeAnalyzer(Analyzer):
    """Mergeable skewness/kurtosis state = raw power sums
    (n, Σx, Σx², Σx³, Σx⁴) — sums add across slices, central moments
    derive at read time, matching Spark's population ``skewness`` /
    excess ``kurtosis``.  Same raw-sum convention as
    StandardDeviationAnalyzer (simple monoid; the numerically fancier
    Pébay update matters for |x| ≫ σ·1e6 regimes — document, not
    needed for metric-series scale).

    ``metric`` selects which statistic ``metric_from_state`` reports
    ('skewness' | 'kurtosis'); both derive from one state.
    """

    name = "shape"

    def __init__(self, column: str, metric: str = "skewness"):
        if metric not in ("skewness", "kurtosis"):
            raise ValueError(
                f"metric must be skewness|kurtosis, got {metric!r}")
        self.column = validate_identifier(column)
        self.metric = metric
        self.name = metric
        self._a = [metric_alias(f"an_shape_s{i}", column) for i in range(5)]

    def state_exprs(self):
        col = F.col(self.column).cast("double")
        return {self._a[0]: F.count(col),
                self._a[1]: F.sum(col),
                self._a[2]: F.sum(col * col),
                self._a[3]: F.sum(col * col * col),
                self._a[4]: F.sum(col * col * col * col)}

    def state_from_row(self, row):
        return AnalyzerState(
            n=int(row[self._a[0]]),
            **{f"s{i}": float(row[self._a[i]] or 0.0) for i in range(1, 5)})

    def merge_states(self, states):
        return AnalyzerState(
            n=sum(x["n"] for x in states),
            **{f"s{i}": sum(x[f"s{i}"] for x in states)
               for i in range(1, 5)})

    def metric_from_state(self, state):
        n = state["n"]
        if n < 2:
            return MetricValue.double(float("nan"))
        s1, s2, s3, s4 = (state["s1"], state["s2"], state["s3"], state["s4"])
        m1 = s1 / n
        m2 = s2 / n - m1 * m1
        m3 = s3 / n - 3 * m1 * s2 / n + 2 * m1 ** 3
        m4 = (s4 / n - 4 * m1 * s3 / n + 6 * m1 * m1 * s2 / n
              - 3 * m1 ** 4)
        if m2 <= 0:
            return MetricValue.double(float("nan"))
        if self.metric == "skewness":
            return MetricValue.double(m3 / m2 ** 1.5)
        return MetricValue.double(m4 / (m2 * m2) - 3.0)


class CorrelationAnalyzer(Analyzer):
    """State = (n, Σx, Σy, Σx², Σy², Σxy) — advanced/correlation.rs:240-249."""

    name = "correlation"

    def __init__(self, column_x: str, column_y: str):
        self.column_x = validate_identifier(column_x)
        self.column_y = validate_identifier(column_y)
        self.column = f"{column_x},{column_y}"
        a = lambda k: metric_alias("an_corr", k, column_x, column_y)
        self._n, self._sx, self._sy = a("n"), a("sx"), a("sy")
        self._sxx, self._syy, self._sxy = a("sxx"), a("syy"), a("sxy")

    def state_exprs(self):
        x = F.col(self.column_x).cast("double")
        y = F.col(self.column_y).cast("double")
        both = x.isNotNull() & y.isNotNull()
        xv, yv = F.when(both, x), F.when(both, y)
        return {self._n: F.count(F.when(both, 1)),
                self._sx: F.sum(xv), self._sy: F.sum(yv),
                self._sxx: F.sum(xv * xv), self._syy: F.sum(yv * yv),
                self._sxy: F.sum(xv * yv)}

    def state_from_row(self, row):
        return AnalyzerState(
            n=int(row[self._n]),
            sx=float(row[self._sx] or 0.0), sy=float(row[self._sy] or 0.0),
            sxx=float(row[self._sxx] or 0.0), syy=float(row[self._syy] or 0.0),
            sxy=float(row[self._sxy] or 0.0))

    def merge_states(self, states):
        keys = ("n", "sx", "sy", "sxx", "syy", "sxy")
        return AnalyzerState({k: sum(s[k] for s in states) for k in keys})

    def metric_from_state(self, state):
        n = state["n"]
        if n < 2:
            return MetricValue.double(float("nan"))
        cov = state["sxy"] - state["sx"] * state["sy"] / n
        vx = state["sxx"] - state["sx"] ** 2 / n
        vy = state["syy"] - state["sy"] ** 2 / n
        if vx <= 0 or vy <= 0:
            return MetricValue.double(float("nan"))
        return MetricValue.double(cov / math.sqrt(vx * vy))


#: the (key, blob) rows the driver-side HLL union and estimate read
_HLL_ROWS = "key string, blob binary"


def hll_lg_k(lg_k) -> int:
    """``lg_k`` as an int, or ``ValueError`` outside the [4, 21] that
    ``hll_sketch_agg`` accepts — checked where a sketch is configured,
    so a bad value fails there and not inside a Spark job."""
    if not 4 <= int(lg_k) <= 21:
        raise ValueError(f"lgk must be in [4, 21], got {lg_k}")
    return int(lg_k)


def hll_sketch(column: str, lg_k: int) -> "F.Column":
    """The HLL sketch aggregate every HLL state is built from.  Values
    are cast to string, so numeric and string columns share one item
    domain: the estimate counts distinct string forms, which equals
    ``COUNT(DISTINCT col)`` for any injective cast."""
    return F.hll_sketch_agg(F.col(column).cast("string"),
                            F.lit(hll_lg_k(lg_k)))


def hll_union(spark, rows):
    """``(key, blob)`` sketch rows to one ``(key, blob)`` row per key
    holding the union of that key's sketches, as a lazy DataFrame:
    collecting it is one job, and so is ``hll_estimate`` of it."""
    return (local_df(spark, rows, _HLL_ROWS).groupBy("key")
            .agg(F.hll_union_agg("blob").alias("blob")))


def hll_estimate(spark, rows) -> Dict[str, int]:
    """``{key: estimate}`` of ``(key, blob)`` sketch rows, given as a
    list or as ``hll_union``'s DataFrame, in one job."""
    if isinstance(rows, list):
        rows = local_df(spark, rows, _HLL_ROWS)
    return {r["key"]: int(r["est"]) for r in rows.select(
        "key", F.hll_sketch_estimate("blob").alias("est")).collect()}


class _HllAnalyzer(Analyzer):
    """An analyzer whose state carries an HLL sketch, base64-encoded so
    the state stays JSON.  Merging and estimating run a driver-side
    Spark job, so the runner binds a session with ``bind_spark``."""

    def __init__(self, column: str, lg_k: int):
        self.column = validate_identifier(column)
        self.lg_k = hll_lg_k(lg_k)
        self._spark = None  # bound by runner for merge

    def bind_spark(self, spark):
        self._spark = spark
        return self

    def _sketch_rows(self, sketches):
        """base64 sketches as (key, blob) rows, after the session check."""
        if self._spark is None:
            raise RuntimeError(f"{self.name} needs a SparkSession "
                               "(bind_spark)")
        return [(self.column, base64.b64decode(s)) for s in sketches]

    @staticmethod
    def _b64(raw):
        return base64.b64encode(bytes(raw)).decode() if raw is not None else None


class ApproxCountDistinctAnalyzer(_HllAnalyzer):
    """Mergeable HLL state via Spark 3.5+ ``hll_sketch_agg`` — the
    binary sketch is the state; merging unions sketches (needs a
    SparkSession, passed to merge via the incremental runner)."""

    name = "approx_count_distinct"

    def __init__(self, column: str, lg_k: int = 12):
        super().__init__(column, lg_k)
        self._sk = metric_alias("an_hll", column, lg_k)

    def state_exprs(self):
        return {self._sk: hll_sketch(self.column, self.lg_k)}

    def state_from_row(self, row):
        return AnalyzerState(sketch=self._b64(row[self._sk]))

    def merge_states(self, states):
        sketches = [s["sketch"] for s in states if s.get("sketch")]
        if len(sketches) <= 1:
            return AnalyzerState(sketch=sketches[0] if sketches else None)
        row = hll_union(self._spark, self._sketch_rows(sketches)).collect()[0]
        return AnalyzerState(sketch=self._b64(row["blob"]))

    def metric_from_state(self, state):
        if not state.get("sketch"):
            return MetricValue.long(0)
        est = hll_estimate(self._spark, self._sketch_rows([state["sketch"]]))
        return MetricValue.long(est[self.column])


class DistinctnessAnalyzer(_HllAnalyzer):
    """Distinct/total ratio (basic/distinctness.rs). The exact distinct
    count is not a mergeable scalar, so the state carries BOTH the
    exact count (used when a single slice answers the query) and an
    HLL sketch (used when states merge across partitions) — mirroring
    the reference's exact-vs-incremental split."""

    name = "distinctness"

    def __init__(self, column: str, lg_k: int = 12):
        super().__init__(column, lg_k)
        self._n = metric_alias("an_dn", column)
        self._d = metric_alias("an_dd", column, tag="d")
        self._sk = metric_alias("an_dhll", column, lg_k, tag="k")

    def state_exprs(self):
        return {
            self._n: F.count(F.lit(1)),
            self._d: F.count_distinct(F.col(self.column)),
            self._sk: hll_sketch(self.column, self.lg_k),
        }

    def state_from_row(self, row):
        return AnalyzerState(n=int(row[self._n]), d=int(row[self._d]),
                             exact=True, sketch=self._b64(row[self._sk]))

    def merge_states(self, states):
        if len(states) == 1:
            return states[0]
        rows = self._sketch_rows(s["sketch"] for s in states if s.get("sketch"))
        est = hll_estimate(self._spark, hll_union(self._spark, rows))
        return AnalyzerState(n=sum(s["n"] for s in states),
                             d=est[self.column], exact=False, sketch=None)

    def metric_from_state(self, state):
        return MetricValue.double(
            state["d"] / state["n"] if state["n"] else float("nan"))


class ComplianceAnalyzer(Analyzer):
    """Predicate-satisfaction ratio with mergeable (hits, total) state
    (advanced/compliance.rs:153-159)."""

    name = "compliance"

    def __init__(self, name: str, predicate: str):
        from ..functions.security import validate_sql_expression

        self.column = name  # metric key segment, like the reference
        self.predicate = validate_sql_expression(predicate)
        self._h = metric_alias("an_comp_h", predicate)
        self._n = metric_alias("an_comp_n")

    def state_exprs(self):
        return {self._h: F.count(F.when(F.expr(self.predicate), 1)),
                self._n: F.count(F.lit(1))}

    def state_from_row(self, row):
        return AnalyzerState(h=int(row[self._h]), n=int(row[self._n]))

    def merge_states(self, states):
        return AnalyzerState(h=sum(s["h"] for s in states),
                             n=sum(s["n"] for s in states))

    def metric_from_state(self, state):
        return MetricValue.double(
            state["h"] / state["n"] if state["n"] else float("nan"))


class DataTypeDistributionAnalyzer(Analyzer):
    """Detected-type shares with a mergeable per-type count state
    (advanced/data_type.rs:129-141 buckets)."""

    name = "data_type_distribution"

    def __init__(self, column: str):
        from ..operators.datatype import TYPE_PATTERNS

        self.column = validate_identifier(column)
        self._labels = [t for t, _ in TYPE_PATTERNS] + ["text"]
        self._aliases = {t: metric_alias("an_dt", column, t) for t in self._labels}

    def state_exprs(self):
        from ..operators.datatype import classify_expr

        detected = classify_expr(self.column)
        nn = F.col(self.column).isNotNull()
        return {a: F.count(F.when(nn & (detected == t), 1))
                for t, a in self._aliases.items()}

    def state_from_row(self, row):
        return AnalyzerState({t: int(row[a]) for t, a in self._aliases.items()})

    def merge_states(self, states):
        return AnalyzerState({t: sum(s[t] for s in states) for t in self._labels})

    def metric_from_state(self, state):
        total = sum(state.values())
        shares = ({t: c / total for t, c in state.items() if c}
                  if total else {})
        return MetricValue("map", shares)


class BucketDistributionAnalyzer(Analyzer):
    """State = equi-width bucket counts over a FIXED [lo, hi] domain —
    the mergeable histogram that turns distribution drift into state
    arithmetic: persist today's bucket state alongside the other
    incremental states, then score PSI against yesterday's with
    ``psi_between_states`` WITHOUT rescanning either snapshot. The
    domain must be pinned (not derived) or states from different
    partitions would bucket differently and the merge would be
    meaningless — same reason the streaming drift stage fixes it.

    ``bins`` conditional counts ride the shared fused aggregation
    (Benford's nine-count pattern); merge = elementwise add. Metric =
    Shannon entropy (nats) of the bucket shares — a one-number shape
    summary for the repository time series.
    """

    name = "bucket_distribution"

    def __init__(self, column: str, lo: float, hi: float, bins: int = 10):
        if not float(hi) > float(lo):
            raise ValueError(
                f"bucket_distribution({column!r}): hi ({hi}) must exceed "
                f"lo ({lo})")
        if bins < 2:
            raise ValueError(f"bins must be >= 2, got {bins}")
        self.column = validate_identifier(column)
        self.lo, self.hi, self.bins = float(lo), float(hi), int(bins)
        self._aliases = {b: metric_alias("an_bdist", column, b, tag="k")
                        for b in range(self.bins)}

    def state_exprs(self):
        from ..operators.statistics import psi_bucket
        width = (self.hi - self.lo) / self.bins
        col = F.col(self.column)
        b = psi_bucket(col.cast("double"), self.lo, width, self.bins)
        nn = col.isNotNull()
        return {a: F.count(F.when(nn & (b == i), 1))
                for i, a in self._aliases.items()}

    def state_from_row(self, row):
        return AnalyzerState(
            counts=[int(row[self._aliases[i]]) for i in range(self.bins)])

    def merge_states(self, states):
        return AnalyzerState(counts=[
            sum(s["counts"][i] for s in states) for i in range(self.bins)])

    def metric_from_state(self, state):
        counts = state["counts"]
        total = sum(counts)
        if total == 0:
            return MetricValue.double(float("nan"))
        ent = -sum((c / total) * math.log(c / total) for c in counts if c)
        return MetricValue.double(ent)


def psi_between_states(ref_state: AnalyzerState, cur_state: AnalyzerState,
                       eps: float = 1e-6) -> float:
    """PSI from two persisted bucket-count states (same analyzer
    config, so same domain/bins) — pure driver arithmetic, zero scans.
    Matches statistics.population_stability on the same rows: shares
    eps-floored, Σ (p−q)·ln(p/q), rounded to 6 like the operator."""
    a, b = ref_state["counts"], cur_state["counts"]
    if len(a) != len(b):
        raise ValueError(
            f"psi_between_states: bucket counts differ ({len(a)} vs "
            f"{len(b)}) — states come from different analyzer configs")
    ta, tb = sum(a), sum(b)
    if ta == 0 or tb == 0:
        raise ValueError("psi_between_states: a state has no rows — PSI "
                         "is undefined for an empty snapshot")
    psi = 0.0
    for ca, cb in zip(a, b):
        p = max(ca / ta, eps)
        q = max(cb / tb, eps)
        psi += (p - q) * math.log(p / q)
    return round(psi, 6)
