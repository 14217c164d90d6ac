"""Telemetry hooks + debug context.

Spans: OpenTelemetry-compatible spans per suite/check/constraint, no-op
without the SDK. Parity: /root/reference/term-guard/src/telemetry.rs +
span starts at core/suite.rs:78-94,417-421 (BYO tracer). Gated behind
an import-try — the container has no OTel SDK; the span protocol is
preserved so a tracer can be injected.

DebugContext: rich failure diagnostics collected during a run. Parity:
core/debug_context.rs — DebugLevel tiers (:57), builder toggles
(:97-131), query log (:135), constraint timing (:144-178), DebugInfo
(:270) with generate_error_report (:285) producing an ErrorReport
(:459) whose text rendering (:468) lists per-failure timing, related
queries, and constraint-type-specific suggestions (:320-360).

Threading note: the suite executor evaluates independent jobs from a
thread pool (``SuiteRunner.run`` in plans/executor.py), so all mutation
is lock-guarded — the reference wraps its collector in Arc<Mutex<…>>
for the same reason (debug_context.rs:75).
"""

from __future__ import annotations

import contextlib
import threading
import time
from dataclasses import dataclass, field
from typing import Any, Dict, List, Optional

try:  # pragma: no cover - optional dependency
    from opentelemetry import trace as _otel_trace
    _TRACER = _otel_trace.get_tracer("term_spark")
except ImportError:
    _TRACER = None


@contextlib.contextmanager
def span(name: str, **attributes):
    """OTel span when available; timing-only fallback otherwise."""
    if _TRACER is not None:  # pragma: no cover
        with _TRACER.start_as_current_span(name) as s:
            for k, v in attributes.items():
                s.set_attribute(k, v)
            yield s
        return
    yield None


class DebugLevel:
    """debug_context.rs:57 — each tier auto-enables collection toggles
    (with_level, :97-121)."""
    NONE = "none"
    BASIC = "basic"          # constraint names, pass/fail, timings
    DETAILED = "detailed"    # + executed queries/plans
    VERBOSE = "verbose"      # + intermediate results

    ORDER = (NONE, BASIC, DETAILED, VERBOSE)


@dataclass
class QueryExecution:  # debug_context.rs:412
    query: str
    context: str
    at: float = 0.0


@dataclass
class ConstraintTiming:  # debug_context.rs:424
    constraint: str
    duration_sec: float


@dataclass
class DebugSummary:  # debug_context.rs:444
    total_queries: int = 0
    total_constraints: int = 0
    total_duration_sec: float = 0.0
    failed_constraints: int = 0
    avg_constraint_time_sec: float = 0.0


@dataclass
class FailedConstraintDetail:  # debug_context.rs:523
    name: str
    message: Optional[str]
    related_queries: List[QueryExecution] = field(default_factory=list)
    timing: Optional[ConstraintTiming] = None
    suggestions: List[str] = field(default_factory=list)


@dataclass
class ErrorReport:  # debug_context.rs:459
    failed_constraints: List[FailedConstraintDetail]
    total_failures: int
    execution_summary: DebugSummary

    def __str__(self) -> str:  # rendering parity: debug_context.rs:468
        lines = ["=" * 39, "  Validation Error Report", "=" * 39, "",
                 "Summary:",
                 f"  Total Failures: {self.total_failures}",
                 f"  Total Constraints: {self.execution_summary.total_constraints}",
                 f"  Total Duration: {self.execution_summary.total_duration_sec:.3f}s",
                 ""]
        for i, fc in enumerate(self.failed_constraints):
            lines += [f"Failure #{i + 1}: {fc.name}", "-" * 39]
            if fc.message:
                lines.append(f"  Error: {fc.message}")
            if fc.timing:
                lines.append(f"  Duration: {fc.timing.duration_sec:.3f}s")
            if fc.suggestions:
                lines.append("  Suggestions:")
                lines += [f"    - {s}" for s in fc.suggestions]
            if fc.related_queries:
                lines.append("  Related Queries:")
                lines += [f"    {q.query}" for q in fc.related_queries]
            lines.append("")
        return "\n".join(lines)


#: constraint-name fragment -> debugging hints (debug_context.rs:320-360)
_SUGGESTIONS = (
    ("foreign_key", ["Check that both tables are registered",
                     "Verify the referenced columns exist with compatible types",
                     "Inspect violation examples for orphaned key values"]),
    ("completeness", ["Inspect the null distribution of the column",
                      "Consider a where() scope if nulls are expected upstream"]),
    ("uniqueness", ["Check for duplicate ingestion (exact-dedup the source)",
                    "Multi-column keys: verify the column combination"]),
    ("format", ["Sample non-matching values to refine the pattern",
                "Remember patterns are anchored full-match"]),
    ("size", ["Verify filters/where scopes before the row count"]),
)


@dataclass
class DebugInfo:  # debug_context.rs:270
    queries: List[QueryExecution]
    timings: List[ConstraintTiming]
    results: Dict[str, Any]          # name -> ConstraintResult
    timeline: List[Dict[str, Any]]
    intermediates: Dict[str, Any]
    summary: DebugSummary

    def generate_error_report(self) -> ErrorReport:  # debug_context.rs:285
        failed = []
        for name, res in self.results.items():
            status = getattr(res, "status", None)
            status = getattr(status, "value", status)
            if str(status).lower() not in ("failure", "error"):
                continue
            failed.append(FailedConstraintDetail(
                name=name,
                message=getattr(res, "message", None),
                related_queries=[q for q in self.queries if name in q.context],
                timing=next((t for t in self.timings if t.constraint == name),
                            None),
                suggestions=[s for frag, sugg in _SUGGESTIONS
                             if frag in name for s in sugg],
            ))
        return ErrorReport(failed, len(failed), self.summary)


class DebugContext:
    """Collects per-run diagnostics (debug_context.rs:70-165)."""

    def __init__(self, level: str = DebugLevel.NONE):
        if level not in DebugLevel.ORDER:
            raise ValueError(f"unknown debug level: {level!r}")
        self._lock = threading.Lock()
        self._t0 = time.perf_counter()
        self.queries: List[QueryExecution] = []
        self.timings: List[ConstraintTiming] = []
        self.results: Dict[str, Any] = {}
        self.timeline: List[Dict[str, Any]] = []
        self.intermediates: Dict[str, Any] = {}
        self.log_queries = False
        self.track_performance = False
        self.capture_intermediate_results = False
        self.level = DebugLevel.NONE
        self.with_level(level)

    # -- builder (debug_context.rs:97-131) -----------------------------
    def with_level(self, level: str) -> "DebugContext":
        self.level = level
        self.log_queries = level in (DebugLevel.DETAILED, DebugLevel.VERBOSE)
        self.track_performance = level != DebugLevel.NONE
        self.capture_intermediate_results = level == DebugLevel.VERBOSE
        return self

    def with_query_logging(self, enable: bool = True) -> "DebugContext":
        self.log_queries = enable
        return self

    def with_performance_tracking(self, enable: bool = True) -> "DebugContext":
        self.track_performance = enable
        return self

    @property
    def enabled(self) -> bool:
        return (self.level != DebugLevel.NONE or self.log_queries
                or self.track_performance)

    # -- recording (debug_context.rs:135-163) --------------------------
    def log_query(self, query: str, context: str = "") -> None:
        if not self.log_queries:
            return
        q = QueryExecution(query, context, time.perf_counter() - self._t0)
        with self._lock:
            self.queries.append(q)
            self.timeline.append({"event": "query", "context": context,
                                  "at": q.at})

    @contextlib.contextmanager
    def track_constraint(self, name: str):
        """Timing scope per constraint (start_constraint /
        ConstraintTracker Drop, debug_context.rs:144-190)."""
        if not self.track_performance:
            yield
            return
        t0 = time.perf_counter()
        try:
            yield
        finally:
            d = time.perf_counter() - t0
            with self._lock:
                self.timings.append(ConstraintTiming(name, d))
                self.timeline.append({"event": "constraint_completed",
                                      "constraint": name, "duration_sec": d})

    def record_result(self, name: str, result: Any) -> None:
        if self.level == DebugLevel.NONE:
            return
        with self._lock:
            self.results[name] = result
            status = getattr(result, "status", None)
            self.timeline.append({"event": "result", "constraint": name,
                                  "status": getattr(status, "value", status)})

    def capture(self, name: str, value: Any) -> None:
        """Verbose-only intermediate results (debug_context.rs:110-117)."""
        if self.capture_intermediate_results:
            with self._lock:
                self.intermediates[name] = value

    # -- reading (debug_context.rs:165-168,285) ------------------------
    def debug_info(self) -> DebugInfo:
        with self._lock:
            n = len(self.results)
            failed = sum(1 for r in self.results.values()
                         if str(getattr(getattr(r, "status", None), "value",
                                        getattr(r, "status", ""))).lower()
                         in ("failure", "error"))
            total = time.perf_counter() - self._t0
            summary = DebugSummary(
                total_queries=len(self.queries),
                total_constraints=n,
                total_duration_sec=total,
                failed_constraints=failed,
                avg_constraint_time_sec=(
                    sum(t.duration_sec for t in self.timings) / len(self.timings)
                    if self.timings else 0.0))
            return DebugInfo(list(self.queries), list(self.timings),
                             dict(self.results), list(self.timeline),
                             dict(self.intermediates), summary)

    def error_report(self) -> ErrorReport:
        return self.debug_info().generate_error_report()
