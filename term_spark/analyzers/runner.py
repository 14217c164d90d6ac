"""AnalysisRunner — metrics without assertions, scan-shared.

Parity: /root/reference/term-guard/src/analyzers/runner.rs:64-183 — add
analyzers, run, collect metrics into an AnalyzerContext keyed
"{analyzer}.{column}"; per-analyzer errors recorded with
continue_on_error (default true). The reference runs analyzers
sequentially (one SQL each — grouping is an acknowledged TODO,
runner.rs:159); here all analyzers' state expressions share the suite
executor's fused aggregation jobs (``plans.executor.fused_aggs``): one
plain group, one per DISTINCT alias, and one sketch group, so N
analyzers cost one scan per fusion class, not one each. A table that is
one partition with no exchange aggregates in place, so each of those
groups is one Spark job of one task.

IncrementalAnalysisRunner — parity with analyzers/incremental/
runner.rs:165-230 + state_store.rs: compute per-partition states,
persist them JSON-serialized in a StateStore, merge across partitions
without rescanning data.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field
from functools import partial
from typing import Dict, List, Mapping, Optional

from ..plans.executor import fused_aggs, merge_exprs
from ..session import atomic_path
from .base import Analyzer, AnalyzerState, MetricValue


@dataclass
class AnalyzerContext:
    metrics: Dict[str, MetricValue] = field(default_factory=dict)
    errors: Dict[str, str] = field(default_factory=dict)

    def store_metric(self, key: str, value: MetricValue) -> None:
        self.metrics[key] = value

    def metric(self, key: str) -> Optional[MetricValue]:
        return self.metrics.get(key)


def _states(analyzers, df, spark):
    """``[(analyzer, state thunk)]``, fused analyzers first. Their state
    expressions run as the suite executor's fused jobs; direct-state
    analyzers (MG frequency sketch) can't express their data-dependent
    state as agg Columns and run their own job (the reference's
    compute_state_from_data path)."""
    fused, direct = [], []
    for an in analyzers:
        if spark is not None and hasattr(an, "bind_spark"):
            an.bind_spark(spark)
        (direct if hasattr(an, "compute_state_from_df") else fused).append(an)
    values: Dict[str, object] = {}
    for _, _, build in fused_aggs(df, merge_exprs(an.state_exprs() for an in fused)):
        values.update(build().collect()[0].asDict())
    return ([(an, partial(an.state_from_row, values)) for an in fused]
            + [(an, partial(an.compute_state_from_df, df)) for an in direct])


class AnalysisRunner:
    def __init__(self, continue_on_error: bool = True):
        self.analyzers: List[Analyzer] = []
        self.continue_on_error = continue_on_error

    def add(self, analyzer: Analyzer) -> "AnalysisRunner":
        self.analyzers.append(analyzer)
        return self

    def run(self, df, spark=None) -> AnalyzerContext:
        ctx = AnalyzerContext()
        for an, state in _states(self.analyzers, df, spark):
            try:
                ctx.store_metric(an.metric_key(), an.metric_from_state(state()))
            except Exception as exc:
                if not self.continue_on_error:
                    raise
                ctx.errors[an.metric_key()] = str(exc)
        return ctx


# ---------------------------------------------------------------------------
# incremental analysis over named partitions
# ---------------------------------------------------------------------------

class StateStore:
    """In-memory store; see FilesystemStateStore for the persistent one
    (incremental/state_store.rs)."""

    def __init__(self):
        self._data: Dict[str, Dict[str, str]] = {}

    def save(self, partition: str, states: Mapping[str, str]) -> None:
        self._data[partition] = dict(states)

    def load(self, partition: str) -> Dict[str, str]:
        return dict(self._data[partition])

    def partitions(self) -> List[str]:
        return sorted(self._data)

    def delete(self, partition: str) -> None:
        self._data.pop(partition, None)


class FilesystemStateStore(StateStore):
    def __init__(self, root: str):
        super().__init__()
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _path(self, partition: str) -> str:
        safe = partition.replace("/", "_")
        return os.path.join(self.root, f"{safe}.json")

    def save(self, partition: str, states: Mapping[str, str]) -> None:
        # the previous state keeps serving until the new one is whole
        with atomic_path(self._path(partition)) as tmp, open(tmp, "w") as f:
            json.dump(dict(states), f)

    def load(self, partition: str) -> Dict[str, str]:
        with open(self._path(partition)) as f:
            return json.load(f)

    def partitions(self) -> List[str]:
        return sorted(p[:-5] for p in os.listdir(self.root) if p.endswith(".json"))

    def delete(self, partition: str) -> None:
        try:
            os.remove(self._path(partition))
        except FileNotFoundError:
            pass


class IncrementalAnalysisRunner:
    """States per partition → persisted → merged metric without rescan.

    Scale posture: each partition's state is one tiny JSON row; merging
    P partitions is O(P) driver arithmetic (batched at
    max_merge_batch_size like the reference, runner.rs:17-33) — this is
    how "validate only today's partition, report global metrics" stays
    O(today) instead of O(history).
    """

    def __init__(self, store: Optional[StateStore] = None,
                 max_merge_batch_size: int = 100):
        self.analyzers: List[Analyzer] = []
        self.store = store or StateStore()
        self.max_merge_batch_size = max_merge_batch_size

    def add(self, analyzer: Analyzer) -> "IncrementalAnalysisRunner":
        self.analyzers.append(analyzer)
        return self

    def analyze_partition(self, df, partition: str, spark=None) -> None:
        self.store.save(partition, {
            an.metric_key(): state().to_json()
            for an, state in _states(self.analyzers, df, spark)})

    def aggregate_partitions(self, partitions: Optional[List[str]] = None,
                             spark=None) -> AnalyzerContext:
        parts = partitions if partitions is not None else self.store.partitions()
        ctx = AnalyzerContext()
        for an in self.analyzers:
            if spark is not None and hasattr(an, "bind_spark"):
                an.bind_spark(spark)
            states = []
            for p in parts:
                blob = self.store.load(p).get(an.metric_key())
                if blob is not None:
                    states.append(AnalyzerState.from_json(blob))
            if not states:
                continue
            # batched merge (runner.rs:17-33)
            while len(states) > 1:
                chunk, states = states[:self.max_merge_batch_size], \
                    states[self.max_merge_batch_size:]
                states.insert(0, an.merge_states(chunk))
            ctx.store_metric(an.metric_key(), an.metric_from_state(states[0]))
        return ctx
