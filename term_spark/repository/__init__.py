"""Metrics repository: persist metrics per run, query over history.

Parity: /root/reference/term-guard/src/repository/ —
- MetricsRepository trait (mod.rs:59-151): save/load/delete/list by
  ResultKey{timestamp, tags} (result_key.rs);
- InMemoryRepository (in_memory.rs);
- MetricsQuery (query.rs): time-range + tag filtering + sort, one pass;
- DataFusionQueryExecutor (datafusion_executor.rs): SQL over the
  metrics history → here ``sql()`` registers the history as a temp
  view and runs spark.sql.

Each read (``keys``/``load``/``query``/``series``) decodes ONE snapshot
from the backend's read primitive ``_load_all`` (N file reads for N
parquet runs, one Spark job on Delta); nothing is cached across calls.

The persistent backend appends parquet (one file per save — at scale
swap for Delta/Iceberg appends; the layout is already
partition-friendly: one row per (run, metric)); SQL sees committed files.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from abc import ABC, abstractmethod
from dataclasses import dataclass
from typing import Dict, List, Mapping, Optional

from ..analyzers.base import MetricValue
from ..session import atomic_path, local_df
from ..sources import scan_parquet


@dataclass(frozen=True)
class ResultKey:
    timestamp: float
    tags: tuple = ()  # tuple of (k, v) pairs, hashable

    @staticmethod
    def of(timestamp: Optional[float] = None, **tags) -> "ResultKey":
        return ResultKey(timestamp if timestamp is not None else time.time(),
                         tuple(sorted(tags.items())))

    @property
    def tag_dict(self) -> Dict[str, str]:
        return dict(self.tags)


#: one row per (run, metric); shared by the parquet and Delta layouts
_SCHEMA = ("timestamp double, tags string, metric string, "
           "kind string, value string")


def _decode(rows) -> Dict[ResultKey, Dict[str, MetricValue]]:
    """Stored (timestamp, tags, metric, kind, value) rows → snapshot."""
    out: Dict[ResultKey, Dict[str, MetricValue]] = {}
    tag_tuples: Dict[str, tuple] = {}
    for ts, tags, metric, kind, value in rows:
        if tags not in tag_tuples:
            tag_tuples[tags] = tuple(sorted(json.loads(tags).items()))
        out.setdefault(ResultKey(ts, tag_tuples[tags]), {})[metric] = MetricValue(
            kind, json.loads(value))
    return out


class MetricsRepository(ABC):
    """Backends implement ``save``, ``delete`` and ``_load_all``; each
    read below makes one ``_load_all`` call, never cached across calls."""

    @abstractmethod
    def save(self, key: ResultKey, metrics: Mapping[str, MetricValue]) -> None: ...

    @abstractmethod
    def delete(self, key: ResultKey) -> None: ...

    @abstractmethod
    def _load_all(self) -> Dict[ResultKey, Dict[str, MetricValue]]:
        """Fresh ``{ResultKey: {metric: MetricValue}}`` store snapshot."""

    def load(self, key: ResultKey) -> Optional[Dict[str, MetricValue]]:
        return self._load_all().get(key)

    def keys(self) -> List[ResultKey]:
        return sorted(self._load_all(), key=lambda k: k.timestamp)

    # ---- MetricsQuery (query.rs) -------------------------------------
    def query(self, metric: Optional[str] = None,
              after: Optional[float] = None, before: Optional[float] = None,
              tags: Optional[Mapping[str, str]] = None,
              ascending: bool = True) -> List[tuple]:
        """Returns [(ResultKey, metric_name, MetricValue)] filtered and
        time-sorted — the anomaly detectors' input."""
        out = []
        for key, metrics in self._load_all().items():
            if after is not None and key.timestamp < after:
                continue
            if before is not None and key.timestamp > before:
                continue
            if tags and any(key.tag_dict.get(k) != v for k, v in tags.items()):
                continue
            for name, value in metrics.items():
                if metric is None or name == metric:
                    out.append((key, name, value))
        out.sort(key=lambda t: t[0].timestamp, reverse=not ascending)
        return out

    def series(self, metric: str, tags: Optional[Mapping[str, str]] = None) -> List[float]:
        """Chronological numeric history of one metric."""
        return [float(v.value) for _, _, v in self.query(metric, tags=tags)
                if isinstance(v.value, (int, float))]


class InMemoryRepository(MetricsRepository):
    def __init__(self):
        self._data: Dict[ResultKey, Dict[str, MetricValue]] = {}

    def save(self, key, metrics):
        self._data[key] = dict(metrics)

    def delete(self, key):
        self._data.pop(key, None)

    def _load_all(self):
        return {k: dict(m) for k, m in self._data.items()}


class ParquetRepository(MetricsRepository):
    """Append-only parquet directory; each save writes one file of
    (timestamp, tags_json, metric, kind, value_json) rows."""

    def __init__(self, path: str):
        self.path = path
        os.makedirs(path, exist_ok=True)

    def _files(self):
        return [os.path.join(self.path, f) for f in sorted(os.listdir(self.path))
                if f.endswith(".parquet")]

    def save(self, key, metrics):
        import pyarrow as pa
        import pyarrow.parquet as pq
        rows = {
            "timestamp": [key.timestamp] * len(metrics),
            "tags": [json.dumps(key.tag_dict, sort_keys=True)] * len(metrics),
            "metric": list(metrics.keys()),
            "kind": [v.kind for v in metrics.values()],
            "value": [json.dumps(v.value) for v in metrics.values()],
        }
        final = os.path.join(
            self.path, f"{key.timestamp:.6f}_{uuid.uuid4().hex[:8]}.parquet")
        with atomic_path(final) as tmp:
            pq.write_table(pa.table(rows), tmp)

    def _load_all(self):
        """Reads each committed file once and decodes whole columns."""
        import pyarrow.parquet as pq
        rows = []
        for f in self._files():
            cols = pq.read_table(f).to_pydict()
            rows.extend(zip(cols["timestamp"], cols["tags"], cols["metric"],
                            cols["kind"], cols["value"]))
        return _decode(rows)

    def delete(self, key):
        """Delete = a targeted offline compaction. The live write path
        stays append-only (every ``save`` is one immutable file); all
        row removal funnels through ``compact``'s rewrite."""
        self.compact(drop_key=key)

    def compact(self, before_ts: Optional[float] = None,
                drop_key: Optional[ResultKey] = None) -> int:
        """Offline retention/compaction: rewrite the store as ONE
        parquet file, dropping runs older than ``before_ts`` and/or one
        exact ``drop_key``. Returns the number of rows dropped.

        Honors the append-only contract: readers and ``save`` never
        mutate existing files; this is the explicit offline rewrite the
        docstring always promised. The new file lands via
        ``session.atomic_path`` BEFORE the old files are unlinked, so a crash
        mid-compaction can only leave duplicate rows (self-healed by
        the next compaction), never lost ones. At real scale the
        same operation is a Delta/Iceberg ``OPTIMIZE``/retention job.
        """
        import pyarrow as pa
        import pyarrow.parquet as pq

        files = self._files()
        if not files:
            return 0
        t = pa.concat_tables([pq.read_table(f) for f in files])
        drop_tags = (json.dumps(drop_key.tag_dict, sort_keys=True)
                     if drop_key is not None else None)
        kept = t.filter(pa.array([
            not ((before_ts is not None and ts < before_ts)
                 or (drop_key is not None and ts == drop_key.timestamp
                     and tags == drop_tags))
            for ts, tags in zip(t["timestamp"].to_pylist(), t["tags"].to_pylist())]))
        dropped = t.num_rows - kept.num_rows
        if dropped == 0 and len(files) == 1:
            return 0  # nothing to drop, already compact
        final = os.path.join(
            self.path, f"compacted_{time.time():.6f}_{uuid.uuid4().hex[:8]}.parquet")
        if kept.num_rows:
            with atomic_path(final) as tmp:
                pq.write_table(kept, tmp)
        for f in files:
            os.remove(f)
        return dropped

    def as_spark_df(self, spark):
        """Register the whole history for SQL (DataFusionQueryExecutor
        parity): spark.sql over the returned temp view. Committed files
        only: a directory read also serves a crashed compaction's .tmp."""
        files = self._files()
        df = (scan_parquet(spark, *files) if files
              else local_df(spark, [], _SCHEMA))
        df.createOrReplaceTempView("metrics_history")
        return df
