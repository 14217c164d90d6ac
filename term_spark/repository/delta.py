"""Delta Lake metrics-repository backend (import-gated).

Parity: /root/reference/term-guard/src/repository/mod.rs:59-151 is the
MetricsRepository trait this implements; the reference persists through
its own storage trait, we target a transactional table format because
that is what a real 100 TB deployment wants under a metrics history:

* ``save`` is a single ACID **append** transaction — concurrent suite
  runs on different clusters can save into the same history without a
  writer lock (Delta's optimistic concurrency resolves append/append
  trivially);
* ``delete``/``retention`` are transactional ``DELETE WHERE`` — no
  read-rewrite-swap window where a concurrent reader sees half a store
  (the ParquetRepository's compaction has exactly that single-process
  constraint);
* old snapshots are reclaimed with ``VACUUM`` instead of hand-rolled
  file surgery.

The backend is gated on ``delta-spark`` exactly like telemetry gates on
OpenTelemetry: importing this module is free, *constructing* the
repository without the package (or a Delta-enabled SparkSession) raises
a clear error. The sandbox has no delta-spark, so the contract tests
skip the Delta row there and run it wherever the package exists; the
schema is byte-identical to ParquetRepository's
(timestamp, tags, metric, kind, value), so a ParquetRepository
directory can be `CONVERT TO DELTA`-ed in place.
"""

from __future__ import annotations

import json
from typing import Mapping, Optional

from ..analyzers.base import MetricValue
from ..session import local_df
from . import _SCHEMA, MetricsRepository, ResultKey, _decode

try:  # import-gated: delta-spark is optional
    from delta.tables import DeltaTable  # type: ignore
    _HAVE_DELTA = True
except ImportError:  # pragma: no cover - sandbox has no delta-spark
    DeltaTable = None
    _HAVE_DELTA = False


def delta_available() -> bool:
    return _HAVE_DELTA


class DeltaRepository(MetricsRepository):
    """MetricsRepository on a Delta table at ``path``.

    Same ResultKey/tags contract as InMemory/Parquet backends; all
    mutations are Delta transactions.  ``retention(before_ts)`` is the
    vacuum-style cleanup: transactional DELETE of rows older than the
    cutoff, then (optionally) VACUUM to reclaim unreferenced files.
    """

    def __init__(self, spark, path: str):
        if not _HAVE_DELTA:
            raise ImportError(
                "DeltaRepository requires the delta-spark package "
                "(pip install delta-spark) and a Delta-enabled "
                "SparkSession (spark.sql.extensions="
                "io.delta.sql.DeltaSparkSessionExtension); falling back "
                "to ParquetRepository keeps the same schema and contract")
        self.spark = spark
        self.path = path

    # ---- write path --------------------------------------------------

    def save(self, key: ResultKey, metrics: Mapping[str, MetricValue]) -> None:
        tags = json.dumps(key.tag_dict, sort_keys=True)
        rows = [(float(key.timestamp), tags, name, v.kind,
                 json.dumps(v.value)) for name, v in metrics.items()]
        (local_df(self.spark, rows, _SCHEMA)
             .write.format("delta").mode("append").save(self.path))

    def delete(self, key: ResultKey) -> None:
        if not DeltaTable.isDeltaTable(self.spark, self.path):
            return
        # predicate as a Column, not an interpolated SQL string: Python
        # !r escaping does not round-trip through Spark's SQL literal
        # parser for tag values containing backslashes/quote mixes —
        # the delete would silently match nothing (review r6)
        import pyspark.sql.functions as F
        tags = json.dumps(key.tag_dict, sort_keys=True)
        (DeltaTable.forPath(self.spark, self.path)
         .delete((F.col("timestamp") == F.lit(float(key.timestamp)))
                 & (F.col("tags") == F.lit(tags))))

    def retention(self, before_ts: float, vacuum_hours: Optional[float] = None) -> None:
        """Drop runs older than ``before_ts`` (transactional DELETE),
        then VACUUM files no snapshot references anymore.  The Delta
        analogue of ParquetRepository.compact(before_ts)."""
        if not DeltaTable.isDeltaTable(self.spark, self.path):
            return
        import pyspark.sql.functions as F
        dt = DeltaTable.forPath(self.spark, self.path)
        dt.delete(F.col("timestamp") < F.lit(float(before_ts)))
        if vacuum_hours is not None:
            dt.vacuum(vacuum_hours)

    # ---- read path ---------------------------------------------------

    def _df(self):
        return self.spark.read.format("delta").load(self.path)

    def _load_all(self):
        """One Spark job per read call, whatever the read."""
        try:
            rows = self._df().collect()
        except Exception:  # table not created yet (no save() ever ran)
            return {}
        return _decode(rows)

    def as_spark_df(self, spark=None):
        """Register the whole history for SQL (same surface as
        ParquetRepository.as_spark_df)."""
        df = self._df()
        df.createOrReplaceTempView("metrics_history")
        return df
