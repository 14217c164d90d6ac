"""Multi-source validation.

Parity:
- MultiSourceValidator (core/multi_source.rs:55-80): register N named
  sources, run suites against the registry; intermediate results
  LRU-bounded. Spark mapping: a dict of DataFrames + optional
  ``.cache()`` pinning with LRU eviction of the pinned set.
"""

from __future__ import annotations

from collections import OrderedDict
from typing import Dict, Mapping, Optional

from .suite import ValidationSuite


class MultiSourceValidator:
    """Registry of named sources + cached-DataFrame LRU.

    ``pin`` caches a source in Spark's block manager (for suites that
    scan the same table repeatedly); the LRU bound unpersists the
    oldest pinned source beyond ``max_cached``.
    """

    def __init__(self, spark, max_cached: int = 8):
        self.spark = spark
        self.tables: Dict[str, "DataFrame"] = {}
        self.max_cached = max_cached
        self._pinned: "OrderedDict[str, DataFrame]" = OrderedDict()

    def register(self, name: str, df) -> "MultiSourceValidator":
        from ..functions.security import validate_identifier
        validate_identifier(name)
        self.tables[name] = df
        return self

    def register_parquet(self, name: str, path: str) -> "MultiSourceValidator":
        from ..sources import read_parquet
        return self.register(name, read_parquet(self.spark, path))

    def register_csv(self, name: str, path: str, **options) -> "MultiSourceValidator":
        from ..sources import read_csv
        return self.register(name, read_csv(self.spark, path, **options))

    def pin(self, name: str) -> "MultiSourceValidator":
        df = self.tables[name]
        df.cache()
        self._pinned[name] = df
        self._pinned.move_to_end(name)
        while len(self._pinned) > self.max_cached:
            _, old = self._pinned.popitem(last=False)
            old.unpersist()
        return self

    def run_suite(self, suite: ValidationSuite):
        return suite.run(self.spark, self.tables)

    def close(self) -> None:
        for df in self._pinned.values():
            df.unpersist()
        self._pinned.clear()
