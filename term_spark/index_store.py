"""One on-disk layout for every persisted index.

The persisted tiers (minhash, substring, cdc, bm25, distinct/HLL,
quantile, kmv, ivf, ivfpq) keep their tables through ``IndexStore``;
no other module knows where a table lives or how a write commits::

    {root}/_manifest/v{N}.json  {"format": 1, "params": {...}, "shards": [...]}
    {root}/shard-{hex}/{table}  one Parquet directory per table and shard

Commit: every build, append and compaction writes its tables under a
fresh shard, then writes manifest N+1 to a ``.tmp`` file through the
Hadoop FileSystem and renames it onto ``v{N+1}.json``, a name that
does not exist yet.  ``rename`` reports failure by returning false, so
its result is checked.  ``overwrite`` commits ``[new]``, ``append``
``old + [new]``, ``compact`` the folded tables as the only shard.
Readers open the highest version only, so a write that dies before its
rename leaves the previous index serving: no reader sees a torn shard.
After a commit every ``shard-*`` directory and ``.tmp`` file the
manifest does not name is deleted; old manifests stay, so their
version names are never reused.

Params are pinned at build time: an ``append`` with params other than
the committed ones (compared after a JSON round trip, so set-valued
params are passed sorted) raises before anything is written.  Only a
missing manifest means "no index"; an unreadable one raises.

One writer per index.  A second commit from the same snapshot fails on
the existing version name (checked before the rename, since the local
filesystem's rename replaces files); a commit's GC may delete another
writer's uncommitted shard, and a probe racing a commit may fail.

Reads pass one directory per committed shard to
``sources.scan_parquet``, not file lists: the schema comes from one
driver-side footer read, so a read starts no Spark job, except that
Spark lists more than 32 paths with an extra parallel listing job
(only an index with more than 32 uncompacted appends pays it) and a
``partition_by`` table keeps Spark's schema inference, which types
its partition column.
"""

from __future__ import annotations

import json
import re
import uuid
from typing import Dict, List, Mapping, Optional

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession

from .sources import scan_parquet

FORMAT = 1
_MANIFEST = "_manifest"
_SHARD_PREFIX = "shard-"
_VERSION = re.compile(r"v(\d+)\.json")


class IndexStore:
    """The committed state of the index at ``root``, read once at
    construction; writes commit a new version and advance it."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root.rstrip("/")
        jvm = spark.sparkContext._jvm
        self._path = jvm.org.apache.hadoop.fs.Path
        self._bytes = jvm.org.apache.commons.io.IOUtils.toByteArray
        self._fs = self._path(self.root).getFileSystem(
            spark.sparkContext._jsc.hadoopConfiguration())
        self.version, self._manifest = self._latest()

    # ---- reads --------------------------------------------------------

    def _latest(self):
        """(N, manifest) of the highest committed version; (0, None)
        when nothing was ever committed."""
        mdir = self._path(f"{self.root}/{_MANIFEST}")
        if not self._fs.exists(mdir):
            return 0, None
        found = [_VERSION.fullmatch(st.getPath().getName())
                 for st in self._fs.listStatus(mdir)]
        versions = [int(m.group(1)) for m in found if m]
        if not versions:
            return 0, None
        n = max(versions)
        path = f"{self.root}/{_MANIFEST}/v{n}.json"
        try:
            stream = self._fs.open(self._path(path))
            try:
                manifest = json.loads(bytes(self._bytes(stream)))
            finally:
                stream.close()
            if (not isinstance(manifest, dict)
                    or manifest.get("format") != FORMAT
                    or not isinstance(manifest.get("params"), dict)
                    or not isinstance(manifest.get("shards"), list)):
                raise ValueError(f"not a format-{FORMAT} manifest")
        except (Py4JJavaError, ValueError) as exc:
            raise IOError(f"unreadable index manifest {path}: {exc}") \
                from exc
        return n, manifest

    def _committed(self) -> dict:
        if self._manifest is None:
            raise FileNotFoundError(f"no committed index at {self.root}")
        return self._manifest

    @property
    def params(self) -> dict:
        return self._committed()["params"]

    @property
    def shards(self) -> List[str]:
        return self._committed()["shards"]

    def paths(self, table: str) -> List[str]:
        """One directory per committed shard holding ``table``."""
        return [f"{self.root}/{s}/{table}" for s in self.shards]

    def read(self, table: str) -> DataFrame:
        return scan_parquet(self.spark, *self.paths(table))

    # ---- writes -------------------------------------------------------

    def write(self, tables: Mapping[str, DataFrame], params: dict,
              mode: str = "overwrite",
              partition_by: Optional[Dict[str, str]] = None) -> None:
        """Write ``tables``, in order, as one new shard and commit it;
        ``partition_by`` maps a table to its Parquet partition column."""
        if mode not in ("overwrite", "append"):
            raise ValueError(
                f"mode must be 'overwrite' or 'append', got {mode!r}")
        params = json.loads(json.dumps(params))
        old = self._manifest if mode == "append" else None
        if old is not None and old["params"] != params:
            raise ValueError(
                f"append with {params} onto an index built with "
                f"{old['params']} — params are pinned at build time")
        shards = old["shards"] if old is not None else []
        self._commit(params,
                     shards + [self._write_shard(tables, partition_by)])

    def compact(self, tables: Mapping[str, DataFrame]) -> None:
        """Commit ``tables`` (folded by the caller) as the only shard."""
        params = self._committed()["params"]
        self._commit(params, [self._write_shard(tables)])

    def _write_shard(self, tables, partition_by=None) -> str:
        shard = f"{_SHARD_PREFIX}{uuid.uuid4().hex}"
        for name, df in tables.items():
            writer = df.write
            if partition_by and name in partition_by:
                writer = writer.partitionBy(partition_by[name])
            writer.parquet(f"{self.root}/{shard}/{name}")
        return shard

    def _commit(self, params: dict, shards: List[str]) -> None:
        n = self.version + 1
        manifest = {"format": FORMAT, "params": params, "shards": shards}
        mdir = f"{self.root}/{_MANIFEST}"
        final = self._path(f"{mdir}/v{n}.json")
        tmp = self._path(f"{mdir}/v{n}.json.{uuid.uuid4().hex}.tmp")
        out = self._fs.create(tmp, False)
        try:
            out.write(bytearray(json.dumps(manifest).encode()))
        finally:
            out.close()
        if self._fs.exists(final) or not self._fs.rename(tmp, final):
            self._fs.delete(tmp, False)
            raise IOError(f"could not commit {final}: version {n} "
                          "exists (concurrent writer) or rename failed")
        self.version, self._manifest = n, manifest
        self._gc()

    def _gc(self) -> None:
        keep = set(self._manifest["shards"])
        for st in self._fs.listStatus(self._path(self.root)):
            name = st.getPath().getName()
            if name.startswith(_SHARD_PREFIX) and name not in keep:
                self._fs.delete(st.getPath(), True)
        for st in self._fs.listStatus(self._path(f"{self.root}/{_MANIFEST}")):
            if st.getPath().getName().endswith(".tmp"):
                self._fs.delete(st.getPath(), False)
