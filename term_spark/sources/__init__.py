"""Data sources: file readers, cloud URLs, JDBC, joined views, registry.

Parity: /root/reference/term-guard/src/sources/ — CsvSource (csv.rs:76),
JsonSource (json.rs:92), ParquetSource (parquet.rs:65), cloud sources
(cloud.rs:61,266,450 → s3a://, gs://, abfss:// URLs with Hadoop
connector conf), DatabaseSource (database.rs:133 → JDBC), JoinedSource
(joined.rs:37-167 → DataFrame join registered as a temp view).

Spark reads gz/zstd/bz2/lz4/snappy compression natively, matching the
reference's auto-detect (sources/mod.rs:116-150); glob patterns are
native to Hadoop path resolution (sources/mod.rs:167-197).

Parquet schemas come from one driver-side footer read: every engine
Parquet read (read_parquet, IndexStore.read, ParquetRepository's SQL
view, the layout audit) goes through scan_parquet, which reads the
footer Spark's inference would read, with Spark's own code and Hadoop
filesystem, and passes its schema to the reader, so no read starts
Spark's schema-inference job.  read_parquet also names the footer's
TIMESTAMP(NANOS) columns, which Spark refuses by default: they read as
epoch-nanosecond longs (``spark.sql.legacy.parquet.nanosAsLong``) and
come back as microsecond timestamps, for local paths and Hadoop URIs
alike.
"""

from __future__ import annotations

import json
import posixpath
from typing import Dict, List, Optional, Sequence

import pyspark.sql.functions as F
import pyspark.sql.types as T
from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, SparkSession


_SUMMARIES = ("_common_metadata", "_metadata")


def _listed(name: str) -> bool:
    """Whether Spark's file listing keeps ``name``
    (``HadoopFSUtils.shouldFilterOutPathName``)."""
    hidden = ((name.startswith("_") and "=" not in name)
              or name.startswith(".") or name.endswith("._COPYING_"))
    return not hidden or name.startswith(_SUMMARIES)


def _parquet_format(spark: SparkSession):
    jvm = spark.sparkContext._jvm
    return getattr(getattr(
        jvm.org.apache.spark.sql.execution.datasources.parquet,
        "ParquetFileFormat$"), "MODULE$")


def _footer(spark: SparkSession, paths: Sequence[str]):
    """The footer ``spark.read.parquet(*paths)`` infers its schema from,
    read on the driver (a Scala ``Seq`` of one ``Footer``); None where
    only Spark's inference can tell.

    Spark's inference (``ParquetUtils.inferSchema`` with mergeSchema
    off) reads one footer, ``_common_metadata``, else ``_metadata``,
    else the first data file in path order, but reads it inside a
    Spark job.  This lists the paths through the session's Hadoop
    filesystems and reads the same footer in-process with Spark's own
    ``readParquetFootersInParallel``.  A nested layout (a partitioned
    table, whose partition columns Spark types from directory names), a
    missing path, no data file, or a footer the driver cannot read
    returns None, so the caller falls back to Spark's inference and
    Spark raises its own errors.
    """
    jvm = spark.sparkContext._jvm
    try:
        conf = spark._jsparkSession.sessionState().newHadoopConf()
        leaves = {}
        for p in paths:
            path = jvm.org.apache.hadoop.fs.Path(p)
            fs = path.getFileSystem(conf)
            matched = fs.globStatus(path)
            if not matched:
                return None
            for st in matched:
                for leaf in (fs.listStatus(st.getPath()) if st.isDirectory()
                             else [st]):
                    full = leaf.getPath().toString()
                    if not _listed(posixpath.basename(full)):
                        continue
                    if leaf.isDirectory():
                        return None
                    leaves[full] = leaf
        names = sorted(leaves)
        summaries = [n for s in _SUMMARIES for n in names
                     if posixpath.basename(n) == s]
        data = [n for n in names if posixpath.basename(n) not in _SUMMARIES]
        if not data:
            return None
        touch = leaves[(summaries or data)[0]]
        files = jvm.scala.jdk.javaapi.CollectionConverters.asScala(
            jvm.java.util.Collections.singletonList(touch)).toList()
        return _parquet_format(spark).readParquetFootersInParallel(
            conf, files, False)
    except Py4JError:
        return None


def _nanos_columns(footer) -> List[str]:
    """The top-level TIMESTAMP(NANOS) columns of ``footer``."""
    schema = footer.head().getParquetMetadata().getFileMetaData().getSchema()
    if "TIMESTAMP(NANOS" not in schema.toString():  # one py4j call, not 3/field
        return []
    return [f.getName() for f in schema.getFields()
            if str(f.getLogicalTypeAnnotation()).startswith("TIMESTAMP(NANOS")]


def _schema(spark: SparkSession, footer) -> Optional[T.StructType]:
    """Spark's schema of ``footer``: ``readSchema``, the inference's own
    converter, session conf and preference for Spark's row metadata."""
    try:
        schema = _parquet_format(spark).readSchema(
            footer, spark._jsparkSession)
    except Py4JError:
        return None
    if schema.isEmpty():
        return None
    return T.StructType.fromJson(json.loads(schema.get().json()))


def parquet_schema(spark: SparkSession,
                   paths: Sequence[str]) -> Optional[T.StructType]:
    """The schema ``spark.read.parquet(*paths)`` infers, resolved on the
    driver from ``_footer``; None where only Spark's inference can tell."""
    footer = _footer(spark, paths)
    return None if footer is None else _schema(spark, footer)


def _keeps_inference(spark: SparkSession, options) -> bool:
    """Reads with options (``mergeSchema``, path filters) or a
    session-wide ``spark.sql.parquet.mergeSchema`` keep Spark's
    inference."""
    return bool(options) or spark.conf.get(
        "spark.sql.parquet.mergeSchema", "false").lower() == "true"


def _scan(spark: SparkSession, paths: Sequence[str], options,
          footer) -> DataFrame:
    reader = spark.read.options(**options)
    schema = None if footer is None else _schema(spark, footer)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.parquet(*paths)


def scan_parquet(spark: SparkSession, *paths: str, **options) -> DataFrame:
    """``spark.read.options(**options).parquet(*paths)`` with the schema
    from ``parquet_schema``: no schema-inference job, unless the read
    keeps Spark's inference (``_keeps_inference``)."""
    footer = None if _keeps_inference(spark, options) else _footer(spark, paths)
    return _scan(spark, paths, options, footer)


def read_parquet(spark: SparkSession, path: str, **options) -> DataFrame:
    """``scan_parquet`` with TIMESTAMP(NANOS) columns rebuilt as
    microsecond timestamps, from one footer read with or without
    options."""
    footer = _footer(spark, [path])
    nanos = [] if footer is None else _nanos_columns(footer)
    if nanos:
        # before _schema converts the footer, which fails without it
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = _scan(spark, [path], options,
               None if _keeps_inference(spark, options) else footer)
    if nanos:
        df = df.withColumns({c: F.expr(f"timestamp_micros(`{c}` div 1000)")
                             for c in nanos})
    return df


def read_csv(spark: SparkSession, path, header: bool = True,
             infer_schema: bool = True, delimiter: str = ",", **options) -> DataFrame:
    paths = path if isinstance(path, (list, tuple)) else [path]
    return (spark.read
            .option("header", header)
            .option("inferSchema", infer_schema)
            .option("delimiter", delimiter)
            .options(**options)
            .csv(list(paths)))


def read_json(spark: SparkSession, path, multiline: Optional[bool] = None,
              **options) -> DataFrame:
    """NDJSON by default; ``multiline=True`` for JSON-array files
    (format-by-extension in the reference, json.rs:26)."""
    reader = spark.read.options(**options)
    if multiline is None:
        first = path[0] if isinstance(path, (list, tuple)) else path
        multiline = not str(first).endswith((".ndjson", ".jsonl"))
    reader = reader.option("multiLine", bool(multiline))
    paths = path if isinstance(path, (list, tuple)) else [path]
    return reader.json(list(paths))


def read_jdbc(spark: SparkSession, url: str, table: str,
              properties: Optional[Dict[str, str]] = None,
              partition_column: Optional[str] = None,
              lower_bound: Optional[int] = None,
              upper_bound: Optional[int] = None,
              num_partitions: Optional[int] = None,
              **options) -> DataFrame:
    """Generic JDBC read (database.rs:133). Pass ``partition_column``
    (+ optional bounds) to get a partitioned scan — an unpartitioned
    JDBC read is a single task regardless of cluster size. Bounds are
    auto-discovered with a pushed-down MIN/MAX when omitted. For
    dialect defaults use sources.database.{Postgres,MySql,Sqlite}Source."""
    from .database import DatabaseSource
    merged = {**(properties or {}), **options}
    user = merged.pop("user", None)
    password = merged.pop("password", None)
    driver = merged.pop("driver", None)
    src = DatabaseSource(url, table, user=user, password=password,
                         partition_column=partition_column,
                         lower_bound=lower_bound, upper_bound=upper_bound,
                         num_partitions=num_partitions, driver=driver,
                         **merged)
    return src.load(spark)


class JoinedSource:
    """Reusable joined view over two (or more) tables.

    Parity: sources/joined.rs:37-167 — CREATE VIEW l <JOIN> r ON … with
    Inner/Left/Right/Full, additional join stages, optional WHERE.
    """

    _HOW = {"inner": "inner", "left": "left", "right": "right", "full": "full_outer"}

    def __init__(self, left: DataFrame, right: DataFrame, on, how: str = "inner"):
        self._df = left.join(right, on, self._HOW[how.lower()])

    def join(self, other: DataFrame, on, how: str = "inner") -> "JoinedSource":
        self._df = self._df.join(other, on, self._HOW[how.lower()])
        return self

    def where(self, condition: str) -> "JoinedSource":
        from ..functions.security import validate_sql_expression
        self._df = self._df.filter(validate_sql_expression(condition))
        return self

    def df(self) -> DataFrame:
        return self._df

    def register(self, name: str) -> DataFrame:
        from ..functions.security import validate_identifier
        validate_identifier(name)
        self._df.createOrReplaceTempView(name)
        return self._df


def load_tpch_tables(spark: SparkSession, sf_dir: str,
                     names: Sequence[str] = ("region", "nation", "customer",
                                             "supplier", "part", "orders",
                                             "lineitem", "events", "documents",
                                             "embeddings")) -> Dict[str, DataFrame]:
    return {n: read_parquet(spark, f"{sf_dir}/{n}.parquet") for n in names}


# ---------------------------------------------------------------------------
# cloud sources (parity: sources/cloud.rs:61,266,450)
# ---------------------------------------------------------------------------

def configure_s3(spark: SparkSession, access_key: Optional[str] = None,
                 secret_key: Optional[str] = None,
                 session_token: Optional[str] = None,
                 endpoint: Optional[str] = None,
                 region: Optional[str] = None,
                 profile: Optional[str] = None,
                 assume_role_arn: Optional[str] = None,
                 anonymous: bool = False) -> SparkSession:
    """Hadoop-S3A auth conf — one function per S3Auth mode of the
    reference (cloud.rs:30-110):

    - no args → default provider chain (env vars / instance IAM role;
      ``S3Auth::InstanceCredentials``),
    - ``access_key``+``secret_key`` (+``session_token`` for STS) →
      static / temporary credentials (``S3Auth::AccessKey``),
    - ``profile`` → named profile from ~/.aws/credentials
      (``S3Auth::Profile``; the JVM reads AWS_PROFILE),
    - ``assume_role_arn`` → STS assumed role on top of the base chain,
    - ``anonymous`` → public buckets.

    Read with ``read_parquet(spark, "s3a://bucket/path")`` afterwards.
    """
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    if sum((bool(access_key), bool(profile), anonymous)) > 1:
        raise ValueError("pick ONE of access_key / profile / anonymous")
    if access_key and secret_key:
        conf.set("fs.s3a.access.key", access_key)
        conf.set("fs.s3a.secret.key", secret_key)
        if session_token:
            conf.set("fs.s3a.session.token", session_token)
            conf.set("fs.s3a.aws.credentials.provider",
                     "org.apache.hadoop.fs.s3a.TemporaryAWSCredentialsProvider")
    elif profile:
        conf.set("fs.s3a.aws.credentials.provider",
                 "com.amazonaws.auth.profile.ProfileCredentialsProvider")
        spark.conf.set("spark.executorEnv.AWS_PROFILE", profile)
    elif anonymous:
        conf.set("fs.s3a.aws.credentials.provider",
                 "org.apache.hadoop.fs.s3a.AnonymousAWSCredentialsProvider")
    if assume_role_arn:
        conf.set("fs.s3a.assumed.role.arn", assume_role_arn)
        conf.set("fs.s3a.aws.credentials.provider",
                 "org.apache.hadoop.fs.s3a.auth.AssumedRoleCredentialProvider")
    if endpoint:
        conf.set("fs.s3a.endpoint", endpoint)
    if region:
        conf.set("fs.s3a.endpoint.region", region)
    return spark


def configure_gcs(spark: SparkSession,
                  service_account_json: Optional[str] = None,
                  service_account_keyfile: Optional[str] = None) -> SparkSession:
    """GCS connector conf — GcsAuth parity (cloud.rs:243-295):
    default = application-default credentials (``ApplicationDefault``);
    ``service_account_keyfile`` = path to a key file
    (``ServiceAccountKey``); ``service_account_json`` = inline JSON
    (``ServiceAccountJson``)."""
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    conf.set("fs.gs.impl", "com.google.cloud.hadoop.fs.gcs.GoogleHadoopFileSystem")
    keyfile = service_account_keyfile or service_account_json
    if service_account_json and service_account_json.lstrip().startswith("{"):
        # inline JSON: the Hadoop GCS connector only takes a file path,
        # so persist to a private temp file (the reference passes JSON
        # straight to object_store; this is the Hadoop-side equivalent).
        # The conf names the file for the rest of the process, so it is
        # removed at interpreter exit rather than when this call returns.
        import atexit
        import os
        import tempfile
        from pathlib import Path
        fd, path = tempfile.mkstemp(suffix=".json", prefix="gcs_sa_")
        with os.fdopen(fd, "w") as f:
            f.write(service_account_json)
        os.chmod(path, 0o600)
        atexit.register(Path(path).unlink, missing_ok=True)
        keyfile = path
    if keyfile:
        conf.set("google.cloud.auth.service.account.enable", "true")
        conf.set("google.cloud.auth.service.account.json.keyfile", keyfile)
    return spark


from .database import (  # noqa: E402  (re-export; keeps JDBC deps lazy)
    DatabaseSource, MySqlSource, PostgresSource, SqliteSource,
)


def configure_azure(spark: SparkSession, account: str,
                    access_key: Optional[str] = None,
                    sas_token: Optional[str] = None,
                    client_id: Optional[str] = None,
                    client_secret: Optional[str] = None,
                    tenant_id: Optional[str] = None) -> SparkSession:
    """ABFS conf for ``abfss://container@account.dfs.core.windows.net/…``
    — AzureAuth parity (cloud.rs:419-500): ``access_key`` =
    ``AccessKey``; ``sas_token`` = ``SasToken``; ``client_id`` +
    ``client_secret`` + ``tenant_id`` = ``ClientSecret`` (OAuth); none =
    ambient credentials (the reference's ``AzureCli`` mode — managed
    identity / az login on the nodes)."""
    host = f"{account}.dfs.core.windows.net"
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    if sum((bool(access_key), bool(sas_token), bool(client_id))) > 1:
        raise ValueError("pick ONE of access_key / sas_token / client auth")
    if access_key:
        conf.set(f"fs.azure.account.auth.type.{host}", "SharedKey")
        conf.set(f"fs.azure.account.key.{host}", access_key)
    elif sas_token:
        conf.set(f"fs.azure.account.auth.type.{host}", "SAS")
        conf.set(f"fs.azure.sas.fixed.token.{host}", sas_token.lstrip("?"))
        conf.set(f"fs.azure.sas.token.provider.type.{host}",
                 "org.apache.hadoop.fs.azurebfs.sas.FixedSASTokenProvider")
    elif client_id:
        if not (client_secret and tenant_id):
            raise ValueError("client auth needs client_id + client_secret"
                             " + tenant_id")
        conf.set(f"fs.azure.account.auth.type.{host}", "OAuth")
        conf.set(f"fs.azure.account.oauth.provider.type.{host}",
                 "org.apache.hadoop.fs.azurebfs.oauth2.ClientCredsTokenProvider")
        conf.set(f"fs.azure.account.oauth2.client.id.{host}", client_id)
        conf.set(f"fs.azure.account.oauth2.client.secret.{host}", client_secret)
        conf.set(f"fs.azure.account.oauth2.client.endpoint.{host}",
                 f"https://login.microsoftonline.com/{tenant_id}/oauth2/token")
    return spark
