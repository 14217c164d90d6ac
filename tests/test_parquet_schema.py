"""The driver-side Parquet schema step (``sources.scan_parquet``): the
engine's Parquet reads start no Spark job, and the schema they resolve
is the one Spark's own inference gives, for every layout they meet."""

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from conftest import SF_DIR, conf_override

from term_spark import sources
from term_spark.index_store import IndexStore
from term_spark.sources import parquet_schema, read_parquet, scan_parquet

TABLES = ("customer", "documents", "embeddings", "events", "lineitem",
          "nation", "orders", "part", "region", "supplier")


def _jobs(spark, build):
    """(result of ``build()``, Spark jobs it started)."""
    sc = spark.sparkContext
    group = sc.getLocalProperty("spark.jobGroup.id")
    before = set(sc.statusTracker().getJobIdsForGroup(group))
    out = build()
    return out, len(set(sc.statusTracker().getJobIdsForGroup(group)) - before)


def _same_as_spark(spark, *paths):
    df, jobs = _jobs(spark, lambda: scan_parquet(spark, *paths))
    assert df.schema == spark.read.parquet(*paths).schema
    return jobs


@pytest.mark.parametrize("table", TABLES)
def test_read_parquet_resolves_spark_schema_without_a_job(spark, table):
    path = f"{SF_DIR}/{table}.parquet"
    df, jobs = _jobs(spark, lambda: read_parquet(spark, path))
    assert jobs == 0
    # any option keeps Spark's inference: the same function, inferred
    assert df.schema == read_parquet(spark, path, mergeSchema="false").schema
    assert _same_as_spark(spark, path) == 0


def test_spark_written_directory_and_glob(spark, tmp_path):
    df = spark.sql(
        "SELECT id, CAST(id AS DECIMAL(12, 2)) AS price,"
        " TIMESTAMP'2024-01-01 00:00:00' AS ts, array(id, id) AS xs,"
        " map('k', id) AS m, named_struct('a', id, 'b', 'x') AS s"
        " FROM range(40)").repartition(3)
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    df.write.parquet(a)
    df.withColumn("extra", df.id * 2).write.parquet(b)
    assert os.path.exists(os.path.join(a, "_SUCCESS"))
    assert _same_as_spark(spark, a) == 0
    # the first data file in path order decides, as in Spark
    assert _same_as_spark(spark, b, a) == 0
    assert _same_as_spark(spark, str(tmp_path / "*")) == 0
    assert _same_as_spark(spark, f"{b}/part-*.parquet") == 0


def test_summary_file_wins_over_data_files(spark, tmp_path):
    d = tmp_path / "t"
    d.mkdir()
    pq.write_table(pa.table({"a": [1, 2]}), d / "part-0.parquet")
    pq.write_metadata(pa.schema([("a", pa.int64()), ("b", pa.string())]),
                      d / "_common_metadata")
    assert "b" in parquet_schema(spark, [str(d)]).names
    assert _same_as_spark(spark, str(d)) == 0


def _nanos_file(tmp_path):
    path = str(tmp_path / "ns.parquet")
    pq.write_table(pa.table({
        "id": pa.array([1, 2], pa.int64()),
        "ts": pa.array([1_700_000_000_123_456_789, None],
                       pa.timestamp("ns"))}), path)
    return path


@pytest.mark.parametrize("form", ["path", "file_uri", "glob"])
def test_nanosecond_timestamps(spark, tmp_path, form):
    path = _nanos_file(tmp_path)
    path = {"path": path, "file_uri": f"file://{path}",
            "glob": str(tmp_path / "n*.parquet")}[form]
    assert _same_as_spark(spark, path) == 0
    df, jobs = _jobs(spark, lambda: read_parquet(spark, path))
    assert jobs == 0
    assert df.schema == read_parquet(spark, path, mergeSchema="false").schema
    assert df.schema["ts"].dataType.typeName() == "timestamp"
    assert df.collect()[0]["ts"].microsecond == 123456


def test_nanos_read_sets_the_conf_before_the_schema(spark, tmp_path):
    path = _nanos_file(tmp_path)
    with conf_override(spark, "spark.sql.legacy.parquet.nanosAsLong", "false"):
        df, jobs = _jobs(spark, lambda: read_parquet(spark, path))
        assert jobs == 0
        assert df.schema["ts"].dataType.typeName() == "timestamp"


def _bytes_read(spark, build):
    """Bytes ``build()`` read through Hadoop's local filesystem, on the
    driver and in any job it started."""
    stats = spark.sparkContext._jvm.org.apache.hadoop.fs.FileSystem

    def total():
        local = stats.getGlobalStorageStatistics().get("file")
        return 0 if local is None else local.getLong("bytesRead")

    before = total()
    build()
    return total() - before


def test_one_footer_read_per_read_parquet(spark, tmp_path, monkeypatch):
    path = _nanos_file(tmp_path)
    footer = _bytes_read(spark, lambda: parquet_schema(spark, [path]))
    assert footer > 0
    reads = []
    real = sources._footer
    monkeypatch.setattr(sources, "_footer",
                        lambda *a: reads.append(a) or real(*a))
    assert _bytes_read(spark, lambda: read_parquet(spark, path)) == footer
    # an option keeps Spark's inference, whose job reads the footer again
    assert _bytes_read(spark, lambda: read_parquet(
        spark, path, mergeSchema="false")) == 2 * footer
    assert len(reads) == 2


def test_minhash_index_shards(spark, tmp_path):
    from term_spark.operators.dedup import build_minhash_index

    idx = str(tmp_path / "idx")
    for i, mode in enumerate(("overwrite", "append", "append")):
        docs = spark.createDataFrame(
            [(i, f"document number {i} about parquet footers and schemas")],
            "doc_id long, text string")
        build_minhash_index(docs, idx, mode=mode)
    store = IndexStore(spark, idx)
    assert len(store.shards) == 3
    tables = sorted(os.listdir(os.path.join(idx, store.shards[0])))
    assert tables
    for table in tables:
        df, jobs = _jobs(spark, lambda: store.read(table))
        assert jobs == 0, table
        assert df.schema == spark.read.parquet(*store.paths(table)).schema


def test_partitioned_table_keeps_spark_inference(spark, tmp_path):
    from term_spark.operators.similarity import build_ivf_index

    rows = [(i, [float(i % 4 == j) * 10 for j in range(4)])
            for i in range(32)]
    build_ivf_index(spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"),
        str(tmp_path / "ivf"), n_centroids=4, train_iterations=2)
    store = IndexStore(spark, str(tmp_path / "ivf"))
    paths = store.paths("assignments")
    assert parquet_schema(spark, paths) is None
    schema = store.read("assignments").schema
    assert schema == spark.read.parquet(*paths).schema
    assert "cid" in schema.names


def test_merge_schema_option_keeps_spark_inference(spark, tmp_path):
    d = tmp_path / "m"
    d.mkdir()
    pq.write_table(pa.table({"a": [1]}), d / "part-0.parquet")
    pq.write_table(pa.table({"b": [1]}), d / "part-1.parquet")
    merged = scan_parquet(spark, str(d), mergeSchema="true").schema
    assert sorted(merged.names) == ["a", "b"]
    assert scan_parquet(spark, str(d)).schema.names == ["a"]


def test_repository_sql_view_starts_no_job(spark, tmp_path):
    from term_spark.analyzers.base import MetricValue
    from term_spark.repository import ParquetRepository, ResultKey

    repo = ParquetRepository(str(tmp_path / "repo"))
    for ts in (1.0, 2.0):
        repo.save(ResultKey.of(ts, run=str(ts)),
                  {"size": MetricValue.long(10)})
    df, jobs = _jobs(spark, lambda: repo.as_spark_df(spark))
    assert jobs == 0
    assert df.schema == spark.read.parquet(*repo._files()).schema
    assert df.count() == 2


def _error(read):
    try:
        read()
    except Exception as exc:  # noqa: BLE001 - the class is the assertion
        return type(exc)
    raise AssertionError("read did not fail")


def test_missing_and_empty_paths_raise_sparks_error(spark, tmp_path):
    empty = tmp_path / "empty"
    empty.mkdir()
    for path in (str(tmp_path / "missing"), str(empty)):
        expected = _error(lambda: spark.read.parquet(path))
        assert _error(lambda: scan_parquet(spark, path)) is expected
        assert _error(lambda: read_parquet(spark, path)) is expected
