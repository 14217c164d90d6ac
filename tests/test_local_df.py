"""``local_df`` against ``spark.createDataFrame(rows, schema)``: the same
rows and schema for every input shape and column type, as a JVM-only
``LocalRelation`` (no pickled Python RDD behind it)."""

import datetime as dt
from decimal import Decimal

import pytest

from pyspark.sql import Row
from pyspark.sql.types import DataType

from term_spark.session import local_df

DDL = ("l long, i int, d double, m decimal(12,3), s string, b binary, "
       "t boolean, day date, a array<bigint>, mp map<string,double>, "
       "st struct<x:int,y:string>, nest array<struct<p:date,q:decimal(5,1)>>")
NAMES = ["l", "i", "d", "m", "s", "b", "t", "day", "a", "mp", "st", "nest"]
VALUES = [
    (1 << 62, -7, 2.5, Decimal("12.345"), "xé", bytearray(b"\x00\xff"), True,
     dt.date(2024, 2, 29), [1, None, 3], {"k": 1.0, "n": None}, (1, "a"),
     [(dt.date(1970, 1, 1), Decimal("-0.5"))]),
    (None,) * 12,
    (-1, 0, -0.0, Decimal("-1.000"), "", b"", False, dt.date(1, 1, 1), [], {},
     {"y": "q", "x": None}, []),
]


def _shape(kind, spark):
    if kind == "tuple":
        return list(VALUES)
    if kind == "dict":  # keys in reverse schema order: mapped by name
        return [dict(reversed(list(zip(NAMES, v)))) for v in VALUES]
    if kind == "row_kw":
        return [Row(**dict(zip(NAMES, v))) for v in VALUES]
    # rows collected from a DataFrame, as most call sites pass them
    return spark.createDataFrame(VALUES, DDL).collect()


def _schema(kind):
    return DDL if kind == "ddl" else DataType.fromDDL(DDL)


@pytest.mark.parametrize("schema", ["ddl", "struct"])
@pytest.mark.parametrize("shape", ["tuple", "dict", "row_kw", "collected_row"])
def test_local_df_matches_create_dataframe(spark, shape, schema):
    rows = _shape(shape, spark)
    got = local_df(spark, rows, _schema(schema))
    ref = spark.createDataFrame(rows, _schema(schema))
    assert got.schema == ref.schema
    assert got.collect() == ref.collect()


@pytest.mark.parametrize("schema", ["ddl", "struct"])
def test_local_df_empty_input(spark, schema):
    got = local_df(spark, [], _schema(schema))
    assert got.schema == spark.createDataFrame([], _schema(schema)).schema
    assert got.collect() == []


def test_local_df_accepts_an_iterator(spark):
    rows = iter([(1, "a"), (2, None)])
    assert local_df(spark, rows, "a long, b string").collect() == \
        [Row(a=1, b="a"), Row(a=2, b=None)]


@pytest.mark.parametrize("tz", ["America/Los_Angeles", "Asia/Kolkata"])
def test_local_df_timestamps_under_session_time_zone(spark, tz):
    """TimestampType goes through the internal UTC microseconds
    (naive datetimes read in the driver's local time, as
    ``createDataFrame`` reads them); TIMESTAMP_NTZ keeps the wall
    clock. Both read back the same under a non-UTC session zone."""
    schema = "ts timestamp, ntz timestamp_ntz, tss array<timestamp>"
    utc = dt.timezone.utc
    rows = [
        (dt.datetime(2021, 3, 14, 2, 30), dt.datetime(2021, 3, 14, 2, 30),
         [dt.datetime(2000, 1, 1, tzinfo=utc), None]),
        (dt.datetime(1900, 1, 1, 12, 0, 0, 1), dt.datetime(9999, 12, 31, 23, 59, 59, 999999),
         []),
        (dt.datetime(2024, 6, 1, 8, tzinfo=dt.timezone(dt.timedelta(hours=5))), None, None),
    ]
    old = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", tz)
    try:
        got = local_df(spark, rows, schema)
        ref = spark.createDataFrame(rows, schema)
        assert got.schema == ref.schema
        assert got.collect() == ref.collect()
        # the values as the session zone renders them, not only as
        # Python datetimes
        assert got.selectExpr("cast(ts as string)", "cast(ntz as string)").collect() == \
            ref.selectExpr("cast(ts as string)", "cast(ntz as string)").collect()
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)


def test_local_df_rescales_decimals_half_up(spark):
    """Arrow refuses a lossy decimal rescale; the row path rounds
    HALF_UP (the JVM's ``Decimal.set``), at any depth."""
    schema = "m decimal(6,2), a array<decimal(4,1)>"
    rows = [(Decimal("1.555"), [Decimal("0.25"), Decimal("-0.25")]),
            (Decimal("-1.555"), [Decimal("7")]),
            (Decimal("3"), None)]
    got = local_df(spark, rows, schema).collect()
    assert got == spark.createDataFrame(rows, schema).collect()
    assert got[0]["m"] == Decimal("1.56") and got[1]["m"] == Decimal("-1.56")


def test_local_df_rejects_what_create_dataframe_rejects(spark):
    """Rows are checked by PySpark's own verifier, and now eagerly: the
    row path raised only when a worker evaluated the rows."""
    with pytest.raises(TypeError):
        local_df(spark, [(1,)], "d double")     # an int is not a double
    with pytest.raises(ValueError):
        local_df(spark, [(1, 2)], "a long")     # wrong arity
    with pytest.raises(TypeError):
        # Row(**kw) maps by position, as createDataFrame maps it
        local_df(spark, [Row(b="q", a=1)], "a long, b string")


@pytest.mark.parametrize("ddl, value, null", [
    ("map<string,timestamp>", {"a": dt.datetime(2024, 1, 1, 12)}, None),
    ("map<string,array<int>>", {"a": [1, None]}, None),
    ("struct<x:map<string,timestamp>>", ({"a": dt.datetime(2024, 1, 1)},),
     (None,)),
])
def test_local_df_keeps_or_refuses_a_null_map(spark, ddl, value, null):
    """A NULL map whose keys or values are nested or timestamps: under
    pyarrow < 17 PySpark's Arrow path rebuilds it as ``{}``, so
    ``local_df`` refuses it by column name instead of returning a
    different row than ``createDataFrame``; newer pyarrow keeps it."""
    import pyarrow as pa

    schema = f"k int, m {ddl}"
    rows = [(1, value), (2, null)]
    assert (local_df(spark, rows[:1], schema).collect()
            == spark.createDataFrame(rows[:1], schema).collect())
    if int(pa.__version__.split(".")[0]) < 17:
        with pytest.raises(ValueError, match="'m'"):
            local_df(spark, rows, schema)
    else:
        assert (local_df(spark, rows, schema).collect()
                == spark.createDataFrame(rows, schema).collect())


def test_local_df_plans_a_local_table_scan(spark):
    """The executed plan reads a LocalRelation (``LocalTableScan``); no
    ``Scan ExistingRDD`` of pickled rows, so no Python worker."""
    df = local_df(spark, [(i, str(i)) for i in range(5)], "a long, b string")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan, plan
    assert "ExistingRDD" not in plan, plan
    # the same plan reached through a join keeps it
    joined = df.join(spark.range(3).withColumnRenamed("id", "a"), "a")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan, plan


def test_local_df_reports_its_real_size(spark):
    """A LocalRelation's size statistic is its data; the row path's
    LogicalRDD reports ``spark.sql.defaultSizeInBytes``, so a join
    against it never auto-broadcast."""
    def size(df):
        return int(df._jdf.queryExecution().optimizedPlan().stats()
                   .sizeInBytes())

    rows = [(i,) for i in range(10)]
    assert size(local_df(spark, rows, "a long")) < 1024
    assert size(spark.createDataFrame(rows, "a long")) > 2**40
