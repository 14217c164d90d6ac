"""SparkSession factory.

``get_spark`` sets only what differs from Spark's defaults, one reason
per line. Adaptive execution (partition coalescing, skew-join splits)
and sort-merge joins, which can spill, are Spark's defaults and are
left to it.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from contextlib import contextmanager, suppress
from decimal import MAX_PREC, ROUND_HALF_UP, Context, Decimal

from pyspark.sql import SparkSession
from pyspark.sql.types import (ArrayType, DataType, DecimalType, MapType,
                               StructType, TimestampNTZType, TimestampType,
                               _make_type_verifier)

#: The directory holding the ``term_spark`` package, put on the Python
#: workers' path: a script that only ``sys.path.insert``s the repo makes
#: the driver find the package, but workers import by PYTHONPATH/cwd.
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(app_name: str = "term_spark", shuffle_partitions: int = None,
              master: str = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    return (
        SparkSession.builder
        .appName(app_name)
        .master(master or f"local[{cpus}]")
        # one shuffle partition per core instead of Spark's 200
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        # pandas <-> Spark conversions go through Arrow
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Parquet TIMESTAMP(NANOS) columns, which Spark refuses by default,
        # read as longs; sources.read_parquet rebuilds the timestamps
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # local mode: the executors live in the driver JVM
        .config("spark.driver.memory", os.environ.get("TERM_SPARK_DRIVER_MEM", "8g"))
        # nothing reads the UI in batch and test runs
        .config("spark.ui.enabled", "false")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
        .getOrCreate()
    )


@contextmanager
def scratch_dir():
    """A fresh ``term_spark_*`` directory for the life of a ``with`` block.

    The one place that decides how long a scratch index lives: it is
    removed when the block exits, also when the body raises.  A query
    that builds and probes an index in it therefore collects what it
    returns inside the block (``local_df(spark, res.collect(),
    res.schema)``), so no returned plan reads the deleted directory.
    """
    path = tempfile.mkdtemp(prefix="term_spark_")
    try:
        yield path
    finally:
        shutil.rmtree(path, ignore_errors=True)


@contextmanager
def atomic_path(final: str):
    """A ``.tmp`` path to write ``final`` through in a ``with`` block.

    When the block completes, the file replaces ``final`` in one
    ``os.replace``, so readers see the old file or the whole new one.
    When the block raises, the torn ``.tmp`` file is deleted and the
    error re-raised, so a failed write leaves nothing behind.
    """
    tmp = final + ".tmp"
    try:
        yield tmp
        os.replace(tmp, final)
    except BaseException:
        with suppress(FileNotFoundError):
            os.remove(tmp)
        raise


def local_df(spark: SparkSession, rows, schema):
    """Driver-local rows as a one-partition DataFrame backed by a
    ``LocalRelation``.

    Each row is checked and converted by PySpark's own machinery
    (``_make_type_verifier`` and ``StructType.toInternal``, which
    ``createDataFrame`` applies to a list), so tuples, dicts, ``Row``s
    and collected rows map to columns exactly as they do there; a DDL
    ``schema`` is parsed to a ``StructType`` once per call.  The
    columns go to the JVM as one ``pyarrow.Table``, which Spark parses
    into a ``LocalRelation``: evaluation stays in the JVM (a
    ``LocalTableScan``) and no Python worker is forked, whereas a
    pickled RDD of rows made ``pyspark.daemon`` start one that imports
    pyspark again on every evaluation.

    Small driver-side tables are tiny by construction, so the result is
    ``coalesce(1)``-ed to ONE partition: a written ``local_df`` (the
    index compactions) stays one file, no downstream evaluation pays a
    task per slice of a few rows, and a sort over it plans no exchange
    (one partition satisfies every required distribution).

    Size statistics: a ``LocalRelation`` reports its real size, where
    the RDD-backed ``LogicalRDD`` reported
    ``spark.sql.defaultSizeInBytes`` and so never auto-broadcast.  A
    join against a ``local_df`` may now plan as a broadcast-hash join.

    Decimals are rescaled HALF_UP to their type's scale as the JVM's
    ``Decimal.set`` does (Arrow refuses a lossy rescale).  Under
    pyarrow < 17, PySpark's timestamp localisation would turn a NULL
    map whose keys or values are nested or timestamps into an empty
    map, so such a NULL raises a ``ValueError`` naming its column.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    struct = DataType.fromDDL(schema) if isinstance(schema, str) else schema
    verify = _make_type_verifier(struct)
    rescale = _half_up(struct)
    null_maps = []
    if int(pa.__version__.split(".")[0]) < 17:
        null_maps = [(i, f.name, held) for i, f in enumerate(struct.fields)
                     if (held := _holds_lossy_null_map(f.dataType))]
    internal = []
    for row in rows:
        verify(row)
        row = struct.toInternal(row)
        for i, name, held in null_maps:
            if held(row[i]):
                raise ValueError(
                    f"local_df: column {name!r} holds a NULL map that "
                    f"pyarrow {pa.__version__} (< 17) would read back as {{}}")
        internal.append(rescale(row) if rescale else row)
    arrow = to_arrow_schema(struct, error_on_duplicated_field_names_in_struct=True)
    columns = list(zip(*internal)) or [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(col, field.type) for col, field in zip(columns, arrow)],
        schema=arrow)
    return spark.createDataFrame(table, struct).coalesce(1)


def _half_up(dt: DataType):
    """A function rescaling every decimal inside a ``dt`` value, or
    None when ``dt`` holds no decimal."""
    if isinstance(dt, DecimalType):
        quantum, ctx = Decimal(1).scaleb(-dt.scale), Context(prec=MAX_PREC)
        return lambda v: None if v is None else v.quantize(quantum, ROUND_HALF_UP, ctx)
    if isinstance(dt, ArrayType):
        f = _half_up(dt.elementType)
        return f and (lambda v: None if v is None else [f(x) for x in v])
    if isinstance(dt, MapType):
        fk, fv = _half_up(dt.keyType), _half_up(dt.valueType)
        if fk or fv:
            fk, fv = fk or (lambda k: k), fv or (lambda v: v)
            return lambda m: None if m is None else {fk(k): fv(v) for k, v in m.items()}
    if isinstance(dt, StructType):
        fs = [_half_up(f.dataType) for f in dt.fields]
        if any(fs):
            return lambda t: None if t is None else tuple(
                f(x) if f else x for f, x in zip(fs, t))
    return None


def _holds_lossy_null_map(dt: DataType):
    """A predicate telling whether a ``dt`` value (internal form) holds
    a NULL map whose keys or values are nested or timestamps, the maps
    PySpark rebuilds without their null mask under pyarrow < 17; None
    when ``dt`` holds no such map."""
    if isinstance(dt, ArrayType):
        f = _holds_lossy_null_map(dt.elementType)
        return f and (lambda v: v is not None and any(f(x) for x in v))
    if isinstance(dt, MapType):
        fk, fv = _holds_lossy_null_map(dt.keyType), _holds_lossy_null_map(dt.valueType)
        lossy = any(isinstance(t, (ArrayType, MapType, StructType, TimestampType,
                                   TimestampNTZType))
                    for t in (dt.keyType, dt.valueType))
        if lossy or fk or fv:
            fk, fv = fk or (lambda k: False), fv or (lambda v: False)
            return lambda m: lossy if m is None else any(
                fk(k) or fv(v) for k, v in m.items())
    if isinstance(dt, StructType):
        fs = [(i, f) for i, fld in enumerate(dt.fields)
              if (f := _holds_lossy_null_map(fld.dataType))]
        if fs:
            return lambda t: t is not None and any(f(t[i]) for i, f in fs)
    return None
