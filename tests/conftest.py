import os
import sys
from contextlib import contextmanager

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("TERM_SPARK_TEST_SF_DIR", "/root/testdata/sf0.001")


@contextmanager
def conf_override(spark, key, value):
    """Set a conf of the shared session for a ``with`` block, then put
    back the value it had, or unset it if it had none."""
    prior = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if prior is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prior)


@pytest.fixture(scope="session")
def spark():
    from term_spark.session import get_spark

    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    spark = get_spark("term_spark_tests", shuffle_partitions=4, master="local[4]")
    yield spark


@pytest.fixture(scope="session")
def tpch(spark):
    """Driver-provided TPC-H-ish parquet tables at the smallest SF."""
    from term_spark.sources import load_tpch_tables

    return load_tpch_tables(spark, SF_DIR)


@pytest.fixture()
def nulls_df(spark):
    """Fixture B.1 — known null fractions (FIXTURES.md)."""
    rows = [
        (1, "a", "a@x.com", "555-1234", 20, 1.0),
        (2, "b", None, "555-1235", 25, 2.0),
        (3, "c", "c@x.com", None, None, 3.0),
        (4, None, "d@x.com", "555-1237", 40, None),
        (5, "e", "e@x.com", "555-1238", 50, 5.0),
    ]
    return spark.createDataFrame(
        rows, "id long, name string, email string, phone string, age long, score double")


@pytest.fixture()
def dupes_df(spark):
    """Fixture B.2 — known duplicate transaction ids."""
    rows = [
        ("t1", 1, 10.0, "2024-01-01", "ok"),
        ("t2", 2, 20.0, "2024-01-02", "ok"),
        ("t2", 3, 30.0, "2024-01-03", "bad"),
        ("t3", 4, 40.0, "2024-01-04", "ok"),
        ("t4", 5, 50.0, "2024-01-05", "bad"),
        ("t4", 6, 60.0, "2024-01-06", "ok"),
    ]
    return spark.createDataFrame(
        rows,
        "transaction_id string, user_id long, amount double, timestamp string, status string")
