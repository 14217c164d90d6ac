"""Registry correctness check: run every entry in queries() on Spark
and the matching oracle_sql() in DuckDB on the same parquet tables,
then compare row count, column names, and (order-insensitive) values —
exactly, since the query contract guarantees determinism (decimal sums,
rounded float aggregates).  Every oracle-backed query runs on every
test run.

Both sides go through pandas (Spark ``toPandas``, DuckDB ``fetchdf``)
because that is how the driver renders values before hashing — a DuckDB
HUGEINT column renders as float64 ("6.0") against Spark's int64 ("6"),
a drift ``fetchall()``-based comparison can never see (round-2 lesson).
"""

import math
import os

import duckdb
import pandas as pd
import pytest

SF_DIR = os.environ.get("TERM_SPARK_ORACLE_SF_DIR", "/root/testdata/sf0.001")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")
    return con


def _normalize(df: "pd.DataFrame"):
    """Sort columns by name, then rows; stringify cells canonically.

    Floats use full repr (the driver's value-hash is exact — round-1
    lesson); int64 vs float64 column dtypes therefore render "6" vs
    "6.0" and are deliberately NOT unified.  None/NaN/NaT normalize to
    one token so missing-value representation differences between
    pandas object and float columns don't mask a real dtype check.
    """
    columns = list(df.columns)
    idx = sorted(range(len(columns)), key=lambda i: columns[i])
    out = []
    for row in df.itertuples(index=False, name=None):
        vals = []
        for i in idx:
            v = row[i]
            if v is None or (isinstance(v, float) and math.isnan(v)) or v is pd.NaT:
                vals.append("null")
            elif isinstance(v, float):
                vals.append(repr(float(v)))
            else:
                vals.append(str(v))
        out.append(tuple(vals))
    return sorted(out), [columns[i] for i in idx]


def _query_names():
    from term_spark.queries import ORACLES, QUERIES
    assert set(ORACLES) <= set(QUERIES)
    return sorted(ORACLES)


@pytest.mark.parametrize("name", _query_names())
def test_query_matches_oracle(spark, ddb, name):
    from term_spark.queries import ORACLES, QUERIES

    sdf = QUERIES[name](spark, SF_DIR)
    spark_pdf = sdf.toPandas()
    duck_pdf = ddb.execute(ORACLES[name]).fetchdf()

    s_vals, s_cols = _normalize(spark_pdf)
    d_vals, d_cols = _normalize(duck_pdf)

    assert s_cols == d_cols, f"{name}: column names differ {s_cols} vs {d_cols}"
    assert len(s_vals) == len(d_vals), (
        f"{name}: row count {len(s_vals)} vs {len(d_vals)}")
    for i, (sr, dr) in enumerate(zip(s_vals, d_vals)):
        assert sr == dr, f"{name}: row {i} differs\n spark={sr}\n duck ={dr}"
