"""DuckDB oracle results for the registry queries, normalized for exact
comparison.

``normalize`` applies the rule of the repository's oracle-parity test:
columns sorted by name, cells rendered canonically (floats by full
``repr``, every missing value as ``"null"``), rows sorted.
"""

from __future__ import annotations

import math

import pandas as pd


def normalize(df: pd.DataFrame):
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


def oracle_results(data_dir: str, tables, queries) -> dict:
    """``{query: normalized DuckDB result}`` over ``data_dir``'s parquet."""
    import duckdb

    from term_spark.queries import ORACLES

    con = duckdb.connect()
    try:
        for t in tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{data_dir}/{t}.parquet')")
        return {q: normalize(con.execute(ORACLES[q]).fetchdf()) for q in queries}
    finally:
        con.close()
