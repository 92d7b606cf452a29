"""Local replica of the driver's DuckDB-oracle comparison.

Runs a Spark query (through MetaFrame) and its DuckDB oracle SQL over the
same parquet tables, then compares row count, column names, and an
order-insensitive normalized value hash — the same three signals
CORRECTNESS_r{N}.json records. Used by tests/test_oracle.py so mismatches
are caught before the driver runs.
"""

from __future__ import annotations

import datetime
import hashlib
import math
from typing import Tuple

import duckdb

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def duck_connection(sf_dir: str) -> "duckdb.DuckDBPyConnection":
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def _cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NULL"
        return repr(v)
    if isinstance(v, datetime.datetime):
        return v.isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, int):
        return str(v)
    return str(v)


def _normalize(pdf) -> Tuple[int, list, str]:
    cols = sorted(pdf.columns)
    pdf = pdf[cols]
    rows = []
    for tup in pdf.itertuples(index=False, name=None):
        rows.append("\x1f".join(_cell(_topy(v)) for v in tup))
    rows.sort()
    digest = hashlib.sha256("\n".join(rows).encode()).hexdigest()
    return len(rows), cols, digest


def _topy(v):
    """numpy/pandas scalar → plain python (so _cell sees uniform types)."""
    import numpy as np
    import pandas as pd

    if v is None:
        return None
    if isinstance(v, float) and math.isnan(v):
        return None
    if v is pd.NaT:
        return None
    if isinstance(v, np.generic):
        v = v.item()
    if isinstance(v, pd.Timestamp):
        if pd.isna(v):
            return None
        return v.to_pydatetime()
    if isinstance(v, np.ndarray):
        return [_topy(x) for x in v.tolist()]
    return v


def compare(spark_df, con, sql: str) -> dict:
    import pandas as pd  # noqa: F401

    sp = spark_df.toPandas()
    du = con.execute(sql).fetchdf()
    n1, c1, h1 = _normalize(sp)
    n2, c2, h2 = _normalize(du)
    return {
        "rows_spark": n1,
        "rows_duck": n2,
        "rows_match": n1 == n2,
        "cols_spark": c1,
        "cols_duck": c2,
        "cols_match": c1 == c2,
        "hash_match": h1 == h2,
    }
