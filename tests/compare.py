"""Spark-vs-DuckDB result comparison mirroring the driver's t2 gate:
row count + column names + order-insensitive value equality.

Rows are compared exactly (no float tolerance): every query is designed so
both engines produce bit-identical values (rounding at the final
projection, sequential double folds, floor-division epochs).  If a query
can't achieve that, it should not declare an oracle.
"""

from __future__ import annotations

import math
import os
from datetime import date, datetime

import pandas as pd


def _norm_cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return None
        return float(v)
    if isinstance(v, (pd.Timestamp, datetime)):
        ts = pd.Timestamp(v)
        if ts.tzinfo is not None:
            ts = ts.tz_convert("UTC").tz_localize(None)
        return ts.isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if hasattr(v, "item"):  # numpy scalar
        return _norm_cell(v.item())
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return tuple(_norm_cell(x) for x in v)
    return v


def _sort_key_cell(x):
    if x is None:
        return (0, "", "")
    if isinstance(x, bool):
        return (1, "bool", str(x))
    if isinstance(x, (int, float)):
        return (1, "num", repr(float(x)))
    return (1, type(x).__name__, str(x))


def normalize(df: pd.DataFrame) -> list[tuple]:
    cols = sorted(df.columns)
    out = []
    for row in df[cols].itertuples(index=False, name=None):
        norm = tuple(_norm_cell(v) for v in row)
        out.append(norm)
    out.sort(key=lambda r: tuple(_sort_key_cell(x) for x in r))
    return out


def assert_frames_match(spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame, key: str):
    assert len(spark_pdf) == len(duck_pdf), (
        f"{key}: row count {len(spark_pdf)} (spark) != {len(duck_pdf)} (duckdb)")
    assert sorted(spark_pdf.columns) == sorted(duck_pdf.columns), (
        f"{key}: columns {sorted(spark_pdf.columns)} != {sorted(duck_pdf.columns)}")
    s_rows = normalize(spark_pdf)
    d_rows = normalize(duck_pdf)
    mism = [(i, a, b) for i, (a, b) in enumerate(zip(s_rows, d_rows)) if a != b]
    assert not mism, f"{key}: {len(mism)} mismatched rows; first 3: {mism[:3]}"


def duck_over(d: str, *tables: str):
    """A DuckDB connection with one view per planted table under ``d``
    (``<d>/<table>.parquet``, a single file or a Spark-written directory
    of part files), in UTC like the suite's ``duck`` fixture."""
    import duckdb

    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in tables:
        path = f"{d}/{t}.parquet"
        if os.path.isdir(path):
            path = f"{path}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con
