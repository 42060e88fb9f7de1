"""Output check: a query's Spark result against its registry DuckDB
oracle over the same input files.

Row count, sorted column names and order-insensitive rows must agree.
Non-float values compare exactly; floats within ``FLOAT_RTOL``.
"""

from __future__ import annotations

import math
from pathlib import Path

import duckdb

# relative tolerance for float cells: a few thousand ulps, so a last-ulp
# difference of an aggregate passes (3483747553.819 vs
# 3483747553.8190002) while one cent on that value does not
FLOAT_RTOL = 1e-12


def oracle_connection(sf_dir: Path, tables) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in tables:
        path = sf_dir / f"{t}.parquet"
        # multi-copy inputs are parquet directories
        src = f"{path}/*.parquet" if path.is_dir() else str(path)
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
    return con


def _cell(v):
    if v is None:
        return None
    if hasattr(v, "item") and getattr(v, "ndim", 0) == 0:  # numpy scalar
        v = v.item()
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return float(int(v)) if v.is_integer() and abs(v) < 2**53 else v
    if hasattr(v, "isoformat"):  # datetime/date: date == midnight timestamp
        s = v.isoformat(sep=" ") if hasattr(v, "hour") else v.isoformat()
        return s.removesuffix(" 00:00:00")
    if isinstance(v, (list, tuple)) or getattr(v, "ndim", 0) >= 1:
        return tuple(_cell(x) for x in list(v))
    return v


def _rows(df) -> tuple[list[str], list[tuple]]:
    cols = sorted(df.columns)
    rows = [tuple(_cell(v) for v in r) for r in df[cols].itertuples(index=False, name=None)]
    return cols, sorted(rows, key=lambda r: repr(tuple(_key(v) for v in r)))


def _key(v):
    # sort key that keeps rows whose floats differ by a few ulps adjacent
    return float(f"{v:.9g}") if isinstance(v, float) else v


def _same(a, b) -> bool:
    numbers = (int, float)
    if (isinstance(a, float) or isinstance(b, float)) and (
        isinstance(a, numbers) and isinstance(b, numbers)
    ):
        return math.isclose(a, b, rel_tol=FLOAT_RTOL, abs_tol=1e-15)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    return a == b


def mismatch(spark_pd, oracle_pd) -> str | None:
    """None when the two results agree, else a one-line reason."""
    if len(spark_pd) != len(oracle_pd):
        return f"row count spark={len(spark_pd)} oracle={len(oracle_pd)}"
    s_cols, s_rows = _rows(spark_pd)
    o_cols, o_rows = _rows(oracle_pd)
    if s_cols != o_cols:
        return f"columns spark={s_cols} oracle={o_cols}"
    for i, (a, b) in enumerate(zip(s_rows, o_rows)):
        if not all(_same(x, y) for x, y in zip(a, b)):
            return f"row {i}: spark={a} oracle={b}"
    return None
