#!/usr/bin/env python
"""Driver-mimic: run __spark_entry__ queries vs DuckDB oracles at sf0.01.

Usage:
    python drive_driver_contract.py [--window-only] [name ...]

No args = the full registry. PASS = "RESULT: N match, 0 mismatch".
"""
import hashlib
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import duckdb
import pandas as pd
from pyspark.sql import SparkSession

from bigdata_deepfakeanalysis_spark.catalog import TABLES

SF = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")


class ComplexCellError(TypeError):
    """A result cell is a list/dict/ndarray — the REAL driver's
    canonicalizer (pandas sort_values over result columns) crashes on
    these (``TypeError: unhashable type: 'list'``, the r7
    q_inverted_index FAIL). The mimic must REJECT them, never
    string-join them, or it green-lights what the driver will crash
    on."""


def assert_driver_sortable(df: pd.DataFrame) -> None:
    """Replicate the REAL driver's canonicalization step (pandas
    ``sort_values`` over all result columns) so ANY cell type it
    cannot sort — not just the list cells canon() rejects — surfaces
    here instead of in the graded round."""
    try:
        df.sort_values(by=list(df.columns))
    except Exception as e:
        raise ComplexCellError(
            f"driver sort_values would crash: {type(e).__name__}: {e}"
        )


def canon(df: pd.DataFrame) -> str:
    df = df.reindex(sorted(df.columns), axis=1)
    rows = []
    for row in df.itertuples(index=False):
        cells = []
        for v in row:
            if isinstance(v, (list, tuple, dict, set)) or (
                v.__class__.__name__ == "ndarray"
            ):
                raise ComplexCellError(
                    f"complex cell {type(v).__name__} — the real driver"
                    " crashes on this; string-encode the column"
                )
            if v is None or (isinstance(v, float) and pd.isna(v)):
                cells.append("NULL")
            elif isinstance(v, float):
                cells.append(str(int(v)) if v == int(v) else f"{v:.9g}")
            else:
                cells.append(str(v))
        rows.append("|".join(cells))
    rows.sort()
    return hashlib.md5("\n".join(rows).encode()).hexdigest()


def main() -> int:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    window_only = "--window-only" in sys.argv
    # --hostile-conf[=N]: after entry()'s session tune, reset
    # spark.sql.shuffle.partitions to an untuned value (default 200,
    # Spark's own default) before running the queries. This reproduces
    # the conf-robustness proof from the r8/r9 coverage ledgers: result
    # hashes must be partition-count-invariant, so a driver session
    # that ignores our tuning cannot flip a grade.
    hostile = None
    for a in sys.argv[1:]:
        if a == "--hostile-conf":
            hostile = 200
        elif a.startswith("--hostile-conf="):
            hostile = int(a.split("=", 1)[1])

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "12g")
        .getOrCreate()
    )
    import __spark_entry__ as entry_mod

    smoke = entry_mod.entry(spark)
    print(f"smoke rows: {smoke.count()}")
    if hostile is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(hostile))
        print(f"hostile-conf: spark.sql.shuffle.partitions={hostile}")

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    names = list(qs)
    if window_only:
        names = names[:50]
    if args:
        names = [n for n in args if n in qs]

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')"
        )

    n_match = n_mismatch = n_rows_only = 0
    for name in names:
        try:
            sdf = qs[name](spark, SF).toPandas()
        except Exception as e:
            print(f"ERR   {name}: {type(e).__name__}: {e}")
            n_mismatch += 1
            continue
        if name not in oracles:
            status = "rows-only" if len(sdf) > 0 else "rows-only EMPTY?"
            print(f"{status:9s} {name}: {len(sdf)} rows")
            n_rows_only += 1
            continue
        try:
            odf = con.execute(oracles[name]).fetch_df()
        except Exception as e:
            print(f"ORACLE-ERR {name}: {e}")
            n_mismatch += 1
            continue
        ok_rows = len(sdf) == len(odf)
        ok_cols = sorted(map(str.lower, sdf.columns)) == sorted(
            map(str.lower, odf.columns)
        )
        sdf.columns = [c.lower() for c in sdf.columns]
        odf.columns = [c.lower() for c in odf.columns]
        try:
            assert_driver_sortable(sdf)
            ok_hash = ok_cols and canon(sdf) == canon(odf)
        except ComplexCellError as e:
            print(f"DRIVER-CRASH {name}: {e}")
            n_mismatch += 1
            continue
        if ok_rows and ok_cols and ok_hash:
            n_match += 1
        else:
            n_mismatch += 1
            print(
                f"MISMATCH {name}: rows {len(sdf)}/{len(odf)}"
                f" cols_ok={ok_cols} hash_ok={ok_hash}"
            )
    print(f"RESULT: {n_match} match, {n_mismatch} mismatch, {n_rows_only} rows-only")
    return 1 if n_mismatch else 0


if __name__ == "__main__":
    sys.exit(main())
