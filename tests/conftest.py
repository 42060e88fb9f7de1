"""Shared fixtures: one tuned local SparkSession per test run, plus a
DuckDB differential-oracle comparator that mirrors the driver's check
(row count + column names + order-insensitive values, but with *exact*
value equality so parity bugs surface here first)."""

from __future__ import annotations

import math
import os

import duckdb
import pytest

from bigdata_deepfakeanalysis_spark.catalog import TABLES

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")
SF_SMALL = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from bigdata_deepfakeanalysis_spark.session import get_spark

    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    spark = get_spark("engine-tests")
    # small data => fewer shuffle partitions keeps test latency sane
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    yield spark


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


def _canon_cell(v):
    """Canonicalize one value for order-insensitive compare."""
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    if isinstance(v, (list, tuple)):
        return tuple(_canon_cell(x) for x in v)
    if hasattr(v, "isoformat"):  # datetime/date: date == midnight-timestamp
        s = v.isoformat(sep=" ") if hasattr(v, "hour") else v.isoformat()
        return s.removesuffix(" 00:00:00")
    if getattr(v, "ndim", 0) >= 1:  # numpy array (DuckDB list column)
        return tuple(_canon_cell(x) for x in v.tolist())
    if hasattr(v, "item"):  # numpy scalar
        return _canon_cell(v.item())
    return v


def _rows(df_pd):
    cols = sorted(df_pd.columns)
    out = []
    for t in df_pd[cols].itertuples(index=False, name=None):
        out.append(tuple(_canon_cell(v) for v in t))
    return cols, sorted(out, key=repr)


def assert_matches_oracle(spark_df, duck_con, sql: str):
    """Driver-style compare: row count, sorted column names, exact
    order-insensitive values."""
    # Hard driver-contract rule (VERDICT r7 finding 1): the REAL
    # driver's canonicalizer crashes on list cells, so no query may
    # return a top-level array/map/struct column. Checked here (covers
    # eager-build queries too) and by the blanket registry scan in
    # test_plan_hygiene.py.
    complex_cols = [
        f.name
        for f in spark_df.schema.fields
        if f.dataType.typeName() in ("array", "map", "struct")
    ]
    assert not complex_cols, (
        f"top-level complex output columns {complex_cols} crash the "
        "driver canonicalizer — string-encode them (concat_ws)"
    )
    spark_pd = spark_df.toPandas()
    oracle_pd = duck_con.execute(sql).fetch_df()

    assert len(spark_pd) == len(oracle_pd), (
        f"row count: spark={len(spark_pd)} oracle={len(oracle_pd)}"
    )
    # one-sided float drift (e.g. a DuckDB HUGEINT sum surfacing as
    # float64 against Spark's int64) survives the value-level compare
    # here (413 == 413.0) but may hash-mismatch in the driver's
    # canonicalization — fail loud so the oracle gets an explicit CAST
    for c in spark_pd.columns:
        if c in oracle_pd.columns:
            sf = str(spark_pd[c].dtype).startswith("float")
            of = str(oracle_pd[c].dtype).startswith("float")
            assert sf == of, (
                f"dtype drift on {c!r}: spark={spark_pd[c].dtype} "
                f"oracle={oracle_pd[c].dtype} — CAST the integer "
                f"aggregate in the oracle (HUGEINT→BIGINT?)"
            )
    s_cols, s_rows = _rows(spark_pd)
    o_cols, o_rows = _rows(oracle_pd)
    assert s_cols == o_cols, f"columns: spark={s_cols} oracle={o_cols}"
    mismatches = [
        (i, a, b) for i, (a, b) in enumerate(zip(s_rows, o_rows)) if a != b
    ]
    assert not mismatches, (
        f"{len(mismatches)} row mismatches; first 3: {mismatches[:3]}"
    )


def jobs_of(spark, fn) -> int:
    """Spark jobs started while ``fn()`` runs, by job-id window (also
    counts jobs of stream threads that a job group would miss)."""
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    before = dag.nextJobId()
    fn()
    return dag.nextJobId() - before


@pytest.fixture(scope="session")
def oracle_check(duck):
    def check(spark_df, sql):
        assert_matches_oracle(spark_df, duck, sql)

    return check
