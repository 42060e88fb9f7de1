"""Loaders for the driver's parquet tables (TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings — one parquet per table per scale-factor dir.
"""

from __future__ import annotations

import os
import tempfile
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast at ANY scale factor (region
# is 5 rows, nation 25 at every SF; customer/supplier/part scale but stay
# orders of magnitude under the fact tables).
ALWAYS_BROADCAST = ("region", "nation")


# events.ts is parquet TIMESTAMP(NANOS); reading it with this
# user-specified schema forces the physical INT64 through as a long.
# Depending on the Spark build the long comes back as NANOS (legacy
# nanosAsLong behavior) or µs (the 4.x TIMESTAMP_NTZ conversion path) —
# _events_ts_ns normalizes either to exact nanos by magnitude (epoch-µs
# ≈ 1.7e15 vs epoch-ns ≈ 1.7e18; the generator's timestamps are whole
# µs, so µs*1000 is exact).
EVENTS_READ_SCHEMA = (
    "event_id long, ts long, user_id long,"
    " event_type string, value double, props string"
)

_NS_MAGNITUDE = 10**17


def events_select(df: DataFrame) -> DataFrame:
    """Normalize a raw events scan (EVENTS_READ_SCHEMA) to the engine
    shape: µs-truncated ``ts`` timestamp (for window/streaming APIs) +
    exact ``ts_ns`` bigint (for oracle-exact arithmetic)."""
    from pyspark.sql import functions as F

    is_ns = F.col("ts") >= F.lit(_NS_MAGNITUDE)
    # integer div only: float division of epoch-ns longs (≈1.7e18) would
    # round through double above 2^53
    ts_us = F.when(is_ns, F.expr("ts div 1000")).otherwise(F.col("ts"))
    ts_ns = F.when(is_ns, F.col("ts")).otherwise(F.col("ts") * 1000)
    return df.select(
        "event_id",
        F.timestamp_micros(ts_us).alias("ts"),
        ts_ns.alias("ts_ns"),
        "user_id",
        "event_type",
        "value",
        "props",
    )


# Resolved parquet path -> (stamp, schema). A StructType holds no JVM
# handle, so one entry per path serves every session in the process.
_SCHEMAS: dict[str, tuple[tuple, StructType]] = {}


def _stamp(path: str) -> tuple | None:
    """``(name, st_mtime_ns, st_size)`` of the file, or of every entry
    when ``path`` is a directory; None when it does not exist (the
    inference read then raises Spark's own PATH_NOT_FOUND)."""
    try:
        if not os.path.isdir(path):
            st = os.stat(path)
            return ((os.path.basename(path), st.st_mtime_ns, st.st_size),)
        with os.scandir(path) as entries:
            return tuple(
                sorted(
                    (e.name, (st := e.stat()).st_mtime_ns, st.st_size)
                    for e in entries
                )
            )
    except FileNotFoundError:
        return None


def parquet_schema(spark: SparkSession, path: str) -> StructType:
    """The schema Spark infers for the parquet file or directory at
    ``path``, inferred (one Spark job) only when the path is new or its
    stamp changed since the last inference."""
    key = os.path.realpath(path)
    stamp = _stamp(key)
    hit = _SCHEMAS.get(key)
    if hit is not None and hit[0] == stamp:
        return hit[1]
    schema = spark.read.parquet(path).schema
    _SCHEMAS[key] = (stamp, schema)
    return schema


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one table. Column pruning + predicate pushdown reach the
    parquet reader because we return the raw declarative scan.

    The scan reads with a user-specified schema, so it starts no Spark
    job: the schema Spark inferred for the table's path is memoized
    process-wide, keyed on the resolved path and stamped with
    ``(name, st_mtime_ns, st_size)`` of the file, or of every entry of
    a directory. A table rewritten in place changes its stamp and is
    re-inferred. Only the schema is memoized, not the DataFrame, so
    Spark still lists the files on every read, and a read still
    resolves to a cached relation of the same table.

    ``events.ts`` is parquet TIMESTAMP(NANOS), which Spark's native
    timestamp type cannot hold (µs max) — we force the INT64 through as
    a long (see EVENTS_READ_SCHEMA) and expose BOTH the exact ``ts_ns``
    (bigint) and a µs-truncated ``ts`` timestamp. Oracle SQL mirrors the
    truncation with ``make_timestamp(epoch_ns(ts)//1000)``.
    """
    path = f"{sf_dir}/{name}.parquet"
    if name == "events":
        return events_select(
            spark.read.schema(EVENTS_READ_SCHEMA).parquet(path)
        )
    return spark.read.schema(parquet_schema(spark, path)).parquet(path)


# Interpolate into oracle SQL to see the same µs-truncated events table
# that Spark sees (keep trailing-column order irrelevant — oracles select
# explicit columns).
EVENTS_US_CTE = (
    "events_us AS (SELECT event_id,"
    " make_timestamp(epoch_ns(ts)//1000) AS ts,"
    " epoch_ns(ts) AS ts_ns,"
    " user_id, event_type, value, props FROM events)"
)


def staging_dir(name: str) -> Path:
    """Fixture-staging directory for queries that must materialize local
    files (image tree, JSON/CSV round-trips, file-stream source).

    Root is ``$SPARK_GRAFT_STAGING_DIR`` (default: the system temp dir)
    so a sandboxed driver can point staging somewhere writable; the
    queries that stage fixtures register LAST so an unwritable sandbox
    costs only those entries, never the pure-compute coverage."""
    root = Path(
        os.environ.get("SPARK_GRAFT_STAGING_DIR", tempfile.gettempdir())
    )
    d = root / "bigdata_dfa_staging" / name
    d.mkdir(parents=True, exist_ok=True)
    return d


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register all tables as temp views for spark.sql() use."""
    for name in TABLES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)
