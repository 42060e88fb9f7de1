"""Bucketed tables + shuffle-free co-located joins (SURVEY §2 scale
extension; the reference joins in-process dicts —
``src/compare_xception_featuremaps.py:30-44`` pairs files by stem — so
its "join" never pays a shuffle; at 100 TB the Spark equivalent is a
bucketed join).

The core 100 TB lever: a fact-fact join (lineitem ⋈ orders on orderkey)
normally shuffles BOTH sides every query. Writing both tables bucketed
(``bucketBy(N, key)`` + ``sortBy``) pays that shuffle ONCE at ingest;
every later join on the bucket key is a zero-Exchange sort-merge join —
Catalyst sees the matching ``HashPartitioning(key, N)`` output
partitioning on both scans and elides the shuffle (and with ``sortBy``
the per-bucket sort too). ``tests/test_plans.py`` asserts the physical
plan has no Exchange under the join.

Bucket-count policy at scale: pick N so each bucket of the LARGER table
is ~128-256 MB (100 TB lineitem → ~500k buckets is too many files; in
practice N in the thousands + partitioning by date prunes first). Here
N=8 keeps the sf0.01 fixture tiny.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import parquet_schema, staging_dir, table
from ..registry import query
from .parity import dmul2_sum, dmul2_sum_sql, sort_bounded

_N_BUCKETS = 8


def stage_bucketed(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Write orders + lineitem as bucketed, per-bucket-sorted external
    tables keyed by orderkey (idempotent per session + SF: the catalog
    entry is the marker; data lands under the staging root so a
    sandboxed driver can redirect it via $SPARK_GRAFT_STAGING_DIR)."""
    tag = Path(sf_dir).name.replace(".", "_")
    names = []
    for tbl, key in (("orders", "o_orderkey"), ("lineitem", "l_orderkey")):
        name = f"bkt_{tbl}_{tag}"
        if not spark.catalog.tableExists(name):
            path = staging_dir(f"bucketed_{tag}") / tbl
            if (path / "_SUCCESS").exists():
                # staged files survive across sessions but the catalog
                # entry does not — re-register the existing bucketed
                # layout instead of re-paying the ingest write (~5 s at
                # sf0.1 per fresh session). Spark's bucketed file names
                # encode the bucket id, so the DDL's CLUSTERED BY is
                # honored for the written data.
                ddl = parquet_schema(spark, str(path)).toDDL()
                spark.sql(
                    f"CREATE TABLE {name} ({ddl}) USING parquet "
                    f"CLUSTERED BY ({key}) SORTED BY ({key}) "
                    f"INTO {_N_BUCKETS} BUCKETS LOCATION '{path}'"
                )
            else:
                (
                    table(spark, sf_dir, tbl)
                    .write.mode("overwrite")
                    .bucketBy(_N_BUCKETS, key)
                    .sortBy(key)
                    .option("path", str(path))
                    .saveAsTable(name)
                )
        names.append(name)
    return tuple(names)


def bucketed_order_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem ⋈ orders on the shared bucket key, rolled up per order
    priority — the join itself is shuffle-free (both scans expose
    HashPartitioning(orderkey, 8))."""
    orders_t, lineitem_t = stage_bucketed(spark, sf_dir)
    orders = spark.table(orders_t)
    lineitem = spark.table(lineitem_t)
    return (
        lineitem.join(
            orders, F.col("l_orderkey") == F.col("o_orderkey")
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.countDistinct("o_orderkey").alias("n_orders"),
            dmul2_sum("l_extendedprice", "1 - l_discount", "revenue"),
        )
        .transform(sort_bounded, "o_orderpriority")
    )


@query(
    "q_bucketed_join",
    f"""
    SELECT o_orderpriority, COUNT(*) AS n_items,
           COUNT(DISTINCT o_orderkey) AS n_orders,
           {dmul2_sum_sql("l_extendedprice", "1 - l_discount", "revenue")}
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def q_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-free co-located join over bucketed tables; the oracle
    runs the identical join over the plain parquet (bucketing is a
    physical property — results must be identical)."""
    return bucketed_order_revenue(spark, sf_dir)


@query(
    "q_bucketed_agg",
    f"""
    WITH per_order AS (
        SELECT l_orderkey, COUNT(*) AS n_items,
               {dmul2_sum_sql("l_extendedprice", "1 - l_discount",
                              "order_revenue")}
        FROM lineitem GROUP BY l_orderkey)
    SELECT n_items,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(order_revenue AS DECIMAL(21,6))) AS DOUBLE)
               AS total_revenue
    FROM per_order GROUP BY n_items ORDER BY n_items
    """,
)
def q_bucketed_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-free aggregation on the bucket key: lineitem is stored
    bucketed by l_orderkey, so the per-order rollup needs NO Exchange —
    the scan's HashPartitioning(l_orderkey, 8) already satisfies the
    aggregation's distribution requirement, and (with sortBy at write)
    a sort-aggregate can stream each bucket. Only the second, tiny
    rollup (per-order rows -> order-size histogram) shuffles. At 100 TB
    this is the difference between re-shuffling the fact table on every
    per-key rollup and reading pre-clustered buckets; the plan test
    asserts no Exchange below the first aggregate.

    Both engines aggregate the per-order revenue through DECIMAL twice
    (items -> order, orders -> size class), so the doubles hash-match
    regardless of partial-aggregation order."""
    _, lineitem_t = stage_bucketed(spark, sf_dir)
    li = spark.table(lineitem_t)
    per_order = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_items"),
        dmul2_sum("l_extendedprice", "1 - l_discount", "order_revenue"),
    )
    return (
        per_order.groupBy("n_items")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.expr(
                "CAST(SUM(CAST(order_revenue AS DECIMAL(21,6))) AS DOUBLE)"
            ).alias("total_revenue"),
        )
    )


@query(
    "q_bucketed_semi_join",
    """
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(21,6))) AS DOUBLE)
               AS sum_totalprice
    FROM orders
    WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                         WHERE l_discount > 0.05)
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def q_bucketed_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-free EXISTS over bucketed tables — the fourth leg of the
    bucketing story (join elision, agg elision, scan elision, and now
    SEMI-join elision): orders with at least one high-discount item,
    rolled up per priority. Both scans expose HashPartitioning(orderkey,
    8), so the LEFT SEMI sort-merge join (``merge`` hint — at 100 TB
    neither fact side is broadcastable, so the hint encodes the
    production plan rather than letting the toy-SF stats pick broadcast)
    needs no Exchange on either side; the l_discount filter is pushed to
    the lineitem scan and does not disturb the bucket distribution. The
    oracle runs the identical IN-subquery over the plain parquet
    (bucketing is a physical property only)."""
    orders_t, lineitem_t = stage_bucketed(spark, sf_dir)
    orders = spark.table(orders_t)
    hot = (
        spark.table(lineitem_t)
        .where(F.col("l_discount") > 0.05)
        .select("l_orderkey")
        .hint("merge")
    )
    return (
        orders.join(hot, F.col("o_orderkey") == F.col("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.expr(
                "CAST(SUM(CAST(o_totalprice AS DECIMAL(21,6))) AS DOUBLE)"
            ).alias("sum_totalprice"),
        )
        .transform(sort_bounded, "o_orderpriority")
    )


@query(
    "q_bucketed_window_rank",
    """
    WITH ranked AS (
        SELECT l_orderkey, l_returnflag, l_extendedprice,
               ROW_NUMBER() OVER (PARTITION BY l_orderkey
                                  ORDER BY l_linenumber, l_returnflag,
                                           l_extendedprice, l_partkey,
                                           l_suppkey) AS rk
        FROM lineitem)
    SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(21,6))) AS DOUBLE)
               AS first_line_revenue
    FROM ranked WHERE rk = 1
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def q_bucketed_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-free window function over a bucketed scan — the fifth
    leg of the bucketing story: ROW_NUMBER partitioned by the bucket
    key needs HashPartitioning(l_orderkey, 8), which the bucketed scan
    already provides, so the per-order line ranking runs with NO
    Exchange below the Window (only an in-partition sort on
    (orderkey, linenumber) — the write's sortBy(orderkey) pre-orders
    the major key). At 100 TB this is every per-entity sequence
    operator (sessionization, first-touch, dedup-keep-first) running
    without re-shuffling the fact table. First line item per order,
    rolled up per return flag; the oracle runs the identical window
    over the plain parquet."""
    _, lineitem_t = stage_bucketed(spark, sf_dir)
    from pyspark.sql.window import Window

    li = spark.table(lineitem_t)
    # (orderkey, linenumber) is NOT unique in the synthetic lineitem —
    # the tie-break covers every emitted column so rows tying on the
    # full key are interchangeable and both engines pick the same values
    w = Window.partitionBy("l_orderkey").orderBy(
        "l_linenumber", "l_returnflag", "l_extendedprice",
        "l_partkey", "l_suppkey",
    )
    ranked = li.select(
        "l_orderkey",
        "l_returnflag",
        "l_extendedprice",
        F.row_number().over(w).alias("rk"),
    )
    return (
        ranked.where(F.col("rk") == 1)
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.expr(
                "CAST(SUM(CAST(l_extendedprice AS DECIMAL(21,6))) AS DOUBLE)"
            ).alias("first_line_revenue"),
        )
        .transform(sort_bounded, "l_returnflag")
    )


_LOOKUP_KEYS = (1, 7, 32, 69)


@query(
    "q_bucket_pruned_lookup",
    f"""
    SELECT CAST(l_orderkey AS BIGINT) AS l_orderkey,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           {dmul2_sum_sql("l_extendedprice", "1 - l_discount", "revenue")}
    FROM lineitem
    WHERE l_orderkey IN ({", ".join(str(k) for k in _LOOKUP_KEYS)})
    GROUP BY l_orderkey
    ORDER BY l_orderkey
    """,
)
def q_bucket_pruned_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket-pruned point lookup: an IN-list predicate on the bucket
    key lets Spark skip every bucket file whose hash(key) doesn't match
    — the scan reads <= len(keys) of the {_N_BUCKETS} buckets (the plan
    shows ``SelectedBucketsCount``; asserted in tests/test_plans.py).

    This is the third leg of the bucketing story (join elision in
    q_bucketed_join, shuffle elision in q_bucketed_agg, SCAN elision
    here): at 100 TB a needle-in-haystack key lookup over a bucketed
    fact table touches 1/N of the files with zero shuffle — the
    hashtable-probe idiom the reference gets for free from in-process
    dicts (``src/compare_xception_featuremaps.py:30-44``), re-expressed
    as physical layout. The oracle runs the identical filter over the
    plain parquet (bucketing is a physical property only)."""
    _, lineitem_t = stage_bucketed(spark, sf_dir)
    li = spark.table(lineitem_t).where(
        F.col("l_orderkey").isin(*_LOOKUP_KEYS)
    )
    return (
        li.groupBy(F.col("l_orderkey").cast("bigint").alias("l_orderkey"))
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dmul2_sum("l_extendedprice", "1 - l_discount", "revenue"),
        )
    )


_N_BUCKETS_SMALL = 4


def stage_bucketed_orders4(spark: SparkSession, sf_dir: str) -> str:
    """Stage orders bucketed INTO 4 buckets on
    o_orderkey — deliberately HALF lineitem's bucket count, the
    mixed-bucket layout q_bucket_coalesced_join exercises (same
    idempotent catalog/staging contract as :func:`stage_bucketed`)."""
    tag = Path(sf_dir).name.replace(".", "_")
    name = f"bkt_orders4_{tag}"
    if not spark.catalog.tableExists(name):
        path = staging_dir(f"bucketed4_{tag}") / "orders"
        if (path / "_SUCCESS").exists():
            ddl = parquet_schema(spark, str(path)).toDDL()
            spark.sql(
                f"CREATE TABLE {name} ({ddl}) USING parquet "
                f"CLUSTERED BY (o_orderkey) SORTED BY (o_orderkey) "
                f"INTO {_N_BUCKETS_SMALL} BUCKETS LOCATION '{path}'"
            )
        else:
            (
                table(spark, sf_dir, "orders")
                .write.mode("overwrite")
                .bucketBy(_N_BUCKETS_SMALL, "o_orderkey")
                .sortBy("o_orderkey")
                .option("path", str(path))
                .saveAsTable(name)
            )
    return name


@query(
    "q_bucket_coalesced_join",
    """
    SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(l_quantity AS DECIMAL(21,6))) AS DOUBLE)
               AS sum_qty
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def q_bucket_coalesced_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-free join across MISMATCHED bucket counts — the sixth
    leg of the bucketing story: lineitem is stored in 8 buckets and
    orders in 4 (both on orderkey), and with
    ``spark.sql.bucketing.coalesceBucketsInJoin.enabled`` Catalyst
    coalesces the 8-bucket side to 4 at read (each coalesced task
    reads two bucket files) instead of re-shuffling EITHER side. At
    100 TB this is the layout-evolution case: fact tables bucketed at
    different generations (or a table re-bucketed to 2x as it grew)
    keep joining shuffle-free as long as counts stay in a power-of-2
    ratio — without this, one mismatched ingest forces a full
    re-shuffle of every downstream join. ``merge`` hint as in
    q_bucketed_semi_join (production fact-fact shape, not the toy-SF
    broadcast). Per-status item counts + decimal-exact quantity sum;
    the oracle runs the identical join over plain parquet (bucket
    layout is a physical property only). The coalesce conf is a tuned
    session default (session.py); it is NOT set here so the query has
    no session-wide side effect for untuned callers — the plan test
    asserting ``Coalesced to 4`` enables it locally."""
    _, lineitem_t = stage_bucketed(spark, sf_dir)
    orders4_t = stage_bucketed_orders4(spark, sf_dir)
    li = spark.table(lineitem_t).select("l_orderkey", "l_quantity")
    orders = spark.table(orders4_t).select("o_orderkey", "o_orderstatus")
    return (
        li.hint("merge")
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.countDistinct("o_orderkey").cast("bigint").alias("n_orders"),
            F.expr(
                "CAST(SUM(CAST(l_quantity AS DECIMAL(21,6))) AS DOUBLE)"
            ).alias("sum_qty"),
        )
        .transform(sort_bounded, "o_orderstatus")
    )
