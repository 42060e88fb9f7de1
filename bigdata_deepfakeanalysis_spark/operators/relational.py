"""Phase-1 relational core (SURVEY.md §7.1): scan / filter / project /
join / aggregate / sort / limit / set ops / windows on the TPC-H-ish
driver tables. All Catalyst built-ins — declarative plans so predicate
pushdown, column pruning, join selection and AQE come for free.

Scale notes (100 TB design point):
- region/nation are broadcast always; customer/supplier/part are
  broadcast at test SF and become shuffle-hash/SMJ at cluster scale via
  AQE — we hint broadcast only where the side is *structurally* small.
- Aggregations are partial+final hash aggs (map-side combine) by
  construction of groupBy; no collect()s anywhere.
- Sorts that feed a LIMIT become TakeOrderedAndProject (no full sort).
- Final sorts over results bounded by construction (groupings on
  flags, priorities, nations, segments, ...) use parity.sort_bounded:
  one partition, no range-sampling or range-shuffle job.
- Order is not part of the result contract: the driver compares
  results order-insensitively, so other results end unsorted. A root
  orderBy (a range sort: a sampling job plus a shuffle of the whole
  result) needs an ORDERED_RESULTS reason in
  tests/test_plan_hygiene.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import EVENTS_US_CTE, table
from ..registry import query
from .parity import (
    davg,
    davg_sql,
    dmul2_sum,
    dmul2_sum_sql,
    dsum,
    dsum_sql,
    range_parts,
    sort_bounded,
    stddev_expr,
    stddev_sql,
)

# --------------------------------------------------------------------------
# Flagship: TPC-H-Q5-shaped regional revenue rollup.
# lineitem ⋈ orders ⋈ customer ⋈ nation ⋈ region, date-range + region
# filter, groupBy nation, revenue agg, desc sort.
# --------------------------------------------------------------------------

_REVENUE = "l_extendedprice"
_DISC = "1 - l_discount"


def q5_regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1995-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-01-01"))
    )
    customer = table(spark, sf_dir, "customer")
    nation = table(spark, sf_dir, "nation")
    region = table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")

    return (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        # nation/region: structurally tiny -> explicit broadcast hint
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(dmul2_sum(_REVENUE, _DISC, "revenue"))
        .transform(sort_bounded, F.desc("revenue"), "n_name")
    )


Q5_ORACLE = f"""
SELECT n_name, {dmul2_sum_sql(_REVENUE, _DISC, "revenue")}
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey  = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE o_orderdate >= TIMESTAMP '1995-01-01'
  AND o_orderdate <  TIMESTAMP '1997-01-01'
  AND r_name = 'ASIA'
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""

query("q5_regional_revenue", Q5_ORACLE)(q5_regional_revenue)


# --------------------------------------------------------------------------
# TPC-H-Q1-shaped pricing summary: wide multi-aggregate scan.
# --------------------------------------------------------------------------

@query(
    "q1_pricing_summary",
    f"""
    SELECT l_returnflag, l_linestatus,
           {dsum_sql("l_quantity", "sum_qty")},
           {dsum_sql("l_extendedprice", "sum_base_price")},
           {dmul2_sum_sql("l_extendedprice", "1 - l_discount", "sum_disc_price")},
           {davg_sql("l_quantity", "avg_qty")},
           {davg_sql("l_discount", "avg_disc", 6)},
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "lineitem")
        .where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", "sum_qty"),
            dsum("l_extendedprice", "sum_base_price"),
            dmul2_sum("l_extendedprice", "1 - l_discount", "sum_disc_price"),
            davg("l_quantity", "avg_qty"),
            davg("l_discount", "avg_disc", 6),
            F.count(F.lit(1)).alias("count_order"),
        )
        .transform(sort_bounded, "l_returnflag", "l_linestatus")
    )


# --------------------------------------------------------------------------
# Q3-shaped: filter two sides, join, agg, global top-k.
# Catalyst turns orderBy+limit into TakeOrderedAndProject — no full sort.
# --------------------------------------------------------------------------

@query(
    "q3_top_orders",
    f"""
    SELECT l_orderkey,
           {dmul2_sum_sql("l_extendedprice", "1 - l_discount", "revenue")},
           o_orderdate
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1996-03-15'
      AND l_shipdate  > TIMESTAMP '1996-03-15'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q3_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = table(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1996-03-15")
    )
    lineitem = table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1996-03-15")
    )
    return (
        customer.join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .join(lineitem, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate")
        .agg(dmul2_sum("l_extendedprice", "1 - l_discount", "revenue"))
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


# --------------------------------------------------------------------------
# Filter + projection pushdown: the parquet scan must read only 3 columns
# with the predicate pushed (verified in tests via .explain).
# --------------------------------------------------------------------------

@query(
    "q_filter_project",
    """
    SELECT l_orderkey, l_partkey, l_quantity
    FROM lineitem
    WHERE l_quantity > 45 AND l_returnflag = 'R'
    ORDER BY l_orderkey, l_partkey, l_linenumber
    """,
)
def q_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "lineitem")
        .where((F.col("l_quantity") > 45) & (F.col("l_returnflag") == "R"))
        .select("l_orderkey", "l_partkey", "l_quantity")
    )


# --------------------------------------------------------------------------
# Semi / anti joins (SURVEY J6) — customers with / without 1998 orders.
# --------------------------------------------------------------------------

@query(
    "q_semi_join",
    """
    SELECT c_custkey, c_name
    FROM customer
    WHERE c_custkey IN (
        SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01')
    ORDER BY c_custkey
    """,
)
def q_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") >= F.lit("1998-01-01")
    )
    return (
        customer.join(
            orders, F.col("c_custkey") == F.col("o_custkey"), "left_semi"
        )
        .select("c_custkey", "c_name")
    )


@query(
    "q_anti_join",
    """
    SELECT c_custkey, c_acctbal
    FROM customer
    WHERE c_custkey NOT IN (
        SELECT o_custkey FROM orders WHERE o_totalprice > 250000)
    ORDER BY c_custkey
    """,
)
def q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with no large order — non-empty at every SF (a bare
    'no orders at all' anti-join is vacuously empty on this data)."""
    customer = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders").where(
        F.col("o_totalprice") > 250000
    )
    return (
        customer.join(
            orders, F.col("c_custkey") == F.col("o_custkey"), "left_anti"
        )
        .select("c_custkey", "c_acctbal")
    )


# --------------------------------------------------------------------------
# Outer join preserving unmatched rows (left join + conditional count).
# --------------------------------------------------------------------------

@query(
    "q_outer_join_counts",
    """
    SELECT c_custkey, COUNT(o_orderkey) AS n_orders
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey
    ORDER BY c_custkey
    """,
)
def q_outer_join_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    return (
        customer.join(orders, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


# --------------------------------------------------------------------------
# Distinct + exact distinct-count (A10). approx_count_distinct is a
# separate no-oracle query (HLL sketches differ across engines).
# --------------------------------------------------------------------------

@query(
    "q_distinct_count",
    """
    SELECT o_orderpriority,
           COUNT(DISTINCT o_custkey) AS n_customers,
           COUNT(*) AS n_orders
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def q_distinct_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.countDistinct("o_custkey").alias("n_customers"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .transform(sort_bounded, "o_orderpriority")
    )


@query(
    "q_approx_distinct",
    """
    SELECT CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
           CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS exact_supps,
           TRUE AS parts_within_rsd,
           TRUE AS supps_within_rsd
    FROM lineitem
    """,
)
def q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++) next to the exact counts.
    The raw estimates are engine-specific (DuckDB's HLL differs), so
    the driver-checkable contract is: exact counts (recomputed by the
    oracle) plus the default-rsd (5%) error bound holding — a bound
    flag flipping false is a real estimator regression, hash-visible."""
    rsd = 0.05
    agg = table(spark, sf_dir, "lineitem").agg(
        F.approx_count_distinct("l_partkey", rsd).alias("ap"),
        F.approx_count_distinct("l_suppkey", rsd).alias("asu"),
        F.countDistinct("l_partkey").alias("exact_parts"),
        F.countDistinct("l_suppkey").alias("exact_supps"),
    )
    return agg.select(
        "exact_parts",
        "exact_supps",
        (
            F.abs(F.col("ap") - F.col("exact_parts"))
            / F.col("exact_parts")
            <= rsd
        ).alias("parts_within_rsd"),
        (
            F.abs(F.col("asu") - F.col("exact_supps"))
            / F.col("exact_supps")
            <= rsd
        ).alias("supps_within_rsd"),
    )


# --------------------------------------------------------------------------
# ROLLUP / CUBE (A10) — subtotal grids with NULL grouping slots.
# --------------------------------------------------------------------------

@query(
    "q_rollup",
    f"""
    SELECT l_returnflag, l_linestatus,
           {dsum_sql("l_quantity", "sum_qty")},
           COUNT(*) AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
    """,
)
def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(dsum("l_quantity", "sum_qty"), F.count(F.lit(1)).alias("n"))
    )


@query(
    "q_cube",
    f"""
    SELECT l_returnflag, l_linestatus,
           {dsum_sql("l_extendedprice", "sum_price")}
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
    """,
)
def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(dsum("l_extendedprice", "sum_price"))
    )


# --------------------------------------------------------------------------
# Window functions (§2.5): running sum, per-group rank, lag.
# Fully deterministic ordering (unique tiebreaks) => bit-stable.
# --------------------------------------------------------------------------

@query(
    "q_window_running_sum",
    """
    SELECT o_custkey, o_orderkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4)))
                OVER (PARTITION BY o_custkey
                      ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS DOUBLE) AS running_spend
    FROM orders
    WHERE o_custkey <= 100
    ORDER BY o_custkey, o_orderkey
    """,
)
def q_window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    return (
        table(spark, sf_dir, "orders")
        .where(F.col("o_custkey") <= 100)
        .select(
            "o_custkey",
            "o_orderkey",
            "o_orderdate",
            F.expr("CAST(o_totalprice AS DECIMAL(18,4))").alias("_p"),
        )
        .withColumn(
            "running_spend",
            F.sum("_p").over(
                Window.partitionBy("o_custkey")
                .orderBy("o_orderdate", "o_orderkey")
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ).cast("double"),
        )
        .select("o_custkey", "o_orderkey", "running_spend")
    )


@query(
    "q_window_topk_per_group",
    """
    SELECT c_custkey, o_orderkey, o_totalprice, rk
    FROM (
        SELECT c_custkey, o_orderkey, o_totalprice,
               ROW_NUMBER() OVER (PARTITION BY c_custkey
                                  ORDER BY o_totalprice DESC, o_orderkey) AS rk
        FROM customer JOIN orders ON c_custkey = o_custkey
    ) t
    WHERE rk <= 3
    ORDER BY c_custkey, rk
    """,
)
def q_window_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    customer = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    w = Window.partitionBy("c_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        customer.join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .select(
            "c_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).alias("rk"),
        )
        .where(F.col("rk") <= 3)
    )


@query(
    "q_window_lag",
    """
    SELECT o_custkey, o_orderkey,
           datediff('day',
                    LAG(o_orderdate) OVER (PARTITION BY o_custkey
                                           ORDER BY o_orderdate, o_orderkey),
                    o_orderdate) AS days_since_prev
    FROM orders
    WHERE o_custkey <= 50
    ORDER BY o_custkey, o_orderkey
    """,
)
def q_window_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        table(spark, sf_dir, "orders")
        .where(F.col("o_custkey") <= 50)
        .select(
            "o_custkey",
            "o_orderkey",
            F.datediff(
                F.col("o_orderdate"), F.lag("o_orderdate").over(w)
            ).cast("bigint").alias("days_since_prev"),
        )
    )


# --------------------------------------------------------------------------
# Set operations (U1-U4): union / intersect / except on key projections.
# --------------------------------------------------------------------------

@query(
    "q_set_ops",
    """
    WITH big_spenders AS (
        SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 300000),
    building AS (
        SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING')
    SELECT 'intersect' AS op, custkey FROM
        (SELECT DISTINCT custkey FROM big_spenders
         INTERSECT SELECT custkey FROM building) a
    UNION ALL
    SELECT 'except' AS op, custkey FROM
        (SELECT DISTINCT custkey FROM building
         EXCEPT SELECT custkey FROM big_spenders) b
    ORDER BY op, custkey
    """,
)
def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    big = (
        table(spark, sf_dir, "orders")
        .where(F.col("o_totalprice") > 300000)
        .select(F.col("o_custkey").alias("custkey"))
    )
    building = (
        table(spark, sf_dir, "customer")
        .where(F.col("c_mktsegment") == "BUILDING")
        .select(F.col("c_custkey").alias("custkey"))
    )
    inter = (
        big.distinct()
        .intersect(building)
        .select(F.lit("intersect").alias("op"), "custkey")
    )
    exc = (
        building.distinct()
        .exceptAll(big.distinct())
        .select(F.lit("except").alias("op"), "custkey")
    )
    return inter.unionByName(exc)


# --------------------------------------------------------------------------
# Scalar/string/date functions (P11 analogues) on part + orders.
# --------------------------------------------------------------------------

@query(
    "q_string_funcs",
    """
    SELECT p_partkey,
           UPPER(p_brand) AS brand_upper,
           regexp_extract(p_type, '^([A-Z]+)', 1) AS type_head,
           length(p_name) AS name_len,
           CASE WHEN p_size >= 30 THEN 'large'
                WHEN p_size >= 10 THEN 'medium'
                ELSE 'small' END AS size_class
    FROM part
    WHERE p_name LIKE '%steel%' OR p_brand LIKE 'Brand#1%'
    ORDER BY p_partkey
    """,
)
def q_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "part")
        .where(
            F.col("p_name").like("%steel%") | F.col("p_brand").like("Brand#1%")
        )
        .select(
            "p_partkey",
            F.upper("p_brand").alias("brand_upper"),
            F.regexp_extract("p_type", "^([A-Z]+)", 1).alias("type_head"),
            F.length("p_name").alias("name_len"),
            F.when(F.col("p_size") >= 30, "large")
            .when(F.col("p_size") >= 10, "medium")
            .otherwise("small")
            .alias("size_class"),
        )
    )


@query(
    "q_date_funcs",
    """
    SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS order_month,
           EXTRACT(year FROM o_orderdate) AS order_year,
           COUNT(*) AS n_orders
    FROM orders
    GROUP BY 1, 2
    ORDER BY order_month
    """,
)
def q_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "orders")
        .groupBy(
            F.date_format(
                F.date_trunc("month", "o_orderdate"), "yyyy-MM-dd"
            ).alias("order_month"),
            F.year("o_orderdate").cast("bigint").alias("order_year"),
        )
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


@query(
    "q_json_extract",
    """
    SELECT event_type,  -- props JSON never touches ts: plain events view OK
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
               AS sum_k,
           COUNT(*) AS n
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.sum(F.get_json_object("props", "$.k").cast("bigint"))
            .cast("bigint")
            .alias("sum_k"),
            F.count(F.lit(1)).alias("n"),
        )
        .transform(sort_bounded, "event_type")
    )


# --------------------------------------------------------------------------
# Statistical aggregates with decimal-exact formulas (A4/A5 analogues).
# --------------------------------------------------------------------------

@query(
    "q_stats_agg",
    f"""
    SELECT c_mktsegment,
           {davg_sql("c_acctbal", "avg_bal")},
           {stddev_sql("c_acctbal", "std_bal")},
           MIN(c_acctbal) AS min_bal,
           MAX(c_acctbal) AS max_bal,
           COUNT(*) AS n
    FROM customer
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
)
def q_stats_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "customer")
        .groupBy("c_mktsegment")
        .agg(
            davg("c_acctbal", "avg_bal"),
            stddev_expr("c_acctbal", "std_bal", 4),
            F.min("c_acctbal").alias("min_bal"),
            F.max("c_acctbal").alias("max_bal"),
            F.count(F.lit(1)).alias("n"),
        )
        .transform(sort_bounded, "c_mktsegment")
    )


# --------------------------------------------------------------------------
# Correlated-style subquery rewritten as join (supplier above-avg balance
# within nation) — exercises join reuse + HAVING.
# --------------------------------------------------------------------------

@query(
    "q_above_avg_suppliers",
    f"""
    WITH nation_avg AS (
        SELECT s_nationkey, {davg_sql("s_acctbal", "nat_avg")}
        FROM supplier GROUP BY s_nationkey)
    SELECT s.s_suppkey, s.s_name
    FROM supplier s JOIN nation_avg a ON s.s_nationkey = a.s_nationkey
    WHERE s.s_acctbal > a.nat_avg
    ORDER BY s.s_suppkey
    """,
)
def q_above_avg_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    supplier = table(spark, sf_dir, "supplier")
    nation_avg = supplier.groupBy("s_nationkey").agg(davg("s_acctbal", "nat_avg"))
    return (
        supplier.alias("s")
        .join(F.broadcast(nation_avg.alias("a")), "s_nationkey")
        .where(F.col("s_acctbal") > F.col("nat_avg"))
        .select("s_suppkey", "s_name")
    )


# --------------------------------------------------------------------------
# Round-2 relational widening: grouping sets, pivot, exact percentiles,
# correlated EXISTS, and a TPC-H-Q7-shaped two-dimension trade rollup.
# --------------------------------------------------------------------------

@query(
    "q_grouping_sets",
    f"""
    SELECT r_name, o_orderpriority, COUNT(*) AS n,
           {dsum_sql("o_totalprice", "total")}
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY GROUPING SETS ((r_name, o_orderpriority), (r_name), ())
    ORDER BY r_name NULLS FIRST, o_orderpriority NULLS FIRST
    """,
)
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10 — explicit GROUPING SETS (the general form rollup/cube are
    sugar for): per-(region, priority), per-region, and grand-total
    aggregates in one pass (Spark executes a single Expand + hash agg,
    not three scans)."""
    joined = (
        table(spark, sf_dir, "orders")
        .join(
            table(spark, sf_dir, "customer"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(table(spark, sf_dir, "nation")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(table(spark, sf_dir, "region")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
    )
    return (
        joined.groupingSets(
            [["r_name", "o_orderpriority"], ["r_name"], []],
            "r_name",
            "o_orderpriority",
        )
        .agg(F.count(F.lit(1)).alias("n"), dsum("o_totalprice", "total"))
    )


_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


@query(
    "q_pivot",
    f"""
    WITH {EVENTS_US_CTE}
    SELECT strftime(time_bucket(INTERVAL '1 day', ts), '%Y-%m-%d') AS day,
           {", ".join(
               f"COUNT(*) FILTER (event_type = '{t}') AS {t}"
               for t in _EVENT_TYPES
           )}
    FROM events_us
    GROUP BY day ORDER BY day
    """,
)
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: per-day event counts spread into one column per event
    type (explicit value list → deterministic schema, single shuffle;
    the oracle spells the same thing as conditional aggregation)."""
    ev = table(spark, sf_dir, "events")
    wide = (
        ev.groupBy(
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day")
        )
        .pivot("event_type", list(_EVENT_TYPES))
        .count()
    )
    return wide.select(
        "day",
        *[
            F.coalesce(F.col(t), F.lit(0)).cast("bigint").alias(t)
            for t in _EVENT_TYPES
        ],
    )


@query(
    "q_percentiles",
    """
    SELECT l_returnflag,
           ROUND(quantile_cont(l_quantity, 0.25), 9) AS p25,
           ROUND(quantile_cont(l_quantity, 0.50), 9) AS p50,
           ROUND(quantile_cont(l_quantity, 0.75), 9) AS p75
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10 — exact interpolated percentiles (Spark ``percentile`` and
    DuckDB ``quantile_cont`` both implement the R-7 (n-1)p rule, so the
    values agree bit-for-bit after the 1e-9 round)."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.expr(
                "percentile(l_quantity, array(0.25D, 0.50D, 0.75D))"
            ).alias("q")
        )
        .select(
            "l_returnflag",
            F.round(F.element_at("q", 1), 9).alias("p25"),
            F.round(F.element_at("q", 2), 9).alias("p50"),
            F.round(F.element_at("q", 3), 9).alias("p75"),
        )
        .transform(sort_bounded, "l_returnflag")
    )


@query(
    "q_exists_returned",
    """
    SELECT o_orderpriority, COUNT(*) AS n_orders
    FROM orders
    WHERE EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def q_exists_returned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS subquery (TPC-H Q4 shape): orders with at
    least one returned line, counted per priority. Exercises the SQL
    front-end (Catalyst rewrites the EXISTS to a left-semi join — same
    physical plan as the DataFrame semi-join operator)."""
    from ..catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderpriority, COUNT(*) AS n_orders
        FROM orders
        WHERE EXISTS (SELECT 1 FROM lineitem
                      WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
        GROUP BY o_orderpriority
        """
    )


@query(
    "q7_trade_flows",
    f"""
    SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
           CAST(year(o_orderdate) AS INTEGER) AS o_year,
           {dmul2_sum_sql("l_extendedprice", "1 - l_discount", "revenue")}
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation cn ON c_nationkey = cn.n_nationkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation sn ON s_nationkey = sn.n_nationkey
    WHERE sn.n_name < cn.n_name
    GROUP BY sn.n_name, cn.n_name, year(o_orderdate)
    ORDER BY supp_nation, cust_nation, o_year
    """,
)
def q7_trade_flows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q7-shaped trade-flow rollup: 5-way join with nation joined
    TWICE (customer side and supplier side), revenue per (supp_nation,
    cust_nation, year). supplier/nation broadcast; lineitem never
    shuffles for the joins, only for the final aggregate."""
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    customer = table(spark, sf_dir, "customer")
    supplier = table(spark, sf_dir, "supplier")
    nation = table(spark, sf_dir, "nation")
    cn = nation.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    sn = nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .where(F.col("supp_nation") < F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg(dmul2_sum("l_extendedprice", "1 - l_discount", "revenue"))
    )


# --------------------------------------------------------------------------
# TPC-H-Q14-shaped promo revenue ratio: conditional aggregate over a
# dimension join (CASE inside SUM; ratio of two decimal-exact sums).
# --------------------------------------------------------------------------

@query(
    "q14_promo_revenue",
    f"""
    WITH sums AS (
        SELECT
            {dmul2_sum_sql("CASE WHEN p_type = 'PROMO' THEN l_extendedprice ELSE 0 END", "1 - l_discount", "promo_revenue")},
            {dmul2_sum_sql("l_extendedprice", "1 - l_discount", "total_revenue")}
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate <  TIMESTAMP '1996-04-01')
    SELECT promo_revenue, total_revenue,
           ROUND(100.0 * promo_revenue / total_revenue, 9) AS promo_pct
    FROM sums
    """,
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q14 shape: the part dimension broadcasts (it is orders of
    magnitude under lineitem at every SF); the date filter is pushed to
    the lineitem scan; ratio of two order-independent decimal sums."""
    lineitem = table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1996-04-01"))
    )
    part = table(spark, sf_dir, "part")
    promo = "CASE WHEN p_type = 'PROMO' THEN l_extendedprice ELSE 0 END"
    joined = lineitem.join(
        part, F.col("l_partkey") == F.col("p_partkey")
    )
    return joined.agg(
        dmul2_sum(promo, "1 - l_discount", "promo_revenue"),
        dmul2_sum("l_extendedprice", "1 - l_discount", "total_revenue"),
    ).select(
        "promo_revenue",
        "total_revenue",
        F.round(
            100.0 * F.col("promo_revenue") / F.col("total_revenue"), 9
        ).alias("promo_pct"),
    )


# --------------------------------------------------------------------------
# TPC-H-Q19-shaped disjunctive-predicate join: OR-of-conjunctions mixing
# both sides' columns — the planner must keep the equi-join key and
# apply the residual disjunction as a post-join filter.
# --------------------------------------------------------------------------

_Q19_COND = """(
    (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
        AND l_quantity BETWEEN 1 AND 11)
 OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
        AND l_quantity BETWEEN 10 AND 20)
 OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50
        AND l_quantity BETWEEN 20 AND 30))"""


@query(
    "q19_disjunctive_join",
    f"""
    SELECT COUNT(*) AS n_items,
           {dmul2_sum_sql("l_extendedprice", "1 - l_discount", "revenue")}
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE {_Q19_COND}
    """,
)
def q19_disjunctive_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q19 shape: broadcast equi-join on partkey with the OR-of-ANDs as
    a residual; Catalyst pushes the p_brand/p_size disjunction's common
    implications to the part scan."""
    lineitem = table(spark, sf_dir, "lineitem")
    part = table(spark, sf_dir, "part")
    return (
        lineitem.join(
            part, F.col("l_partkey") == F.col("p_partkey")
        )
        .where(F.expr(_Q19_COND))
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dmul2_sum("l_extendedprice", "1 - l_discount", "revenue"),
        )
    )


# --------------------------------------------------------------------------
# Window distribution functions: ntile / percent_rank / cume_dist over
# partitioned frames (rounds out §2.5 beyond rank/lag/frames).
# --------------------------------------------------------------------------

@query(
    "q_window_distribution",
    """
    SELECT c_custkey, c_mktsegment,
           NTILE(4) OVER w AS quartile,
           ROUND(PERCENT_RANK() OVER w, 9) AS pct_rank,
           ROUND(CUME_DIST() OVER w, 9) AS cume
    FROM customer
    WHERE c_custkey < 300
    WINDOW w AS (PARTITION BY c_mktsegment
                 ORDER BY c_acctbal DESC, c_custkey)
    ORDER BY c_custkey
    """,
)
def q_window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions — deterministic total order inside
    each partition (acctbal DESC, custkey tiebreak) so ranks are
    engine-stable; round() guards the percent arithmetic."""
    from pyspark.sql.window import Window as W

    cust = table(spark, sf_dir, "customer").where(F.col("c_custkey") < 300)
    w = W.partitionBy("c_mktsegment").orderBy(
        F.desc("c_acctbal"), "c_custkey"
    )
    return (
        cust.select(
            "c_custkey",
            "c_mktsegment",
            F.ntile(4).over(w).alias("quartile"),
            F.round(F.percent_rank().over(w), 9).alias("pct_rank"),
            F.round(F.cume_dist().over(w), 9).alias("cume"),
        )
    )


# --------------------------------------------------------------------------
# TPC-H-Q13-shaped: orders-per-customer distribution through a FILTERED
# LEFT join (the filter lives in the join condition, not a WHERE — a
# WHERE would turn the outer join inner and drop zero-order customers).
# --------------------------------------------------------------------------

@query(
    "q13_order_count_distribution",
    """
    WITH per_cust AS (
        SELECT c_custkey, COUNT(o_orderkey) AS c_count
        FROM customer LEFT JOIN orders
          ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        GROUP BY c_custkey)
    SELECT c_count, COUNT(*) AS n_custs
    FROM per_cust GROUP BY c_count
    ORDER BY n_custs DESC, c_count DESC
    """,
)
def q13_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: per-customer non-urgent order counts (COUNT of
    a nullable join column keeps zero-order customers at 0), then the
    histogram of those counts. Two aggregations, one outer join;
    customer is the smaller side but must be join LHS to keep its
    unmatched rows — Spark picks a shuffle join and AQE coalesces."""
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    per_cust = (
        cust.join(
            orders,
            (F.col("c_custkey") == F.col("o_custkey"))
            & (F.col("o_orderpriority") != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("n_custs"))
    )


# --------------------------------------------------------------------------
# TPC-H-Q18-shaped: large-volume orders (HAVING over a decimal-exact
# quantity sum gates the join back to orders + customer).
# --------------------------------------------------------------------------

@query(
    "q18_large_volume_orders",
    """
    WITH big AS (
        SELECT l_orderkey,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)
                   AS qty_sum
        FROM lineitem GROUP BY l_orderkey
        HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) > 250)
    SELECT c_name, c_custkey, o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS o_date,
           o_totalprice, qty_sum
    FROM big
    JOIN orders ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    ORDER BY qty_sum DESC, o_orderkey
    """,
)
def q18_large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: aggregate lineitem per order, HAVING-gate to
    the heavy tail (~1% of orders), then join the small survivor set
    back to orders and customer. The gate runs FIRST so the joins see
    only survivors — at 100 TB the HAVING output is broadcastable and
    neither fact table shuffles for the join."""
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(dsum("l_quantity", "qty_sum"))
        .where(F.col("qty_sum") > 250)
    )
    return (
        big
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(cust, F.col("c_custkey") == F.col("o_custkey"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_date"),
            "o_totalprice",
            "qty_sum",
        )
    )


# --------------------------------------------------------------------------
# TPC-H-Q22-shaped: dormant high-balance customers — scalar subquery
# (decimal-exact average) + anti join on recent orders, per-nation
# rollup.
# --------------------------------------------------------------------------

@query(
    "q22_dormant_customers",
    """
    WITH avg_bal AS (
        SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE)
               / COUNT(*) AS v
        FROM customer WHERE c_acctbal > 0),
    dormant AS (
        SELECT c_custkey, c_nationkey, c_acctbal
        FROM customer, avg_bal
        WHERE c_acctbal > v
          AND NOT EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey
                            AND o_orderdate >= DATE '1998-01-01'))
    SELECT n_name,
           COUNT(*) AS n_custs,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE)
               AS total_bal
    FROM dormant JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name ORDER BY n_name
    """,
)
def q22_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: above-average-balance customers with no orders
    since 1998 — scalar aggregate subquery (decimal-exact mean: both
    engines divide the same exact sum by the same count), anti join
    against the filtered orders (the date filter pushes to the orders
    scan), per-nation rollup over a broadcast dim."""
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    nation = table(spark, sf_dir, "nation")
    avg_bal = cust.where(F.col("c_acctbal") > 0).agg(
        (
            F.expr(
                "CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE)"
            )
            / F.count(F.lit(1))
        ).alias("v")
    )
    recent = orders.where(F.col("o_orderdate") >= "1998-01-01").select(
        F.col("o_custkey")
    )
    dormant = (
        cust.join(F.broadcast(avg_bal))
        .where(F.col("c_acctbal") > F.col("v"))
        .join(recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
    )
    return (
        dormant.join(
            F.broadcast(nation),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_custs"),
            F.expr(
                "CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE)"
            ).alias("total_bal"),
        )
        .transform(sort_bounded, "n_name")
    )


# --------------------------------------------------------------------------
# TPC-H-Q17-shaped: small-quantity-order revenue — correlated scalar
# subquery (per-part average quantity) rewritten as an aggregate +
# self-join, decimal-exact so the 0.2*avg threshold compares
# identically on both engines.
# --------------------------------------------------------------------------

@query(
    "q17_small_quantity_revenue",
    """
    WITH part_avg AS (
        SELECT l_partkey,
               0.2 * (CAST(SUM(CAST(l_quantity AS DECIMAL(18,4)))
                           AS DOUBLE) / COUNT(*)) AS qty_cut
        FROM lineitem GROUP BY l_partkey)
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
           / 7.0 AS avg_yearly,
           COUNT(*) AS n_lines
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN part_avg ON part_avg.l_partkey = lineitem.l_partkey
    WHERE p_brand = 'Brand#4' AND l_quantity < qty_cut
    """,
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue from orders below 20% of their part's
    average quantity. The correlated subquery is the aggregate
    part_avg joined back to lineitem (exactly Catalyst's decorrelation
    rewrite, stated explicitly); the mean is decimal-exact-sum /
    count so the strict < threshold can never flip between engines.
    At scale: part_avg is one partial-agg shuffle keyed like the join
    that consumes it, and the brand filter pushes to the part scan."""
    li = table(spark, sf_dir, "lineitem")
    part = table(spark, sf_dir, "part")
    part_avg = li.groupBy(F.col("l_partkey").alias("pa_partkey")).agg(
        (
            F.lit(0.2)
            * (
                F.expr(
                    "CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)"
                )
                / F.count(F.lit(1))
            )
        ).alias("qty_cut")
    )
    return (
        li.join(
            part.where(F.col("p_brand") == "Brand#4"),
            F.col("p_partkey") == F.col("l_partkey"),
        )
        .join(part_avg, F.col("pa_partkey") == F.col("l_partkey"))
        .where(F.col("l_quantity") < F.col("qty_cut"))
        .agg(
            (
                F.expr(
                    "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)))"
                    " AS DOUBLE)"
                )
                / 7.0
            ).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


# --------------------------------------------------------------------------
# TPC-H-Q6-shaped: forecast-revenue-change — pure scan + conjunctive
# filter + scalar aggregate. The whole query is one codegen'd stage
# with every predicate pushed to the parquet scan.
# --------------------------------------------------------------------------

@query(
    "q6_forecast_revenue",
    f"""
    SELECT {dmul2_sum_sql("l_extendedprice", "l_discount", "revenue")},
           COUNT(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount >= 0.05 AND l_discount <= 0.07
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: revenue left on the table by discounts — a
    filter so selective the scan IS the query. All four predicates
    push down to the parquet reader (min/max row-group pruning at
    scale); no shuffle at all, one partial+final scalar agg."""
    return (
        table(spark, sf_dir, "lineitem")
        .where(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1997-01-01"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            dmul2_sum("l_extendedprice", "l_discount", "revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


# --------------------------------------------------------------------------
# TPC-H-Q8-shaped: national market share — 7-way join (nation twice),
# conditional decimal aggregate ratio per year.
# --------------------------------------------------------------------------

@query(
    "q8_market_share",
    """
    WITH vol AS (
        SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS o_year,
               CAST(l_extendedprice AS DECIMAL(18,4)) *
               CAST(1 - l_discount AS DECIMAL(18,4)) AS volume,
               n2.n_name AS supp_nation
        FROM lineitem
        JOIN part     ON p_partkey = l_partkey
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN orders   ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey
        JOIN nation n1 ON c_nationkey = n1.n_nationkey
        JOIN region   ON n1.n_regionkey = r_regionkey
        JOIN nation n2 ON s_nationkey = n2.n_nationkey
        WHERE r_name = 'ASIA' AND p_type = 'PROMO'
          AND o_orderdate >= TIMESTAMP '1995-01-01'
          AND o_orderdate <  TIMESTAMP '1997-01-01')
    SELECT o_year,
           COALESCE(CAST(SUM(CASE WHEN supp_nation = 'NATION_7'
                                  THEN volume END) AS DOUBLE), 0.0)
           / CAST(SUM(volume) AS DOUBLE) AS mkt_share,
           COUNT(*) AS n_lines
    FROM vol GROUP BY o_year ORDER BY o_year
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: NATION_7's share of PROMO-part revenue sold to
    ASIA customers, per year. Nation joins twice under different roles
    (customer's nation restricts the region; supplier's nation feeds
    the CASE numerator). Sums stay DECIMAL until the final division of
    two identical-on-both-engines doubles, so the ratio is bit-stable.
    At scale: nation/region carry the explicit broadcast hint (25/5
    rows at ANY SF — structurally constant); part/supplier broadcast
    via the autoBroadcastJoinThreshold while they fit and gracefully
    fall back to shuffle joins at extreme SF (late-r9: the forced
    hints on SF-scaling dimensions were removed — a forced broadcast
    cannot adapt and OOMs at 100×); lineitem⋈orders is the only
    always-big shuffle and AQE handles its skew."""
    li = table(spark, sf_dir, "lineitem")
    part = table(spark, sf_dir, "part").where(F.col("p_type") == "PROMO")
    supp = table(spark, sf_dir, "supplier")
    orders = table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1995-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-01-01"))
    )
    cust = table(spark, sf_dir, "customer")
    n1 = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nkey"),
        F.col("n_regionkey").alias("c_rkey"),
    )
    n2 = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nkey"),
        F.col("n_name").alias("supp_nation"),
    )
    region = table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    vol = (
        li.join(part, F.col("p_partkey") == F.col("l_partkey"))
        .join(supp, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(cust, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("c_nkey"))
        .join(F.broadcast(region), F.col("c_rkey") == F.col("r_regionkey"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("s_nkey"))
        .select(
            F.year("o_orderdate").cast("int").alias("o_year"),
            F.expr(
                "CAST(l_extendedprice AS DECIMAL(18,4)) *"
                " CAST(1 - l_discount AS DECIMAL(18,4))"
            ).alias("volume"),
            "supp_nation",
        )
    )
    return (
        vol.groupBy("o_year")
        .agg(
            (
                F.coalesce(
                    F.expr(
                        "CAST(SUM(CASE WHEN supp_nation = 'NATION_7'"
                        " THEN volume END) AS DOUBLE)"
                    ),
                    F.lit(0.0),
                )
                / F.expr("CAST(SUM(volume) AS DOUBLE)")
            ).alias("mkt_share"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


# --------------------------------------------------------------------------
# TPC-H-Q9-shaped (adapted: no partsupp table in the driver schema, so
# profit = revenue rather than revenue - supplycost*qty): product-line
# profit by supplier nation × order year.
# --------------------------------------------------------------------------

@query(
    "q9_product_profit",
    f"""
    SELECT n_name AS supp_nation,
           CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS o_year,
           {dmul2_sum_sql("l_extendedprice", "1 - l_discount", "profit")}
    FROM lineitem
    JOIN part     ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN nation   ON s_nationkey = n_nationkey
    WHERE p_name LIKE '%red%'
    GROUP BY supp_nation, o_year
    ORDER BY supp_nation, o_year DESC
    """,
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (partsupp-less adaptation, documented): revenue
    attributed to red parts, rolled up by supplier nation and year.
    The LIKE filter prunes part before the broadcast; orders joins on
    the fact's own orderkey so only one big-table shuffle exists."""
    li = table(spark, sf_dir, "lineitem")
    part = table(spark, sf_dir, "part").where(F.col("p_name").like("%red%"))
    supp = table(spark, sf_dir, "supplier")
    orders = table(spark, sf_dir, "orders")
    nation = table(spark, sf_dir, "nation")
    return (
        li.join(part, F.col("p_partkey") == F.col("l_partkey"))
        .join(supp, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(
            F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey")
        )
        .groupBy(
            F.col("n_name").alias("supp_nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg(dmul2_sum("l_extendedprice", "1 - l_discount", "profit"))
    )


# --------------------------------------------------------------------------
# TPC-H-Q10-shaped: returned-item revenue per customer, global top-20.
# --------------------------------------------------------------------------

@query(
    "q10_returned_items",
    f"""
    SELECT c_custkey, c_name,
           {dmul2_sum_sql("l_extendedprice", "1 - l_discount", "revenue")},
           c_acctbal, n_name
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1996-04-01'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: customers who returned the most revenue in a
    quarter. Decimal-exact revenue makes the top-20 cut deterministic
    (ties break on c_custkey identically in both engines); the final
    sort+limit becomes TakeOrderedAndProject — no global sort."""
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1996-04-01"))
    )
    li = table(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    nation = table(spark, sf_dir, "nation")
    return (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey")
        )
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(dmul2_sum("l_extendedprice", "1 - l_discount", "revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


# --------------------------------------------------------------------------
# TPC-H-Q12-shaped (adapted: driver lineitem has no l_shipmode, so the
# line status plays the shipmode role): late-shipment priority counts —
# equi join + theta residual (l_shipdate > o_orderdate) + conditional
# integer aggregate.
# --------------------------------------------------------------------------

@query(
    "q12_priority_lines",
    """
    SELECT l_linestatus,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_shipdate > o_orderdate
    GROUP BY l_linestatus ORDER BY l_linestatus
    """,
)
def q12_priority_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (shipmode→linestatus adaptation, documented):
    count urgent vs non-urgent order lines shipped in 1996 strictly
    after their order date. The theta predicate rides as a residual on
    the equi hash join — no nested-loop fallback; integer CASE sums
    are exact on any engine."""
    orders = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        orders.join(
            li,
            (F.col("o_orderkey") == F.col("l_orderkey"))
            & (F.col("l_shipdate") > F.col("o_orderdate")),
        )
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
        .transform(sort_bounded, "l_linestatus")
    )


# --------------------------------------------------------------------------
# TPC-H-Q15-shaped: top supplier by quarterly revenue — aggregate view
# + scalar-max subquery + equality join back to the dimension.
# --------------------------------------------------------------------------

@query(
    "q15_top_supplier",
    f"""
    WITH rev AS (
        SELECT l_suppkey AS supplier_no,
               {dmul2_sum_sql("l_extendedprice", "1 - l_discount",
                              "total_revenue")}
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate <  TIMESTAMP '1996-04-01'
        GROUP BY l_suppkey)
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN rev ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
    ORDER BY s_suppkey
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: supplier(s) hitting the quarter's max revenue.
    The revenue view aggregates once and is consumed twice (per-row
    and scalar MAX); the decimal-exact sum makes the float equality
    against the max legitimate — both engines derive both sides from
    the identical decimal. At scale rev is tiny (one row per supplier)
    so the max is a broadcast scalar, not a second fact scan."""
    li = table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1996-04-01"))
    )
    supp = table(spark, sf_dir, "supplier")
    rev = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        dmul2_sum("l_extendedprice", "1 - l_discount", "total_revenue")
    )
    max_rev = rev.agg(F.max("total_revenue").alias("mr"))
    return (
        supp.join(rev, F.col("s_suppkey") == F.col("supplier_no"))
        .join(F.broadcast(max_rev))
        .where(F.col("total_revenue") == F.col("mr"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


# --------------------------------------------------------------------------
# TPC-H-Q16-shaped (adapted: lineitem is the part↔supplier bridge in
# place of partsupp): supplier-count per part attribute triple, with a
# NOT IN exclusion on negative-balance suppliers.
# --------------------------------------------------------------------------

@query(
    "q16_supplier_part_counts",
    """
    SELECT p_brand, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#5' AND p_type <> 'PROMO'
      AND p_size IN (1, 4, 9, 14, 19, 24, 29, 34, 39, 44)
      AND l_suppkey NOT IN (
          SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_size
    """,
)
def q16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (partsupp→lineitem bridge, documented): how many
    distinct reputable suppliers ship each (brand, size) bucket. The
    NOT IN subquery is a broadcast anti join (negative-balance supplier
    keys are tiny and null-free); COUNT(DISTINCT) expands to a
    two-phase partial-distinct aggregate — no row explosion."""
    li = table(spark, sf_dir, "lineitem")
    part = table(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#5")
        & (F.col("p_type") != "PROMO")
        & (F.col("p_size").isin(1, 4, 9, 14, 19, 24, 29, 34, 39, 44))
    )
    bad_supp = (
        table(spark, sf_dir, "supplier")
        .where(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    return (
        li.join(part, F.col("p_partkey") == F.col("l_partkey"))
        .join(
            bad_supp,
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
        .groupBy("p_brand", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
        .transform(sort_bounded, F.desc("supplier_cnt"), "p_brand", "p_size")
    )


# --------------------------------------------------------------------------
# TPC-H-Q2-shaped minimum-cost supplier (partsupp→lineitem adaptation:
# the observed minimum line price per (part, supplier) plays the
# ps_supplycost role). Correlated scalar-MIN subquery, decorrelated in
# the DataFrame plan to a per-part aggregate + equality join — the
# standard Catalyst rewrite, written explicitly.
# --------------------------------------------------------------------------

@query(
    "q2_min_cost_supplier",
    """
    WITH cost AS (
        SELECT l_partkey, l_suppkey, MIN(l_extendedprice) AS supply_cost
        FROM lineitem GROUP BY l_partkey, l_suppkey)
    SELECT s_acctbal, s_name, n_name, p_partkey, s_suppkey, supply_cost
    FROM part
    JOIN cost     ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE p_size = 9 AND p_type = 'STANDARD' AND r_name = 'EUROPE'
      AND supply_cost = (
          SELECT MIN(c2.supply_cost)
          FROM cost c2
          JOIN supplier s2 ON s2.s_suppkey  = c2.l_suppkey
          JOIN nation n2   ON s2.s_nationkey = n2.n_nationkey
          JOIN region r2   ON n2.n_regionkey = r2.r_regionkey
          WHERE c2.l_partkey = p_partkey AND r2.r_name = 'EUROPE')
    ORDER BY s_acctbal DESC, p_partkey, s_suppkey
    LIMIT 100
    """,
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: for each STANDARD size-9 part, the European
    supplier(s) offering the minimum observed price. The correlated
    scalar-MIN is decorrelated to a window ``MIN OVER (PARTITION BY
    part)`` + row-local equality — the per-part floor and the per-row
    cost share ONE evaluation of the bridge subplan (MIN of a double
    is engine-order-independent, so the equality is exact).
    At scale the bridge agg is the only fact shuffle; part/supplier/
    nation/region are broadcast; the final sort feeds a LIMIT so it is
    TakeOrderedAndProject, not a global sort."""
    li = table(spark, sf_dir, "lineitem")
    part = table(spark, sf_dir, "part").where(
        (F.col("p_size") == 9) & (F.col("p_type") == "STANDARD")
    )
    supp = table(spark, sf_dir, "supplier")
    nation = table(spark, sf_dir, "nation")
    region = table(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")

    # (part, supplier) -> min observed price: the partsupp surrogate.
    cost = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min("l_extendedprice").alias("supply_cost")
    )
    # European (part, supplier) costs only — supplier/nation/region all
    # broadcast; no extra fact shuffle.
    euro_cost = (
        cost.join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    # Per-part floor as a window MIN over the SAME rows instead of a
    # groupBy + self-join back (guide §2.4: two operations keyed the
    # same way share one exchange): the join form re-evaluated the
    # whole euro_cost subplan — including the lineitem bridge
    # aggregate, the only fact shuffle — once per side. MIN over the
    # partition is the identical floor, so the equality filter keeps
    # exactly the same (ties-preserving) rows; r12 interleaved A/B
    # min-of-3: 4.21/2.50/1.78 s (join-back) vs 2.62/2.48/1.50 s
    # (window), 68 rows identical.
    from pyspark.sql.window import Window as _W

    w_part = _W.partitionBy("l_partkey")
    return (
        euro_cost.withColumn(
            "min_cost", F.min("supply_cost").over(w_part)
        )
        .where(F.col("supply_cost") == F.col("min_cost"))
        .join(part, F.col("p_partkey") == F.col("l_partkey"))
        .select(
            "s_acctbal", "s_name", "n_name", "p_partkey", "s_suppkey",
            "supply_cost",
        )
        .orderBy(F.desc("s_acctbal"), "p_partkey", "s_suppkey")
        .limit(100)
    )


# --------------------------------------------------------------------------
# TPC-H-Q11-shaped important-part value concentration: per-part shipped
# value for one nation's suppliers, kept only where it exceeds a fixed
# fraction of that nation's total — aggregate reused against its own
# global rollup (HAVING vs scalar subquery).
# --------------------------------------------------------------------------

@query(
    "q11_important_parts",
    """
    WITH val AS (
        SELECT l_partkey,
               SUM(CAST(l_extendedprice AS DECIMAL(18,4)) *
                   CAST(l_quantity AS DECIMAL(18,4))) AS value_dec
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation   ON s_nationkey = n_nationkey
        WHERE n_name = 'NATION_7'
        GROUP BY l_partkey)
    SELECT l_partkey AS p_key, CAST(value_dec AS DOUBLE) AS part_value
    FROM val
    WHERE CAST(value_dec AS DOUBLE) >
          CAST((SELECT SUM(value_dec) FROM val) AS DOUBLE) * 0.001
    ORDER BY part_value DESC, p_key
    """,
)
def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (partsupp value → shipped lineitem value): parts
    whose NATION_7-supplied value exceeds 0.1% of the nation total.
    The per-part aggregate stays DECIMAL through both uses — its own
    row value AND the global total — and converts to DOUBLE only for
    the final comparison, so the threshold is the identical IEEE double
    in both engines (decimal addition is order-independent; the
    partial/final agg split cannot perturb it). The total is a 1-row
    broadcast, not a second fact scan."""
    li = table(spark, sf_dir, "lineitem")
    supp = table(spark, sf_dir, "supplier")
    nation = table(spark, sf_dir, "nation").where(F.col("n_name") == "NATION_7")
    val = (
        li.join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("l_partkey")
        .agg(
            F.expr(
                "SUM(CAST(l_extendedprice AS DECIMAL(18,4)) *"
                " CAST(l_quantity AS DECIMAL(18,4)))"
            ).alias("value_dec")
        )
    )
    total = val.agg(F.sum("value_dec").alias("total_dec"))
    return (
        val.join(F.broadcast(total))
        .where(
            F.col("value_dec").cast("double")
            > F.col("total_dec").cast("double") * F.lit(0.001)
        )
        .select(
            F.col("l_partkey").alias("p_key"),
            F.col("value_dec").cast("double").alias("part_value"),
        )
    )


# --------------------------------------------------------------------------
# TPC-H-Q20-shaped dominant-supplier promotion: suppliers who shipped
# more than half of a small part's 1996 volume, restricted to one
# region — nested aggregate threshold feeding a semi join into the
# supplier dimension.
# --------------------------------------------------------------------------

@query(
    "q20_dominant_suppliers",
    """
    WITH shipped AS (
        SELECT l_partkey, l_suppkey,
               SUM(CAST(l_quantity AS DECIMAL(18,4))) AS qty_dec
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate <  TIMESTAMP '1997-01-01'
          AND l_partkey IN (SELECT p_partkey FROM part
                            WHERE p_name LIKE 'small%')
        GROUP BY l_partkey, l_suppkey),
    tot AS (
        SELECT l_partkey AS t_key, SUM(qty_dec) AS tot_dec
        FROM shipped GROUP BY l_partkey)
    SELECT DISTINCT s_suppkey, s_name, s_acctbal
    FROM shipped
    JOIN tot      ON l_partkey = t_key
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'EUROPE'
      AND CAST(qty_dec AS DOUBLE) > 0.5 * CAST(tot_dec AS DOUBLE)
    ORDER BY s_suppkey
    """,
)
def q20_dominant_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (availqty → shipped-volume dominance): European
    suppliers who moved >50% of some small part's 1996 volume. The
    (part, supplier) aggregate is reused for the per-part total (exact
    decimal both times — associative, partial-agg-proof); the 'small%'
    part filter pushes into the fact scan as a semi join BEFORE the
    aggregate (threshold-elected broadcast at test scale; the part
    subset is a constant FRACTION of an SF-scaling table, so no
    forced hint — r10 sweep completion), so the shuffle only
    carries matching parts.
    DISTINCT collapses a supplier dominating several parts — at scale
    that output is supplier-bounded, i.e. tiny."""
    li = table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01"))
    )
    small_parts = (
        table(spark, sf_dir, "part")
        .where(F.col("p_name").like("small%"))
        .select("p_partkey")
    )
    supp = table(spark, sf_dir, "supplier")
    nation = table(spark, sf_dir, "nation")
    region = table(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    shipped = (
        li.join(
            small_parts,
            F.col("l_partkey") == F.col("p_partkey"),
            "left_semi",
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(
            F.expr("SUM(CAST(l_quantity AS DECIMAL(18,4)))").alias("qty_dec")
        )
    )
    tot = shipped.groupBy(F.col("l_partkey").alias("t_key")).agg(
        F.sum("qty_dec").alias("tot_dec")
    )
    return (
        shipped.join(tot, F.col("l_partkey") == F.col("t_key"))
        .where(
            F.col("qty_dec").cast("double")
            > F.lit(0.5) * F.col("tot_dec").cast("double")
        )
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_name", "s_acctbal")
        .distinct()
    )


# --------------------------------------------------------------------------
# TPC-H-Q21-shaped sole-late-supplier audit: EXISTS + NOT-EXISTS pair
# over the same fact, decorrelated in the DataFrame plan to ONE
# per-order aggregate (distinct suppliers, distinct late suppliers)
# joined back to the late lines. The oracle keeps the declarative
# correlated form — identical semantics, independent derivation.
# --------------------------------------------------------------------------

@query(
    "q21_waiting_suppliers",
    """
    SELECT s_name, COUNT(*) AS numwait
    FROM supplier
    JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
    JOIN orders      ON o_orderkey = l1.l_orderkey
    WHERE o_orderstatus = 'F'
      AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    """,
)
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (receiptdate→shipdate-lag adaptation): per
    supplier, late 'F'-order lines (shipped >60 days after the order
    date) on multi-supplier orders where THEY were the only late
    supplier. The EXISTS / NOT-EXISTS pair decorrelates to one
    per-order WINDOW — n_supp = distinct suppliers over the order,
    n_late_supp = distinct suppliers among its late lines — and the
    filter (late AND n_supp >= 2 AND n_late_supp = 1): a line is late
    and its supplier uniquely so exactly when those hold. The window
    keeps it to ONE lineitem scan and ONE orderkey shuffle (an
    aggregate-and-join-back would scan the fact twice), instead of the
    three correlated fact scans the literal form implies. collect_set
    per order is bounded by lines-per-order — O(10), never a skew
    hazard."""
    from pyspark.sql import Window

    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders").where(
        F.col("o_orderstatus") == "F"
    )
    supp = table(spark, sf_dir, "supplier")
    late = F.expr("l_shipdate > o_orderdate + INTERVAL 60 DAY")
    lo = li.join(orders, F.col("l_orderkey") == F.col("o_orderkey")).select(
        "l_orderkey", "l_suppkey", late.alias("is_late")
    )
    w = Window.partitionBy("l_orderkey")
    return (
        lo.withColumn("n_supp", F.size(F.collect_set("l_suppkey").over(w)))
        .withColumn(
            "n_late_supp",
            F.size(
                F.collect_set(
                    F.when(F.col("is_late"), F.col("l_suppkey"))
                ).over(w)
            ),
        )
        .where(
            F.col("is_late") & (F.col("n_supp") >= 2) & (F.col("n_late_supp") == 1)
        )
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


# --------------------------------------------------------------------------
# Semi-structured VARIANT ingestion (Spark 4): parse JSON event payloads
# once into the binary VARIANT encoding, then typed-path extraction.
# At 100 TB this is the modern telemetry-ingest shape — VARIANT avoids
# re-parsing JSON text per access and (with shredding) pushes typed
# column reads down to storage, where from_json forces a rigid schema
# and get_json_object re-parses per call.
# --------------------------------------------------------------------------

@query(
    "q_variant_events",
    f"""
    WITH {EVENTS_US_CTE},
    payloads AS (
        SELECT '{{"u":' || CAST(user_id AS VARCHAR) || ',"t":"' ||
               event_type || '","v":' ||
               CAST(CAST(FLOOR(value * 1000) AS BIGINT) AS VARCHAR) || '}}'
               AS payload
        FROM events_us),
    extracted AS (
        SELECT CAST(json_extract(payload, '$.u') AS BIGINT) AS u,
               CAST(json_extract_string(payload, '$.t') AS VARCHAR) AS t,
               CAST(json_extract(payload, '$.v') AS BIGINT) AS v
        FROM payloads)
    SELECT t, COUNT(*) AS n, CAST(SUM(v) AS BIGINT) AS sum_v,
           COUNT(DISTINCT u) AS n_users
    FROM extracted WHERE v > 0 GROUP BY t ORDER BY t
    """,
)
def q_variant_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VARIANT ingest: serialize events to JSON (fixed-point value so
    the text is engine-identical), ``parse_json`` into VARIANT, extract
    typed paths with ``variant_get``, filter + aggregate. The oracle
    runs DuckDB's JSON path functions over the identical payloads —
    the VARIANT binary round-trip must be value-transparent."""
    ev = table(spark, sf_dir, "events")
    payloads = ev.select(
        F.concat(
            F.lit('{"u":'),
            F.col("user_id").cast("string"),
            F.lit(',"t":"'),
            F.col("event_type"),
            F.lit('","v":'),
            F.expr("CAST(FLOOR(value * 1000) AS BIGINT)").cast("string"),
            F.lit("}"),
        ).alias("payload")
    )
    extracted = payloads.select(
        F.parse_json(F.col("payload")).alias("var")
    ).select(
        F.expr("variant_get(var, '$.u', 'bigint')").alias("u"),
        F.expr("variant_get(var, '$.t', 'string')").alias("t"),
        F.expr("variant_get(var, '$.v', 'bigint')").alias("v"),
    )
    return (
        extracted.where(F.col("v") > 0)
        .groupBy("t")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("v").cast("bigint").alias("sum_v"),
            F.count_distinct("u").alias("n_users"),
        )
    )


# ---------------------------------------------------------------------------
# Data-quality constraint suite (Deequ-style): the table-health gate a
# production pipeline runs before publishing a snapshot — completeness,
# value-range, set-membership, pattern, key-uniqueness, and referential
# integrity, each with planted violations to catch. ALL row-level
# metrics come from ONE aggregate over the fact (violation counts are
# conditional SUMs — map-side partial agg; uniqueness rides the same
# pass as a COUNT DISTINCT), reshaped row-locally into the long report;
# only the referential check is a second, broadcast-anti pass. At
# 100 TB this is one fact scan + one tiny dim broadcast — never a
# metric-per-pass loop.
# ---------------------------------------------------------------------------


@query(
    "q_dq_constraints",
    """
    WITH corrupted AS (
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
               o_orderpriority, o_orderdate
        FROM orders
        UNION ALL   -- duplicate business keys (uniqueness catch)
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
               o_orderpriority, o_orderdate
        FROM orders WHERE o_orderkey % 101 = 0
        UNION ALL   -- orphan customer refs (referential catch)
        SELECT o_orderkey + 10000000, o_custkey + 9000000, o_orderstatus,
               o_totalprice, o_orderpriority, o_orderdate
        FROM orders WHERE o_orderkey % 103 = 0
        UNION ALL   -- null order dates (completeness catch)
        SELECT o_orderkey + 20000000, o_custkey, o_orderstatus,
               o_totalprice, o_orderpriority, CAST(NULL AS DATE)
        FROM orders WHERE o_orderkey % 107 = 0
        UNION ALL   -- negative prices (range catch)
        SELECT o_orderkey + 30000000, o_custkey, o_orderstatus,
               -o_totalprice, o_orderpriority, o_orderdate
        FROM orders WHERE o_orderkey % 109 = 0
        UNION ALL   -- unknown status codes (membership catch)
        SELECT o_orderkey + 40000000, o_custkey, 'X', o_totalprice,
               o_orderpriority, o_orderdate
        FROM orders WHERE o_orderkey % 113 = 0),
    m AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COUNT(*) - COUNT(o_orderdate) AS BIGINT) AS bad_null,
               CAST(SUM(CASE WHEN o_totalprice <= 0
                             THEN 1 ELSE 0 END) AS BIGINT) AS bad_range,
               CAST(SUM(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P')
                             THEN 1 ELSE 0 END) AS BIGINT) AS bad_set,
               CAST(SUM(CASE WHEN o_orderpriority NOT LIKE '%-%'
                             THEN 1 ELSE 0 END) AS BIGINT) AS bad_pat,
               CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT)
                   AS bad_uniq
        FROM corrupted),
    orphans AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS bad_ref
        FROM corrupted o
        WHERE NOT EXISTS (SELECT 1 FROM customer c
                          WHERE c.c_custkey = o.o_custkey)),
    long AS (
        SELECT 'completeness:o_orderdate' AS check_name, n_rows,
               bad_null AS n_bad FROM m
        UNION ALL
        SELECT 'range:o_totalprice>0', n_rows, bad_range FROM m
        UNION ALL
        SELECT 'set:o_orderstatus', n_rows, bad_set FROM m
        UNION ALL
        SELECT 'pattern:o_orderpriority', n_rows, bad_pat FROM m
        UNION ALL
        SELECT 'unique:o_orderkey', n_rows, bad_uniq FROM m
        UNION ALL
        SELECT 'ref:o_custkey->customer', m.n_rows, o.bad_ref
        FROM m CROSS JOIN orphans o)
    SELECT check_name, n_rows, n_bad,
           ROUND(CAST(n_rows - n_bad AS DOUBLE) / n_rows, 9) AS pass_ratio
    FROM long ORDER BY check_name
    """,
)
def q_dq_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Six constraint metrics over the orders fact with one planted
    violation class each; row-level checks in ONE aggregate, referential
    integrity via broadcast anti-join against customer."""
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        "o_orderpriority",
        "o_orderdate",
    )
    k = F.col("o_orderkey")

    def corrupt(cond, **mut):
        d = o.where(cond)
        for c, e in mut.items():
            d = d.withColumn(c, e)
        return d.select(*o.columns)

    corrupted = (
        o.unionByName(o.where(k % 101 == 0))
        .unionByName(
            corrupt(
                k % 103 == 0,
                o_orderkey=k + 10000000,
                o_custkey=F.col("o_custkey") + 9000000,
            )
        )
        .unionByName(
            corrupt(
                k % 107 == 0,
                o_orderkey=k + 20000000,
                o_orderdate=F.lit(None).cast("date"),
            )
        )
        .unionByName(
            corrupt(
                k % 109 == 0,
                o_orderkey=k + 30000000,
                o_totalprice=-F.col("o_totalprice"),
            )
        )
        .unionByName(
            corrupt(
                k % 113 == 0,
                o_orderkey=k + 40000000,
                o_orderstatus=F.lit("X"),
            )
        )
    )
    m = corrupted.agg(
        F.count(F.lit(1)).alias("n_rows"),
        (F.count(F.lit(1)) - F.count("o_orderdate")).alias("bad_null"),
        F.sum(F.when(F.col("o_totalprice") <= 0, 1).otherwise(0))
        .cast("long")
        .alias("bad_range"),
        F.sum(
            F.when(~F.col("o_orderstatus").isin("O", "F", "P"), 1).otherwise(0)
        )
        .cast("long")
        .alias("bad_set"),
        F.sum(
            F.when(~F.col("o_orderpriority").like("%-%"), 1).otherwise(0)
        )
        .cast("long")
        .alias("bad_pat"),
        (F.count(F.lit(1)) - F.count_distinct("o_orderkey")).alias(
            "bad_uniq"
        ),
    )
    cust = table(spark, sf_dir, "customer").select("c_custkey")
    bad_ref = (
        corrupted.join(
            cust, corrupted.o_custkey == cust.c_custkey, "left_anti"
        )
        .agg(F.count(F.lit(1)).alias("bad_ref"))
    )
    checks = (
        "array("
        "struct('completeness:o_orderdate' AS check_name, bad_null AS n_bad),"
        "struct('range:o_totalprice>0' AS check_name, bad_range AS n_bad),"
        "struct('set:o_orderstatus' AS check_name, bad_set AS n_bad),"
        "struct('pattern:o_orderpriority' AS check_name, bad_pat AS n_bad),"
        "struct('unique:o_orderkey' AS check_name, bad_uniq AS n_bad),"
        "struct('ref:o_custkey->customer' AS check_name, bad_ref AS n_bad))"
    )
    return (
        m.crossJoin(F.broadcast(bad_ref))
        .select("n_rows", F.explode(F.expr(checks)).alias("c"))
        .select(
            F.col("c.check_name").alias("check_name"),
            "n_rows",
            F.col("c.n_bad").alias("n_bad"),
            F.round(
                F.expr("CAST(n_rows - c.n_bad AS DOUBLE) / n_rows"), 9
            ).alias("pass_ratio"),
        )
        .orderBy("check_name")
    )


# ---------------------------------------------------------------------------
# Equi-width histogram profile: the data-profiling primitive (column
# distribution at a glance). Two passes by necessity — global [min,max]
# (a scalar broadcast), then one bucket-assign + count shuffle. All
# arithmetic in integer cents with truncating DIV so bucket edges are
# bit-identical across engines (double width division would not be).
# ---------------------------------------------------------------------------


@query(
    "q_histogram_profile",
    """
    WITH cents AS (
        SELECT CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS xi
        FROM orders),
    bounds AS (
        SELECT MIN(xi) AS mn, MAX(xi) AS mx FROM cents),
    bucketed AS (
        SELECT LEAST(9, ((c.xi - b.mn) * 10) // (b.mx - b.mn + 1))
                   AS bucket,
               b.mn, b.mx
        FROM cents c CROSS JOIN bounds b)
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(mn + (bucket * (mx - mn + 1)) // 10 AS BIGINT)
               AS lo_cents,
           CAST(mn + ((bucket + 1) * (mx - mn + 1)) // 10 - 1 AS BIGINT)
               AS hi_cents,
           COUNT(*) AS n
    FROM bucketed GROUP BY bucket, mn, mx ORDER BY bucket
    """,
)
def q_histogram_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-bucket equi-width histogram of o_totalprice (integer-cents
    edges; LEAST(9, ...) folds the max value into the last bucket)."""
    o = table(spark, sf_dir, "orders").select(
        F.expr("CAST(FLOOR(o_totalprice * 100) AS BIGINT)").alias("xi")
    )
    bounds = o.agg(F.min("xi").alias("mn"), F.max("xi").alias("mx"))
    return (
        o.crossJoin(F.broadcast(bounds))
        .select(
            F.expr("LEAST(9, ((xi - mn) * 10) DIV (mx - mn + 1))").alias(
                "bucket"
            ),
            "mn",
            "mx",
        )
        .groupBy("bucket", "mn", "mx")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("bucket").cast("long").alias("bucket"),
            F.expr("CAST(mn + (bucket * (mx - mn + 1)) DIV 10 AS BIGINT)")
            .alias("lo_cents"),
            F.expr(
                "CAST(mn + ((bucket + 1) * (mx - mn + 1)) DIV 10 - 1"
                " AS BIGINT)"
            ).alias("hi_cents"),
            "n",
        )
    )


# ---------------------------------------------------------------------------
# RANGE-frame window (§2.5 completion): a trailing time-interval frame
# — RANGE BETWEEN 30 PRECEDING AND CURRENT ROW over an integer day
# key — is semantically different from every ROWS frame above: the
# frame is value-bounded (all orders in the last 30 days, however
# many) and same-day orders are PEERS (each sees the full day's
# total). Decimal-exact window sum for cross-engine parity.
# ---------------------------------------------------------------------------


@query(
    "q_window_range_frame",
    """
    WITH days AS (
        SELECT o_custkey, o_orderkey,
               datediff('day', DATE '1990-01-01', o_orderdate) AS day,
               o_totalprice
        FROM orders WHERE o_custkey < 100)
    SELECT o_custkey, o_orderkey, CAST(day AS BIGINT) AS day,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) OVER (
               PARTITION BY o_custkey ORDER BY day
               RANGE BETWEEN 30 PRECEDING AND CURRENT ROW)
               AS DOUBLE) AS trailing_30d_spend,
           CAST(COUNT(*) OVER (
               PARTITION BY o_custkey ORDER BY day
               RANGE BETWEEN 30 PRECEDING AND CURRENT ROW)
               AS BIGINT) AS n_orders_30d
    FROM days ORDER BY o_custkey, day, o_orderkey
    """,
)
def q_window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 30-day spend per customer via a value-bounded RANGE
    frame (same-day orders are peers and each sees the day's total —
    a ROWS frame cannot express this)."""
    o = table(spark, sf_dir, "orders").where(F.col("o_custkey") < 100)
    days = o.select(
        "o_custkey",
        "o_orderkey",
        F.datediff("o_orderdate", F.lit("1990-01-01").cast("date"))
        .cast("long")
        .alias("day"),
        "o_totalprice",
    )
    win = (
        "PARTITION BY o_custkey ORDER BY day"
        " RANGE BETWEEN 30 PRECEDING AND CURRENT ROW"
    )
    return days.select(
        "o_custkey",
        "o_orderkey",
        "day",
        F.expr(
            f"CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6)))"
            f" OVER ({win}) AS DOUBLE)"
        ).alias("trailing_30d_spend"),
        F.expr(f"CAST(COUNT(*) OVER ({win}) AS BIGINT)").alias(
            "n_orders_30d"
        ),
    )


# ---------------------------------------------------------------------------
# UNPIVOT / melt (the inverse of q_pivot): wide per-column metrics →
# long (metric, value) rows — the reshaping step feeding generic
# metric stores and plotting clients. Row-local (zero shuffle until
# the final sort); Spark's native ``unpivot`` keeps it codegen.
# ---------------------------------------------------------------------------


@query(
    "q_unpivot_metrics",
    """
    WITH wide AS (
        SELECT l_returnflag,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE)
                   AS sum_qty,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
                   AS sum_price,
               CAST(COUNT(*) AS DOUBLE) AS n_rows
        FROM lineitem GROUP BY l_returnflag)
    SELECT l_returnflag, metric, value
    FROM wide
    UNPIVOT (value FOR metric IN (sum_qty, sum_price, n_rows))
    ORDER BY l_returnflag, metric
    """,
)
def q_unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-returnflag metric table melted to long form via the native
    ``unpivot`` (decimal-exact sums first, so the doubles match)."""
    li = table(spark, sf_dir, "lineitem")
    wide = li.groupBy("l_returnflag").agg(
        F.expr(
            "CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE)"
        ).alias("sum_qty"),
        F.expr(
            "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)"
        ).alias("sum_price"),
        F.count(F.lit(1)).cast("double").alias("n_rows"),
    )
    return wide.unpivot(
        ids=["l_returnflag"],
        values=["sum_qty", "sum_price", "n_rows"],
        variableColumnName="metric",
        valueColumnName="value",
    ).transform(sort_bounded, "l_returnflag", "metric")


# ---------------------------------------------------------------------------
# Null-safe equality join (<=> / IS NOT DISTINCT FROM): NULL keys match
# each other — required when the join key is a derived, legitimately
# absent attribute (an ordinary equi-join silently drops every NULL
# pair, a classic correctness trap in curation joins).
# ---------------------------------------------------------------------------


@query(
    "q_null_safe_join",
    """
    WITH a AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 7 = 0 THEN NULL
                    ELSE o_orderkey % 5 END AS k
        FROM orders WHERE o_orderkey < 2000),
    b AS (
        SELECT CASE WHEN n_nationkey % 3 = 0 THEN NULL
                    ELSE n_nationkey % 5 END AS k,
               n_nationkey
        FROM nation)
    SELECT COALESCE(CAST(a.k AS VARCHAR), 'NULL') AS k,
           COUNT(*) AS n_pairs,
           CAST(MIN(a.o_orderkey) AS BIGINT) AS min_order,
           CAST(COUNT(DISTINCT b.n_nationkey) AS BIGINT) AS n_nations
    FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
    GROUP BY a.k ORDER BY k
    """,
)
def q_null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe (<=>) join over derived nullable keys: the NULL group
    must join (and report) like any other key value."""
    o = table(spark, sf_dir, "orders").where(F.col("o_orderkey") < 2000)
    a = o.select(
        "o_orderkey",
        F.expr(
            "CASE WHEN o_orderkey % 7 = 0 THEN NULL"
            " ELSE o_orderkey % 5 END"
        ).alias("k"),
    )
    b = table(spark, sf_dir, "nation").select(
        F.expr(
            "CASE WHEN n_nationkey % 3 = 0 THEN NULL"
            " ELSE n_nationkey % 5 END"
        ).alias("k"),
        "n_nationkey",
    )
    return (
        a.join(F.broadcast(b), a.k.eqNullSafe(b.k))
        .groupBy(a.k.alias("k"))
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.min("o_orderkey").cast("long").alias("min_order"),
            F.countDistinct("n_nationkey").alias("n_nations"),
        )
        .select(
            F.coalesce(F.col("k").cast("string"), F.lit("NULL")).alias("k"),
            "n_pairs",
            "min_order",
            "n_nations",
        )
    )


# ---------------------------------------------------------------------------
# Equi-depth histogram — NTILE bucketing (complement of the equi-width
# q_histogram_profile): every bucket holds the same row count, bucket
# BOUNDARIES carry the distribution shape. The profile a cost-based
# optimizer or drift monitor actually stores.
# ---------------------------------------------------------------------------

_EQD_BUCKETS = 8


@query(
    "q_equidepth_histogram",
    f"""
    WITH tiled AS (
        SELECT l_extendedprice AS v,
               NTILE({_EQD_BUCKETS}) OVER (
                   ORDER BY l_extendedprice, l_orderkey, l_linenumber)
                   AS bucket
        FROM lineitem)
    SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n,
           MIN(v) AS lo, MAX(v) AS hi,
           {dsum_sql("v", "bucket_sum", 2)}
    FROM tiled GROUP BY bucket ORDER BY bucket
    """,
)
def q_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth price histogram: exact NTILE({_EQD_BUCKETS})
    allocation over a deterministic total order (price, orderkey,
    linenumber — the key suffix makes tile assignment engine-exact),
    per-bucket count, boundaries, and decimal-exact sum.

    r7 scale fix (was the registry's one sanctioned global-NTILE
    sort through r6): tile assignment now runs the two-pass
    range-partition row-number (``parity.two_pass_rownum``) and
    recovers the identical NTILE bucket from (rn, broadcast total)
    arithmetic (``parity.ntile_expr``) — bit-identical allocation,
    no single-partition sort, so the exact histogram itself now
    scales like any global ORDER BY. The GK-sketch form
    (q_approx_quantile_profile) and the band-join twin
    (q_quantile_band_join) remain the approximate production pair
    this exact reference validates."""
    from .parity import ntile_expr, two_pass_rownum

    li = table(spark, sf_dir, "lineitem")
    vals = li.select(
        F.col("l_extendedprice").alias("v"), "l_orderkey", "l_linenumber"
    )
    n_tot = vals.agg(F.count(F.lit(1)).alias("n_tot"))
    tiled = (
        two_pass_rownum(vals, ["v", "l_orderkey", "l_linenumber"])
        .crossJoin(F.broadcast(n_tot))
        .select("v", F.expr(ntile_expr(_EQD_BUCKETS)).alias("bucket"))
    )
    return (
        tiled.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("v").alias("lo"),
            F.max("v").alias("hi"),
            dsum("v", "bucket_sum", 2),
        )
    )


# ---------------------------------------------------------------------------
# Distribution drift (PSI) — the population-stability report between a
# reference and a current period: the monitor a training-data pipeline
# runs before each ingest wave to catch upstream distribution shifts.
# ---------------------------------------------------------------------------

_PSI_BUCKETS = 8
# the synthetic orders span 1995..2001 — split mid-range so both
# periods are populated (the TPC-H-canonical 1995 split would leave
# the reference side EMPTY on this data and PSI undefined)
_PSI_SPLIT = "1998-01-01"


@query(
    "q_drift_psi",
    f"""
    WITH split AS (
        SELECT o_totalprice AS v,
               CASE WHEN o_orderdate < TIMESTAMP '{_PSI_SPLIT}'
                    THEN 'ref' ELSE 'cur' END AS period
        FROM orders),
    bounds AS (
        SELECT MIN(v) AS lo, MAX(v) AS hi FROM split WHERE period = 'ref'),
    bucketed AS (
        SELECT period,
               LEAST(GREATEST(CAST(FLOOR((v - lo) * {_PSI_BUCKETS}
                                          / (hi - lo)) AS INTEGER), 0),
                     {_PSI_BUCKETS - 1}) AS bucket
        FROM split CROSS JOIN bounds),
    counts AS (
        SELECT bucket,
               COUNT(*) FILTER (period = 'ref') AS n_ref,
               COUNT(*) FILTER (period = 'cur') AS n_cur
        FROM bucketed GROUP BY bucket),
    tot AS (
        SELECT SUM(n_ref) AS t_ref, SUM(n_cur) AS t_cur FROM counts),
    contrib AS (
        SELECT bucket, n_ref, n_cur,
               ROUND(((CAST(n_cur AS DOUBLE) / t_cur)
                      - (CAST(n_ref AS DOUBLE) / t_ref))
                     * LN((CAST(GREATEST(n_cur, 1) AS DOUBLE) / t_cur)
                          / (CAST(GREATEST(n_ref, 1) AS DOUBLE) / t_ref)),
                     9) AS psi_contrib
        FROM counts CROSS JOIN tot)
    SELECT bucket, CAST(n_ref AS BIGINT) AS n_ref,
           CAST(n_cur AS BIGINT) AS n_cur, psi_contrib,
           CAST(SUM(CAST(psi_contrib AS DECIMAL(18,9))) OVER ()
                AS DOUBLE) AS psi_total
    FROM contrib ORDER BY bucket
    """,
)
def q_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability-index drift report: bucket the reference
    period's order values into {_PSI_BUCKETS} equi-width bins (bounds
    from the reference, current clamped into them — the standard PSI
    recipe), per-bucket (share_cur - share_ref)·ln(share_cur/share_ref)
    contribution, and the total.

    Cross-engine exactness: each contribution is ONE fixed IEEE
    expression over exact integer counts, rounded to 1e-9; the TOTAL
    is then summed through DECIMAL(18,9) over the rounded values —
    so no cross-bucket double-summation order can skew it. Zero
    buckets take the standard GREATEST(n,1) smoothing."""
    orders = table(spark, sf_dir, "orders")
    split = orders.select(
        F.col("o_totalprice").alias("v"),
        F.when(
            F.col("o_orderdate") < F.lit(_PSI_SPLIT).cast("timestamp_ntz"),
            "ref",
        )
        .otherwise("cur")
        .alias("period"),
    )
    bounds = split.where(F.col("period") == "ref").agg(
        F.min("v").alias("lo"), F.max("v").alias("hi")
    )
    bucketed = split.crossJoin(F.broadcast(bounds)).select(
        "period",
        F.expr(
            f"LEAST(GREATEST(CAST(FLOOR((v - lo) * {_PSI_BUCKETS}"
            f" / (hi - lo)) AS INT), 0), {_PSI_BUCKETS - 1})"
        ).alias("bucket"),
    )
    counts = bucketed.groupBy("bucket").agg(
        F.count(F.when(F.col("period") == "ref", 1)).alias("n_ref"),
        F.count(F.when(F.col("period") == "cur", 1)).alias("n_cur"),
    )
    tot = counts.agg(
        F.sum("n_ref").alias("t_ref"), F.sum("n_cur").alias("t_cur")
    )
    contrib = counts.crossJoin(F.broadcast(tot)).select(
        "bucket",
        F.col("n_ref").cast("bigint").alias("n_ref"),
        F.col("n_cur").cast("bigint").alias("n_cur"),
        F.round(
            F.expr(
                "((CAST(n_cur AS DOUBLE) / t_cur)"
                " - (CAST(n_ref AS DOUBLE) / t_ref))"
                " * LN((CAST(GREATEST(n_cur, 1) AS DOUBLE) / t_cur)"
                "      / (CAST(GREATEST(n_ref, 1) AS DOUBLE) / t_ref))"
            ),
            9,
        ).alias("psi_contrib"),
    )
    return contrib.select(
        "bucket",
        "n_ref",
        "n_cur",
        "psi_contrib",
        F.expr(
            "CAST(SUM(CAST(psi_contrib AS DECIMAL(18,9))) OVER ()"
            " AS DOUBLE)"
        ).alias("psi_total"),
    ).orderBy("bucket")


# ---------------------------------------------------------------------------
# Robust outlier profile (median / MAD) — the robust-statistics
# counterpart of q_stats_agg's mean/stddev: medians don't move for
# heavy tails, so MAD-based outlier counts are the table-health check
# that survives skewed value distributions.
# ---------------------------------------------------------------------------

@query(
    "q_mad_outliers",
    """
    WITH med AS (
        SELECT l_returnflag AS flag,
               ROUND(quantile_cont(l_extendedprice, 0.5), 9) AS median
        FROM lineitem GROUP BY l_returnflag),
    dev AS (
        SELECT flag, median,
               ROUND(quantile_cont(abs(l_extendedprice - median), 0.5), 9)
                   AS mad
        FROM lineitem JOIN med ON l_returnflag = flag
        GROUP BY flag, median)
    SELECT l_returnflag, d.median, d.mad,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(*) FILTER (abs(l_extendedprice - d.median)
                                 > 3 * d.mad) AS BIGINT) AS n_outliers
    FROM lineitem JOIN dev d ON l_returnflag = d.flag
    GROUP BY l_returnflag, d.median, d.mad
    ORDER BY l_returnflag
    """,
)
def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-returnflag robust outlier profile: exact interpolated median
    (R-7 rule, bit-identical across engines — q_percentiles proves it),
    MAD (median absolute deviation from it), and the count of values
    beyond 3 MADs. Both medians are ROUNDed to 1e-9 before reuse so
    the downstream comparisons see identical constants in both
    engines.

    100 TB note: exact medians need a per-group sort — this is the
    validation reference; the production path swaps ``percentile`` for
    the mergeable GK sketch (q_approx_quantile_profile) with the same
    downstream arithmetic.

    Pass structure (r5 finding, superseded in r6): the r4 review
    suggested pinning the 2-column projection with localCheckpoint so
    passes 2-3 skip the parquet re-scan; an interleaved sf1 A/B
    measured the pin neutral-to-NEGATIVE (warm 4.7-4.9 s pinned vs
    4.3-4.6 s unpinned) — the true cost was the per-group exact
    percentiles ingesting every raw row. The r6 restructure attacks
    THAT: every pass runs off the distinct (flag, price, freq) table —
    rows with equal price have equal deviation, so median, MAD, n, and
    the outlier count are all exactly computable from value counts via
    ``percentile(expr, p, freq)`` (the same Percentile code path —
    bit-identical results) and SUM(freq). Interleaved sf1 A/B, 3
    rounds: raw 3.7-8.4 s vs freq 1.8-3.4 s, outputs identical."""
    li = table(spark, sf_dir, "lineitem")
    pc = li.groupBy(
        F.col("l_returnflag").alias("flag"), "l_extendedprice"
    ).agg(F.count(F.lit(1)).alias("freq"))
    med = pc.groupBy("flag").agg(
        F.round(F.expr("percentile(l_extendedprice, 0.5, freq)"), 9).alias(
            "median"
        )
    )
    dev = (
        pc.join(F.broadcast(med), "flag")
        .groupBy("flag", "median")
        .agg(
            F.round(
                F.expr(
                    "percentile(abs(l_extendedprice - median), 0.5, freq)"
                ),
                9,
            ).alias("mad")
        )
    )
    return (
        pc.join(F.broadcast(dev), "flag")
        .groupBy(F.col("flag").alias("l_returnflag"), "median", "mad")
        .agg(
            F.sum("freq").cast("bigint").alias("n"),
            F.coalesce(
                F.sum(
                    F.when(
                        F.abs(F.col("l_extendedprice") - F.col("median"))
                        > 3 * F.col("mad"),
                        F.col("freq"),
                    )
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias("n_outliers"),
        )
        .select("l_returnflag", "median", "mad", "n", "n_outliers")
    )


# ---------------------------------------------------------------------------
# Recursive CTE (Spark 4 WITH RECURSIVE) — hierarchy traversal through
# the SQL front-end's UnionLoop operator, the declarative counterpart
# of the DataFrame-loop iteration dedup.connected_components /
# graph.pagerank_fixed hand-roll.
# ---------------------------------------------------------------------------

_RECURSIVE_SQL = """
    WITH RECURSIVE chain(suppkey, root, depth) AS (
        SELECT s_suppkey, s_suppkey, 0
        FROM {supplier} WHERE s_suppkey % 7 = 0
        UNION ALL
        SELECT s.s_suppkey, c.root, c.depth + 1
        FROM {supplier} s JOIN chain c
          ON s.s_suppkey = c.suppkey * 3 + 1
        WHERE c.depth < 8)
    SELECT depth,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(MIN(suppkey) AS BIGINT) AS min_supp,
           CAST(MAX(root) AS BIGINT) AS max_root,
           CAST(SUM(suppkey) AS BIGINT) AS supp_sum
    FROM chain GROUP BY depth{order}
    """


@query(
    "q_recursive_cte_chain",
    _RECURSIVE_SQL.format(supplier="supplier", order=" ORDER BY depth"),
)
def q_recursive_cte_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITH RECURSIVE hierarchy traversal (Spark 4's recursive CTE /
    UnionLoop): seed every 7th supplier as a root, follow the
    deterministic referral edge suppkey -> suppkey*3+1 while it exists,
    depth-capped at 8; rollup per depth. Exercises the SQL front-end's
    native recursion — the declarative sibling of the engine's
    DataFrame-loop iteration (connected components, PageRank), which
    remains the right tool when each round needs checkpointing or a
    convergence decision.

    100 TB note: each recursion step is one join against the previous
    frontier — the same per-round cost shape as the Pregel loop, with
    the plan depth managed by the engine instead of localCheckpoint."""
    table(spark, sf_dir, "supplier").createOrReplaceTempView("rc_supplier")
    return spark.sql(_RECURSIVE_SQL.format(supplier="rc_supplier", order=""))


# ---------------------------------------------------------------------------
# LATERAL correlated subquery join — per-row dependent subqueries
# (top-n per outer row) through the SQL front-end.
# ---------------------------------------------------------------------------

_LATERAL_SQL = """
    SELECT n_name,
           t.c_custkey AS cust,
           t.c_acctbal AS acctbal,
           t.rk
    FROM {nation},
         LATERAL (
             SELECT c_custkey, c_acctbal,
                    ROW_NUMBER() OVER (ORDER BY c_acctbal DESC,
                                       c_custkey) AS rk
             FROM {customer}
             WHERE c_nationkey = n_nationkey
             ORDER BY c_acctbal DESC, c_custkey
             LIMIT 2) t{order}
    """


@query(
    "q_lateral_topn",
    _LATERAL_SQL.format(
        nation="nation", customer="customer", order="\n    ORDER BY n_name, t.rk"
    ),
)
def q_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation top-2 customers by account balance via a LATERAL
    correlated subquery — the SQL front-end's dependent-join surface.
    Catalyst decorrelates the lateral into a ranked window join (the
    same physical shape as q_window_topk_per_group, WindowGroupLimit
    included), so the declarative form costs what the hand-written
    window costs — asserted by the plan hygiene suite (no nested-loop
    per-row execution)."""
    table(spark, sf_dir, "nation").createOrReplaceTempView("lt_nation")
    table(spark, sf_dir, "customer").createOrReplaceTempView("lt_customer")
    return spark.sql(
        _LATERAL_SQL.format(nation="lt_nation", customer="lt_customer",
                            order="")
    )


# ---------------------------------------------------------------------------
# grouping_id — the subtotal-disambiguation column: a ROLLUP NULL can
# mean "subtotal row" or "the key was genuinely NULL"; grouping_id is
# the bitmask that tells them apart, and every real OLAP report needs
# it the moment nullable keys meet grouping sets.
# ---------------------------------------------------------------------------

@query(
    "q_grouping_id_rollup",
    """
    WITH src AS (
        SELECT CASE WHEN o_orderkey % 13 = 0 THEN NULL
                    ELSE o_orderpriority END AS priority,
               o_orderstatus AS status,
               o_totalprice
        FROM orders),
    g AS (
        SELECT priority, status,
               GROUPING(priority) * 2 + GROUPING(status) AS gid,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS total
        FROM src GROUP BY ROLLUP (priority, status))
    SELECT priority, status, CAST(gid AS BIGINT) AS gid,
           CASE WHEN gid = 3 THEN 'grand_total'
                WHEN gid = 1 THEN 'priority_subtotal'
                WHEN priority IS NULL THEN 'null_priority_detail'
                ELSE 'detail' END AS row_kind,
           n, total
    FROM g
    ORDER BY gid, priority NULLS FIRST, status NULLS FIRST
    """,
)
def q_grouping_id_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over a key with REAL NULLs (every 13th order's priority
    nulled): ``grouping_id`` distinguishes genuine NULL-key detail
    rows from subtotal rows — without it the two are
    indistinguishable, the classic silent-wrong-report bug. Row kinds
    are derived from the bitmask on both engines; sums ride DECIMAL."""
    orders = table(spark, sf_dir, "orders")
    src = orders.select(
        F.when(F.col("o_orderkey") % 13 == 0, None)
        .otherwise(F.col("o_orderpriority"))
        .alias("priority"),
        F.col("o_orderstatus").alias("status"),
        "o_totalprice",
    )
    g = (
        src.rollup("priority", "status")
        .agg(
            F.expr("GROUPING(priority) * 2 + GROUPING(status)").alias("gid"),
            F.count(F.lit(1)).alias("n"),
            F.expr(
                "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)"
            ).alias("total"),
        )
    )
    return (
        g.select(
            "priority",
            "status",
            F.col("gid").cast("bigint").alias("gid"),
            F.when(F.col("gid") == 3, "grand_total")
            .when(F.col("gid") == 1, "priority_subtotal")
            .when(F.col("priority").isNull(), "null_priority_detail")
            .otherwise("detail")
            .alias("row_kind"),
            "n",
            "total",
        )
    )


# ---------------------------------------------------------------------------
# try_* error-safe arithmetic — Spark 4 runs ANSI mode by default, so
# a single bad row (divide-by-zero, unparsable cast, overflow) kills
# the whole job unless the pipeline uses the try_ family. This is the
# dirty-data survival surface.
# ---------------------------------------------------------------------------

@query(
    "q_try_arithmetic",
    """
    WITH dirty AS (
        SELECT o_orderkey,
               o_totalprice,
               CASE WHEN o_orderkey % 11 = 0 THEN 0
                    ELSE CAST(o_orderkey % 7 AS INTEGER) END AS divisor,
               CASE WHEN o_orderkey % 5 = 0 THEN 'n/a'
                    ELSE CAST(o_orderkey % 100 AS VARCHAR) END AS code_str
        FROM orders),
    safe AS (
        SELECT o_totalprice / NULLIF(divisor, 0) AS per_unit,
               TRY_CAST(code_str AS INTEGER) AS code
        FROM dirty)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(per_unit) AS BIGINT) AS n_divisible,
           CAST(COUNT(*) - COUNT(per_unit) AS BIGINT) AS n_div_by_zero,
           CAST(COUNT(code) AS BIGINT) AS n_parsed,
           CAST(COUNT(*) - COUNT(code) AS BIGINT) AS n_unparsable,
           CAST(SUM(CAST(code AS BIGINT)) AS BIGINT) AS code_sum,
           CAST(SUM(CAST(per_unit AS DECIMAL(24,6))) AS DOUBLE)
               AS per_unit_sum
    FROM safe
    """,
)
def q_try_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dirty-data survival under ANSI mode: every 11th row divides by
    zero, every 5th carries an unparsable code. ``try_divide`` /
    ``try_cast`` turn both into NULLs instead of job-killing
    exceptions (Spark 4 is ANSI by default — plain ``/`` and CAST
    would abort); the rollup counts the quarantined rows and
    decimal-sums the surviving values. The oracle expresses the same
    semantics with NULLIF/TRY_CAST."""
    orders = table(spark, sf_dir, "orders")
    dirty = orders.select(
        "o_orderkey",
        "o_totalprice",
        F.when(F.col("o_orderkey") % 11 == 0, 0)
        .otherwise((F.col("o_orderkey") % 7).cast("int"))
        .alias("divisor"),
        F.when(F.col("o_orderkey") % 5 == 0, "n/a")
        .otherwise((F.col("o_orderkey") % 100).cast("string"))
        .alias("code_str"),
    )
    safe = dirty.select(
        F.expr("try_divide(o_totalprice, divisor)").alias("per_unit"),
        F.expr("try_cast(code_str AS INT)").alias("code"),
    )
    return safe.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("per_unit").alias("n_divisible"),
        (F.count(F.lit(1)) - F.count("per_unit")).alias("n_div_by_zero"),
        F.count("code").alias("n_parsed"),
        (F.count(F.lit(1)) - F.count("code")).alias("n_unparsable"),
        F.sum(F.col("code").cast("bigint")).cast("bigint").alias("code_sum"),
        F.expr(
            "CAST(SUM(CAST(per_unit AS DECIMAL(24,6))) AS DOUBLE)"
        ).alias("per_unit_sum"),
    )


# ---------------------------------------------------------------------------
# Sequence gap detection — find the holes in an id sequence (lost
# batches, failed writes): gaps-and-islands over the sorted key space.
# ---------------------------------------------------------------------------

@query(
    "q_sequence_gaps",
    """
    WITH keys AS (
        SELECT o_orderkey AS k FROM orders),
    islands AS (
        SELECT k, k - ROW_NUMBER() OVER (ORDER BY k) AS grp
        FROM keys),
    spans AS (
        SELECT MIN(k) AS island_start, MAX(k) AS island_end,
               COUNT(*) AS island_len
        FROM islands GROUP BY grp),
    gaps AS (
        SELECT island_end + 1 AS gap_start,
               LEAD(island_start) OVER (ORDER BY island_start) - 1
                   AS gap_end
        FROM spans)
    SELECT CAST(gap_start AS BIGINT) AS gap_start,
           CAST(gap_end AS BIGINT) AS gap_end,
           CAST(gap_end - gap_start + 1 AS BIGINT) AS missing
    FROM gaps WHERE gap_end IS NOT NULL
    ORDER BY missing DESC, gap_start LIMIT 20
    """,
)
def q_sequence_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 largest holes in the orderkey sequence (TPC-H orderkeys
    are deliberately sparse — 8 of every 32 — so the fixture has real
    gaps): gaps-and-islands via the k - ROW_NUMBER() trick, island
    spans, then each hole's bounds from the next island. The everyday
    did-we-lose-a-batch audit.

    r7 scale fix (previously only documented): both rankings run the
    two-pass range-partition form — the key ranking via
    ``parity.two_pass_rownum`` (the key space scales with SF; a
    partition-less ROW_NUMBER sorts every key on one partition), and
    the LEAD over islands (for TPC-H's 8-of-32 sparsity the island
    count ALSO scales with the keys) as a two-pass rank plus an rn+1
    equi-self-join — the distributed form of LEAD."""
    from .parity import two_pass_rownum

    orders = table(spark, sf_dir, "orders")
    islands = two_pass_rownum(
        orders.select(F.col("o_orderkey").alias("k")), ["k"]
    ).withColumn("grp", F.col("k") - F.col("rn"))
    spans = islands.groupBy("grp").agg(
        F.min("k").alias("island_start"),
        F.max("k").alias("island_end"),
        F.count(F.lit(1)).alias("island_len"),
    )
    # pin=True: spans' lineage is the whole first two-pass ranking +
    # rollup — recomputing it for the offsets branch doubles the query
    s_rn = two_pass_rownum(
        spans.select("island_start", "island_end"), ["island_start"],
        pin=True,
    )
    nxt = s_rn.select(
        (F.col("rn") - 1).alias("rn"),
        F.col("island_start").alias("next_start"),
    )
    gaps = s_rn.join(nxt, "rn", "left").select(
        (F.col("island_end") + 1).alias("gap_start"),
        (F.col("next_start") - 1).alias("gap_end"),
    )
    return (
        gaps.where(F.col("gap_end").isNotNull())
        .select(
            F.col("gap_start").cast("bigint"),
            F.col("gap_end").cast("bigint"),
            (F.col("gap_end") - F.col("gap_start") + 1)
            .cast("bigint")
            .alias("missing"),
        )
        .orderBy(F.desc("missing"), "gap_start")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Snapshot diff — full reconciliation report between two table
# versions: rows added / removed / changed, and WHICH columns changed.
# The migration-validation and replication-audit primitive.
# ---------------------------------------------------------------------------

@query(
    "q_snapshot_diff",
    """
    WITH v2 AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 31 = 0 THEN 'X'
                    ELSE o_orderstatus END AS o_orderstatus,
               CASE WHEN o_orderkey % 37 = 0
                    THEN o_totalprice + 1.0
                    ELSE o_totalprice END AS o_totalprice
        FROM orders WHERE o_orderkey % 41 <> 0
        UNION ALL
        SELECT o_orderkey + 90000000, o_orderstatus, o_totalprice
        FROM orders WHERE o_orderkey % 43 = 0),
    joined AS (
        SELECT COALESCE(a.o_orderkey, b.o_orderkey) AS k,
               a.o_orderkey IS NULL AS added,
               b.o_orderkey IS NULL AS removed,
               a.o_orderkey IS NOT NULL AND b.o_orderkey IS NOT NULL
                   AND a.o_orderstatus <> b.o_orderstatus AS status_chg,
               a.o_orderkey IS NOT NULL AND b.o_orderkey IS NOT NULL
                   AND a.o_totalprice <> b.o_totalprice AS price_chg
        FROM orders a FULL OUTER JOIN v2 b
          ON a.o_orderkey = b.o_orderkey)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(CASE WHEN added THEN 1 ELSE 0 END) AS BIGINT)
               AS n_added,
           CAST(SUM(CASE WHEN removed THEN 1 ELSE 0 END) AS BIGINT)
               AS n_removed,
           CAST(SUM(CASE WHEN status_chg THEN 1 ELSE 0 END) AS BIGINT)
               AS n_status_changed,
           CAST(SUM(CASE WHEN price_chg THEN 1 ELSE 0 END) AS BIGINT)
               AS n_price_changed,
           CAST(SUM(CASE WHEN NOT added AND NOT removed
                          AND NOT status_chg AND NOT price_chg
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_identical
    FROM joined
    """,
)
def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reconciliation between two snapshot versions (v2 derived
    deterministically: every 41st row dropped, every 43rd re-keyed as
    an add, every 31st status mutated, every 37th price shifted): one
    FULL OUTER join on the key, per-column change flags, one rollup —
    added / removed / changed-by-column / identical counts. The report
    every migration cutover and replication audit runs; at 100 TB the
    join shuffles both snapshots once on the key (or rides bucketed
    layouts for free)."""
    orders = table(spark, sf_dir, "orders")
    base = orders.select("o_orderkey", "o_orderstatus", "o_totalprice")
    v2 = (
        base.where(F.col("o_orderkey") % 41 != 0)
        .select(
            "o_orderkey",
            F.when(F.col("o_orderkey") % 31 == 0, "X")
            .otherwise(F.col("o_orderstatus"))
            .alias("o_orderstatus"),
            F.when(
                F.col("o_orderkey") % 37 == 0, F.col("o_totalprice") + 1.0
            )
            .otherwise(F.col("o_totalprice"))
            .alias("o_totalprice"),
        )
        .unionAll(
            base.where(F.col("o_orderkey") % 43 == 0).select(
                (F.col("o_orderkey") + 90000000).alias("o_orderkey"),
                "o_orderstatus",
                "o_totalprice",
            )
        )
    )
    a = base.select(
        F.col("o_orderkey").alias("ka"),
        F.col("o_orderstatus").alias("sa"),
        F.col("o_totalprice").alias("pa"),
    )
    b = v2.select(
        F.col("o_orderkey").alias("kb"),
        F.col("o_orderstatus").alias("sb"),
        F.col("o_totalprice").alias("pb"),
    )
    joined = a.join(b, F.col("ka") == F.col("kb"), "full_outer").select(
        F.col("ka").isNull().alias("added"),
        F.col("kb").isNull().alias("removed"),
        (
            F.col("ka").isNotNull()
            & F.col("kb").isNotNull()
            & (F.col("sa") != F.col("sb"))
        ).alias("status_chg"),
        (
            F.col("ka").isNotNull()
            & F.col("kb").isNotNull()
            & (F.col("pa") != F.col("pb"))
        ).alias("price_chg"),
    )
    return joined.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum(F.col("added").cast("long")).alias("n_added"),
        F.sum(F.col("removed").cast("long")).alias("n_removed"),
        F.sum(F.col("status_chg").cast("long")).alias("n_status_changed"),
        F.sum(F.col("price_chg").cast("long")).alias("n_price_changed"),
        F.sum(
            (
                ~F.col("added")
                & ~F.col("removed")
                & ~F.col("status_chg")
                & ~F.col("price_chg")
            ).cast("long")
        ).alias("n_identical"),
    )


# ---------------------------------------------------------------------------
# Benford first-digit audit — the fraud/synthetic-data smell test:
# naturally-occurring multiplicative quantities follow P(d)=log10(1+1/d);
# fabricated or truncated columns don't. Expectations are PRECOMPUTED
# literals (no cross-engine transcendental risk); observed counts are
# exact; the chi-square statistic sums rounded per-digit contributions
# through DECIMAL (the q_drift_psi totalization trick).
# ---------------------------------------------------------------------------

_BENFORD_P = [
    0.301029996, 0.176091259, 0.124938737, 0.096910013, 0.079181246,
    0.06694679, 0.057991947, 0.051152522, 0.045757491,
]
_BENFORD_VALUES = ", ".join(
    f"({d + 1}, {p})" for d, p in enumerate(_BENFORD_P)
)


@query(
    "q_benford_audit",
    f"""
    WITH digits AS (
        -- FLOOR before the BIGINT cast: Spark CAST truncates where
        -- DuckDB rounds, so 8999.6 would land on different digits
        SELECT CAST(substr(CAST(CAST(FLOOR(o_totalprice) AS BIGINT)
                                AS VARCHAR), 1, 1) AS INTEGER) AS d
        FROM orders WHERE o_totalprice >= 1),
    expected(d, p) AS (VALUES {_BENFORD_VALUES}),
    counts AS (
        SELECT e.d, e.p, COUNT(g.d) AS n
        FROM expected e LEFT JOIN digits g ON g.d = e.d
        GROUP BY e.d, e.p),
    tot AS (SELECT SUM(n) AS t FROM counts),
    contrib AS (
        SELECT d, p, n,
               ROUND((CAST(n AS DOUBLE) - p * t) * (CAST(n AS DOUBLE) - p * t)
                     / (p * t), 9) AS chi2_part,
               ROUND(CAST(n AS DOUBLE) / t, 9) AS observed_p
        FROM counts CROSS JOIN tot)
    SELECT CAST(d AS INTEGER) AS digit, CAST(n AS BIGINT) AS n,
           observed_p, p AS benford_p, chi2_part,
           CAST(SUM(CAST(chi2_part AS DECIMAL(18,9))) OVER ()
                AS DOUBLE) AS chi2_total
    FROM contrib ORDER BY digit
    """,
)
def q_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-digit distribution of order totals vs Benford's law:
    per-digit observed share, expected share, chi-square contribution,
    and the DECIMAL-summed total. The synthetic fixture's totals are
    NOT Benford-distributed — a large chi2 here is the correct answer,
    and exactly what this audit exists to surface on fabricated data.
    Expectations are precomputed literals; every other number is exact
    integer arithmetic plus one fixed IEEE expression per digit."""
    orders = table(spark, sf_dir, "orders")
    digits = orders.where(F.col("o_totalprice") >= 1).select(
        F.expr(
            "CAST(substr(CAST(CAST(FLOOR(o_totalprice) AS BIGINT)"
            " AS STRING), 1, 1) AS INT)"
        ).alias("d")
    )
    expected = spark.createDataFrame(
        [(d + 1, p) for d, p in enumerate(_BENFORD_P)], "d int, p double"
    )
    counts = (
        expected.join(digits.withColumnRenamed("d", "g"),
                      F.col("g") == F.col("d"), "left")
        .groupBy("d", "p")
        .agg(F.count("g").alias("n"))
    )
    tot = counts.agg(F.sum("n").alias("t"))
    contrib = counts.crossJoin(F.broadcast(tot)).select(
        "d",
        "p",
        "n",
        F.round(
            F.expr(
                "(CAST(n AS DOUBLE) - p * t) * (CAST(n AS DOUBLE) - p * t)"
                " / (p * t)"
            ),
            9,
        ).alias("chi2_part"),
        F.round(F.expr("CAST(n AS DOUBLE) / t"), 9).alias("observed_p"),
    )
    return contrib.select(
        F.col("d").cast("int").alias("digit"),
        F.col("n").cast("bigint").alias("n"),
        "observed_p",
        F.col("p").alias("benford_p"),
        "chi2_part",
        F.expr(
            "CAST(SUM(CAST(chi2_part AS DECIMAL(18,9))) OVER () AS DOUBLE)"
        ).alias("chi2_total"),
    ).orderBy("digit")


# ---------------------------------------------------------------------------
# Shannon-entropy column profile — how informative is each column?
# Near-zero entropy flags constants/defaults, max entropy flags ids;
# the profile schema-inference and anomaly tools actually compute.
# ---------------------------------------------------------------------------

@query(
    "q_entropy_profile",
    """
    WITH cols AS (
        SELECT 'o_orderstatus' AS col, o_orderstatus AS v FROM orders
        UNION ALL
        SELECT 'o_orderpriority', o_orderpriority FROM orders
        UNION ALL
        SELECT 'o_shippriority_mod',
               CAST(o_orderkey % 3 AS VARCHAR) FROM orders),
    counts AS (
        SELECT col, v, COUNT(*) AS n FROM cols GROUP BY col, v),
    tot AS (SELECT col, SUM(n) AS t, COUNT(*) AS n_distinct
            FROM counts GROUP BY col),
    contrib AS (
        SELECT c.col,
               ROUND(-(CAST(n AS DOUBLE) / t)
                     * LN(CAST(n AS DOUBLE) / t) / LN(2.0), 9) AS h_part
        FROM counts c JOIN tot USING (col))
    SELECT col,
           CAST(MAX(t.n_distinct) AS BIGINT) AS n_distinct,
           CAST(SUM(CAST(h_part AS DECIMAL(18,9))) AS DOUBLE)
               AS entropy_bits
    FROM contrib JOIN tot t USING (col)
    GROUP BY col ORDER BY col
    """,
)
def q_entropy_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy (bits) per categorical column over orders: the
    informativeness profile — near-zero flags constant/default
    columns, log2(n_distinct) flags uniform keys. Per-value
    contributions are one fixed IEEE expression over exact counts
    (LN has matched bit-for-bit across engines here — q_drift_psi),
    rounded to 1e-9, summed through DECIMAL; one value-histogram
    shuffle per column, unioned into a single pass."""
    orders = table(spark, sf_dir, "orders")
    cols = (
        orders.select(
            F.lit("o_orderstatus").alias("col"),
            F.col("o_orderstatus").alias("v"),
        )
        .unionAll(
            orders.select(
                F.lit("o_orderpriority").alias("col"),
                F.col("o_orderpriority").alias("v"),
            )
        )
        .unionAll(
            orders.select(
                F.lit("o_shippriority_mod").alias("col"),
                (F.col("o_orderkey") % 3).cast("string").alias("v"),
            )
        )
    )
    counts = cols.groupBy("col", "v").agg(F.count(F.lit(1)).alias("n"))
    tot = counts.groupBy("col").agg(
        F.sum("n").alias("t"), F.count(F.lit(1)).alias("n_distinct")
    )
    contrib = counts.join(tot, "col").select(
        "col",
        "n_distinct",
        F.round(
            F.expr(
                "-(CAST(n AS DOUBLE) / t) * LN(CAST(n AS DOUBLE) / t)"
                " / LN(2.0)"
            ),
            9,
        ).alias("h_part"),
    )
    return (
        contrib.groupBy("col")
        .agg(
            F.max("n_distinct").cast("bigint").alias("n_distinct"),
            F.expr(
                "CAST(SUM(CAST(h_part AS DECIMAL(18,9))) AS DOUBLE)"
            ).alias("entropy_bits"),
        )
    )


# ---------------------------------------------------------------------------
# BI window idioms — contribution share (ratio-to-report) and
# year-over-year growth: the two window shapes every reporting layer
# reimplements, done decimal-exact.
# ---------------------------------------------------------------------------

@query(
    "q_contribution_share",
    """
    WITH nat AS (
        SELECT r.r_name AS region, n.n_name AS nation,
               SUM(CAST(c.c_acctbal AS DECIMAL(18,2))) AS bal
        FROM customer c
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        GROUP BY r.r_name, n.n_name)
    SELECT region, nation,
           CAST(bal AS DOUBLE) AS acctbal,
           ROUND(CAST(bal AS DOUBLE)
                 / CAST(SUM(bal) OVER (PARTITION BY region) AS DOUBLE),
                 9) AS share_of_region,
           CAST(RANK() OVER (PARTITION BY region ORDER BY bal DESC, nation)
                AS INTEGER) AS rank_in_region
    FROM nat ORDER BY region, rank_in_region
    """,
)
def q_contribution_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-report: each nation's share of its region's customer
    balance plus its in-region rank — the contribution-analysis window
    every BI layer ships. Both the numerator and the window total stay
    DECIMAL until the single share division, so partial-aggregation
    order cannot skew the doubles."""
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    nat = (
        c.join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy(
            F.col("r_name").alias("region"), F.col("n_name").alias("nation")
        )
        .agg(
            F.expr("SUM(CAST(c_acctbal AS DECIMAL(18,2)))").alias("bal")
        )
    )
    return nat.select(
        "region",
        "nation",
        F.col("bal").cast("double").alias("acctbal"),
        F.round(
            F.expr(
                "CAST(bal AS DOUBLE)"
                " / CAST(SUM(bal) OVER (PARTITION BY region) AS DOUBLE)"
            ),
            9,
        ).alias("share_of_region"),
        F.expr(
            "CAST(RANK() OVER (PARTITION BY region"
            " ORDER BY bal DESC, nation) AS INT)"
        ).alias("rank_in_region"),
    )


@query(
    "q_yoy_growth",
    """
    WITH yearly AS (
        SELECT CAST(strftime(o_orderdate, '%Y') AS INTEGER) AS yr,
               SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev,
               COUNT(*) AS n_orders
        FROM orders GROUP BY yr)
    SELECT CAST(yr AS INTEGER) AS yr,
           CAST(rev AS DOUBLE) AS revenue,
           CAST(n_orders AS BIGINT) AS n_orders,
           ROUND(CAST(rev AS DOUBLE)
                 / CAST(LAG(rev) OVER (ORDER BY yr) AS DOUBLE) - 1.0,
                 9) AS yoy_growth
    FROM yearly ORDER BY yr
    """,
)
def q_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year revenue growth: decimal-exact yearly totals, LAG
    over the (tiny) year series, one exact division per row (NULL for
    the first year). The standard trend report; the only shuffle is
    the year rollup — the window runs over a handful of rows."""
    orders = table(spark, sf_dir, "orders")
    yearly = orders.groupBy(
        F.expr("CAST(date_format(o_orderdate, 'yyyy') AS INT)").alias("yr")
    ).agg(
        F.expr("SUM(CAST(o_totalprice AS DECIMAL(18,2)))").alias("rev"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    return yearly.select(
        F.col("yr").cast("int"),
        F.col("rev").cast("double").alias("revenue"),
        F.col("n_orders").cast("bigint"),
        F.round(
            F.expr(
                "CAST(rev AS DOUBLE)"
                " / CAST(LAG(rev) OVER (ORDER BY yr) AS DOUBLE) - 1.0"
            ),
            9,
        ).alias("yoy_growth"),
    ).orderBy("yr")


# ---------------------------------------------------------------------------
# Percentile band enrichment — the PRODUCTION equi-depth shape: compute
# decile boundaries once (broadcast scalars), assign each row its band
# with row-local comparisons. q_equidepth_histogram's global NTILE sort
# is the validation reference; THIS is what runs at 100 TB.
# ---------------------------------------------------------------------------

@query(
    "q_quantile_band_join",
    """
    WITH bounds AS (
        SELECT list_transform(quantile_cont(l_extendedprice,
                     [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]),
                     x -> round(x, 9)) AS qs
        FROM lineitem),
    banded AS (
        SELECT l_extendedprice AS v, l_quantity,
               (SELECT COUNT(*) FROM UNNEST(qs) AS t(b)
                WHERE l_extendedprice > b) AS band
        FROM lineitem CROSS JOIN bounds)
    SELECT CAST(band AS INTEGER) AS band,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(MIN(v), 9) AS lo, ROUND(MAX(v), 9) AS hi,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
               AS qty_sum
    FROM banded GROUP BY band ORDER BY band
    """,
)
def q_quantile_band_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile band per lineitem row via broadcast boundary scalars: one
    stats pass computes the 9 exact decile boundaries (R-7
    interpolation, bit-identical across engines), every row's band is
    then a row-local count of boundaries below its value — no global
    sort, no shuffle beyond the final rollup. Exactly how a 100 TB
    pipeline assigns percentile bands (with the GK sketch supplying
    boundaries when exactness isn't required); the NTILE form
    (q_equidepth_histogram) is this operator's validation reference."""
    from .quantiles import exact_percentiles_histo

    li = table(spark, sf_dir, "lineitem")
    # Boundary pass via the two-pass histogram rank selection
    # (operators/quantiles.py): bit-identical to the Percentile
    # aggregate, but no task ever holds the distinct-price set — the
    # histogram is 1024 codegen-aggregated rows and only the <= 18
    # rank-carrying bins are re-sorted. r12 interleaved A/B at sf0.1
    # (warm, min-of-3): freq-form percentile agg 2.10-2.77 s vs
    # 0.64-0.85 s for this form, boundaries BIT-IDENTICAL; it also
    # retires the r6 freq-form pre-count (0.46 s), whose single-task
    # 583k-entry map merge was the remaining scale bottleneck.
    bounds = exact_percentiles_histo(
        li, [], "l_extendedprice",
        [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9],
    ).select(F.expr("transform(qs, x -> round(x, 9))").alias("qs"))
    # band = count of boundaries below the value, unrolled over the 9
    # literal array slots: the filter() HOF lambda is CodegenFallback
    # (interpreted per row); the CASE sum stays inside WholeStageCodegen
    # (guide §4.1 — identical integers, r12 A/B 0.65 vs 0.77 s on the
    # banding pass)
    band_expr = " + ".join(
        f"(CASE WHEN l_extendedprice > qs[{i}] THEN 1 ELSE 0 END)"
        for i in range(9)
    )
    banded = li.select("l_extendedprice", "l_quantity").join(
        F.broadcast(bounds)
    ).select(
        F.col("l_extendedprice").alias("v"),
        "l_quantity",
        F.expr(band_expr).alias("band"),
    )
    return (
        banded.groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("v"), 9).alias("lo"),
            F.round(F.max("v"), 9).alias("hi"),
            F.expr(
                "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)"
            ).alias("qty_sum"),
        )
        .select(F.col("band").cast("int"), "n", "lo", "hi", "qty_sum")
    )


# ---------------------------------------------------------------------------
# RFM customer segmentation — recency/frequency/monetary banding, the
# classic lifecycle-marketing rollup, built on the same broadcast
# median boundaries as the percentile band join.
# ---------------------------------------------------------------------------

@query(
    "q_rfm_segmentation",
    """
    WITH per_cust AS (
        SELECT o_custkey,
               MAX(CAST(o_orderdate AS DATE)) AS last_order,
               COUNT(*) AS freq,
               SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS monetary
        FROM orders GROUP BY o_custkey),
    anchor AS (SELECT MAX(last_order) AS maxd FROM per_cust),
    scored AS (
        SELECT o_custkey,
               maxd - last_order AS recency_days,
               freq, monetary
        FROM per_cust CROSS JOIN anchor),
    meds AS (
        SELECT ROUND(quantile_cont(CAST(recency_days AS DOUBLE), 0.5), 9)
                   AS med_r,
               ROUND(quantile_cont(CAST(freq AS DOUBLE), 0.5), 9) AS med_f,
               ROUND(quantile_cont(CAST(monetary AS DOUBLE), 0.5), 9)
                   AS med_m
        FROM scored)
    SELECT CASE WHEN CAST(recency_days AS DOUBLE) <= med_r
                THEN 'R+' ELSE 'R-' END ||
           CASE WHEN CAST(freq AS DOUBLE) > med_f
                THEN 'F+' ELSE 'F-' END ||
           CASE WHEN CAST(monetary AS DOUBLE) > med_m
                THEN 'M+' ELSE 'M-' END AS segment,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(CAST(monetary AS DECIMAL(18,2))) AS DOUBLE)
               AS segment_revenue,
           CAST(MIN(o_custkey) AS BIGINT) AS min_custkey
    FROM scored CROSS JOIN meds
    GROUP BY segment ORDER BY segment
    """,
)
def q_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eight-cell RFM segmentation: per customer recency (days since
    last order vs corpus max date), frequency, decimal-exact monetary;
    each dimension split at its exact median (broadcast scalars, R-7
    interpolation), customers labeled R±F±M± and rolled up with
    segment revenue. Two narrow aggregations + one broadcast — the
    lifecycle-marketing report at fact-table scale."""
    orders = table(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.max(F.col("o_orderdate").cast("date")).alias("last_order"),
        F.count(F.lit(1)).alias("freq"),
        F.expr("SUM(CAST(o_totalprice AS DECIMAL(18,2)))").alias("monetary"),
    )
    anchor = per_cust.agg(F.max("last_order").alias("maxd"))
    scored = per_cust.crossJoin(F.broadcast(anchor)).select(
        "o_custkey",
        F.datediff("maxd", "last_order").alias("recency_days"),
        "freq",
        "monetary",
    )
    meds = scored.agg(
        F.round(
            F.expr("percentile(CAST(recency_days AS DOUBLE), 0.5)"), 9
        ).alias("med_r"),
        F.round(F.expr("percentile(CAST(freq AS DOUBLE), 0.5)"), 9).alias(
            "med_f"
        ),
        F.round(
            F.expr("percentile(CAST(monetary AS DOUBLE), 0.5)"), 9
        ).alias("med_m"),
    )
    seg = F.concat(
        F.when(
            F.col("recency_days").cast("double") <= F.col("med_r"), "R+"
        ).otherwise("R-"),
        F.when(F.col("freq").cast("double") > F.col("med_f"), "F+").otherwise(
            "F-"
        ),
        F.when(
            F.col("monetary").cast("double") > F.col("med_m"), "M+"
        ).otherwise("M-"),
    )
    return (
        scored.crossJoin(F.broadcast(meds))
        .groupBy(seg.alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.expr(
                "CAST(SUM(CAST(monetary AS DECIMAL(18,2))) AS DOUBLE)"
            ).alias("segment_revenue"),
            F.min("o_custkey").cast("bigint").alias("min_custkey"),
        )
    )


# ---------------------------------------------------------------------------
# A/B test analysis — two-proportion z-test over deterministic variant
# assignment: the experimentation primitive (conversion lift, pooled
# standard error, z statistic), exact counts + one fixed IEEE tail.
# ---------------------------------------------------------------------------

@query(
    "q_ab_test",
    """
    WITH assigned AS (
        SELECT CASE WHEN o_orderkey % 2 = 0 THEN 'A' ELSE 'B' END AS variant,
               CASE WHEN o_orderstatus = 'F'
                     AND (o_orderkey % 2 = 0 OR o_orderkey % 7 < 3)
                    THEN 1 ELSE 0 END AS converted
        FROM orders),
    arms AS (
        SELECT variant, COUNT(*) AS n, SUM(converted) AS conv
        FROM assigned GROUP BY variant),
    wide AS (
        SELECT MAX(CASE WHEN variant = 'A' THEN n END) AS na,
               MAX(CASE WHEN variant = 'A' THEN conv END) AS ca,
               MAX(CASE WHEN variant = 'B' THEN n END) AS nb,
               MAX(CASE WHEN variant = 'B' THEN conv END) AS cb
        FROM arms)
    SELECT CAST(na AS BIGINT) AS n_a, CAST(ca AS BIGINT) AS conv_a,
           CAST(nb AS BIGINT) AS n_b, CAST(cb AS BIGINT) AS conv_b,
           ROUND(CAST(ca AS DOUBLE) / na, 9) AS rate_a,
           ROUND(CAST(cb AS DOUBLE) / nb, 9) AS rate_b,
           ROUND((CAST(ca AS DOUBLE) / na) - (CAST(cb AS DOUBLE) / nb), 9)
               AS lift,
           ROUND(((CAST(ca AS DOUBLE) / na) - (CAST(cb AS DOUBLE) / nb))
                 / SQRT((CAST(ca + cb AS DOUBLE) / (na + nb))
                        * (1.0 - CAST(ca + cb AS DOUBLE) / (na + nb))
                        * (1.0 / na + 1.0 / nb)), 9) AS z_score
    FROM wide
    """,
)
def q_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test between deterministic variant arms
    (orderkey parity assigns A/B; the conversion rule gives arm A a
    real planted lift): per-arm counts, conversion rates, absolute
    lift, and the pooled-standard-error z statistic — the
    experimentation readout. Counts are exact integers; the z score is
    ONE fixed IEEE expression over them, rounded 1e-9, so even the
    test statistic hash-checks across engines."""
    orders = table(spark, sf_dir, "orders")
    assigned = orders.select(
        F.when(F.col("o_orderkey") % 2 == 0, "A").otherwise("B").alias(
            "variant"
        ),
        F.when(
            (F.col("o_orderstatus") == "F")
            & (
                (F.col("o_orderkey") % 2 == 0)
                | (F.col("o_orderkey") % 7 < 3)
            ),
            1,
        )
        .otherwise(0)
        .alias("converted"),
    )
    arms = assigned.groupBy("variant").agg(
        F.count(F.lit(1)).alias("n"), F.sum("converted").alias("conv")
    )
    wide = arms.agg(
        F.max(F.when(F.col("variant") == "A", F.col("n"))).alias("na"),
        F.max(F.when(F.col("variant") == "A", F.col("conv"))).alias("ca"),
        F.max(F.when(F.col("variant") == "B", F.col("n"))).alias("nb"),
        F.max(F.when(F.col("variant") == "B", F.col("conv"))).alias("cb"),
    )
    return wide.select(
        F.col("na").cast("bigint").alias("n_a"),
        F.col("ca").cast("bigint").alias("conv_a"),
        F.col("nb").cast("bigint").alias("n_b"),
        F.col("cb").cast("bigint").alias("conv_b"),
        F.round(F.expr("CAST(ca AS DOUBLE) / na"), 9).alias("rate_a"),
        F.round(F.expr("CAST(cb AS DOUBLE) / nb"), 9).alias("rate_b"),
        F.round(
            F.expr("(CAST(ca AS DOUBLE) / na) - (CAST(cb AS DOUBLE) / nb)"),
            9,
        ).alias("lift"),
        F.round(
            F.expr(
                "((CAST(ca AS DOUBLE) / na) - (CAST(cb AS DOUBLE) / nb))"
                " / SQRT((CAST(ca + cb AS DOUBLE) / (na + nb))"
                "        * (1.0 - CAST(ca + cb AS DOUBLE) / (na + nb))"
                "        * (1.0 / na + 1.0 / nb))"
            ),
            9,
        ).alias("z_score"),
    )


# ---------------------------------------------------------------------------
# Seasonal index — monthly multiplicative seasonality of order volume:
# month-mean over grand-mean ratios, the decomposition a demand
# forecast starts from.
# ---------------------------------------------------------------------------

@query(
    "q_seasonal_index",
    """
    WITH monthly AS (
        SELECT CAST(strftime(o_orderdate, '%Y') AS INTEGER) AS yr,
               CAST(strftime(o_orderdate, '%m') AS INTEGER) AS mo,
               COUNT(*) AS n,
               SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
        FROM orders GROUP BY yr, mo),
    by_month AS (
        SELECT mo,
               CAST(SUM(n) AS BIGINT) AS n_orders,
               CAST(SUM(rev) AS DECIMAL(20,2)) AS rev,
               COUNT(*) AS n_years
        FROM monthly GROUP BY mo),
    grand AS (
        SELECT SUM(n_orders) AS tot_n, COUNT(*) AS n_months
        FROM by_month)
    SELECT CAST(mo AS INTEGER) AS month,
           n_orders,
           CAST(rev AS DOUBLE) AS revenue,
           ROUND((CAST(n_orders AS DOUBLE) / n_years)
                 / (CAST(tot_n AS DOUBLE)
                    / (SELECT SUM(n_years) FROM by_month)), 9)
               AS seasonal_index
    FROM by_month CROSS JOIN grand
    ORDER BY month
    """,
)
def q_seasonal_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiplicative monthly seasonal index of order volume: each
    calendar month's per-year average divided by the grand
    per-observed-month average (denominator = total observed
    (year, month) cells — scale-factor agnostic), plus decimal-exact
    monthly revenue. Index
    > 1 = seasonally busy month; the starting point of any demand
    decomposition. Exact integer counts; one fixed IEEE ratio per
    row."""
    orders = table(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        F.expr("CAST(date_format(o_orderdate, 'yyyy') AS INT)").alias("yr"),
        F.expr("CAST(date_format(o_orderdate, 'MM') AS INT)").alias("mo"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("SUM(CAST(o_totalprice AS DECIMAL(18,2)))").alias("rev"),
    )
    by_month = monthly.groupBy("mo").agg(
        F.sum("n").cast("bigint").alias("n_orders"),
        F.expr("CAST(SUM(rev) AS DECIMAL(20,2))").alias("rev"),
        F.count(F.lit(1)).alias("n_years"),
    )
    grand = by_month.agg(
        F.sum("n_orders").alias("tot_n"),
        F.sum("n_years").alias("obs_months"),
    )
    return (
        by_month.crossJoin(F.broadcast(grand))
        .select(
            F.col("mo").cast("int").alias("month"),
            "n_orders",
            F.col("rev").cast("double").alias("revenue"),
            F.round(
                F.expr(
                    "(CAST(n_orders AS DOUBLE) / n_years)"
                    " / (CAST(tot_n AS DOUBLE)"
                    "    / CAST(obs_months AS DOUBLE))"
                ),
                9,
            ).alias("seasonal_index"),
        )
        .transform(sort_bounded, "month")
    )


# ---------------------------------------------------------------------------
# Pareto / ABC classification — rank parts by revenue, classify by
# cumulative share (A: first 80%, B: to 95%, C: tail): the inventory
# prioritization every supply-chain report runs.
# ---------------------------------------------------------------------------

@query(
    "q_abc_analysis",
    """
    WITH part_rev AS (
        SELECT l_partkey,
               SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS rev
        FROM lineitem GROUP BY l_partkey),
    ranked AS (
        SELECT l_partkey, rev,
               SUM(rev) OVER (ORDER BY rev DESC, l_partkey
                              ROWS UNBOUNDED PRECEDING) AS cum_rev,
               SUM(rev) OVER () AS tot_rev
        FROM part_rev),
    classed AS (
        SELECT CASE WHEN cum_rev * 100 <= tot_rev * 80 THEN 'A'
                    WHEN cum_rev * 100 <= tot_rev * 95 THEN 'B'
                    ELSE 'C' END AS cls,
               rev
        FROM ranked)
    SELECT cls,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(SUM(rev) AS DOUBLE) AS class_revenue
    FROM classed GROUP BY cls ORDER BY cls
    """,
)
def q_abc_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC (Pareto) classification of parts by revenue: rank by
    decimal-exact revenue, classify by cumulative share — A carries
    the first 80% of revenue, B to 95%, C the tail. The comparison is
    integer-free of rounding (cum*100 <= tot*80 over DECIMALs), so
    class boundaries are exact. The cumulative runs over the per-part
    rollup, not the fact stream — and since r7 as a TWO-PASS prefix
    sum (range-repartition on (rev DESC, l_partkey), cumulate within
    partitions, broadcast offsets — the q_global_rownum idiom),
    because the part dimension itself scales with SF: at 100 TB a
    partition-less window over one row per part is a single-partition
    sort of hundreds of millions of rows. The revenue total is a
    broadcast scalar, not a SUM() OVER () window."""
    from pyspark.sql.window import Window

    li = table(spark, sf_dir, "lineitem")
    part_rev = li.groupBy("l_partkey").agg(
        F.expr("SUM(CAST(l_extendedprice AS DECIMAL(18,2)))").alias("rev")
    )
    tot = part_rev.agg(F.sum("rev").alias("tot_rev"))
    parted = part_rev.repartitionByRange(
        range_parts(part_rev), F.desc("rev"), F.asc("l_partkey")
    ).withColumn("_pid", F.spark_partition_id())
    offsets = (
        parted.groupBy("_pid")
        .agg(F.sum("rev").alias("_r"))
        .select(
            "_pid",
            F.expr(
                "COALESCE(SUM(_r) OVER (ORDER BY _pid ROWS BETWEEN"
                " UNBOUNDED PRECEDING AND 1 PRECEDING),"
                " CAST(0 AS DECIMAL(28,2)))"
            ).alias("_off"),
        )
    )
    w_local = Window.partitionBy("_pid").orderBy(
        F.desc("rev"), F.asc("l_partkey")
    )
    ranked = (
        parted.withColumn("_c", F.sum("rev").over(w_local))
        .join(F.broadcast(offsets), "_pid")
        .crossJoin(F.broadcast(tot))
        .select(
            "l_partkey",
            "rev",
            (F.col("_c") + F.col("_off")).alias("cum_rev"),
            "tot_rev",
        )
    )
    classed = ranked.select(
        F.when(
            F.col("cum_rev") * 100 <= F.col("tot_rev") * 80, "A"
        )
        .when(F.col("cum_rev") * 100 <= F.col("tot_rev") * 95, "B")
        .otherwise("C")
        .alias("cls"),
        "rev",
    )
    return (
        classed.groupBy("cls")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.expr("CAST(SUM(rev) AS DOUBLE)").alias("class_revenue"),
        )
    )


# ---------------------------------------------------------------------------
# Ordered string aggregation — the report surface (alphabetized member
# lists per group) with deterministic ordering on both engines.
# ---------------------------------------------------------------------------

@query(
    "q_string_agg_report",
    """
    SELECT r.r_name AS region,
           CAST(COUNT(*) AS BIGINT) AS n_nations,
           string_agg(n.n_name, ',' ORDER BY n.n_name) AS nations
    FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name ORDER BY region
    """,
)
def q_string_agg_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Alphabetized nation roster per region: Spark spells ordered
    string aggregation as array_sort(collect_list(...)) + array_join
    (collect_list order is nondeterministic by contract — the sort is
    MANDATORY for a hash-stable report), DuckDB as
    string_agg(ORDER BY). Same string, two idioms."""
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    return (
        n.join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy(F.col("r_name").alias("region"))
        .agg(
            F.count(F.lit(1)).alias("n_nations"),
            F.array_join(
                F.array_sort(F.collect_list("n_name")), ","
            ).alias("nations"),
        )
        .transform(sort_bounded, "region")
    )


# ---------------------------------------------------------------------------
# Date spine — generate the complete calendar over the data's range
# and LEFT join facts onto it, so days with ZERO activity exist as
# rows: the pattern every time series report needs (a groupBy alone
# silently omits empty days, hiding outages as smoothness).
# ---------------------------------------------------------------------------

@query(
    "q_date_spine",
    """
    WITH bounds AS (
        SELECT MIN(CAST(o_orderdate AS DATE)) AS d0,
               MAX(CAST(o_orderdate AS DATE)) AS d1
        FROM orders),
    spine AS (
        SELECT UNNEST(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS d
        FROM bounds),
    daily AS (
        SELECT CAST(o_orderdate AS DATE) AS d, COUNT(*) AS n
        FROM orders GROUP BY d)
    SELECT CAST(strftime(s.d, '%Y') AS INTEGER) AS yr,
           CAST(strftime(s.d, '%m') AS INTEGER) AS mo,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(SUM(CASE WHEN daily.n IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS zero_days,
           CAST(SUM(COALESCE(daily.n, 0)) AS BIGINT) AS n_orders
    FROM spine s LEFT JOIN daily ON s.d = daily.d
    GROUP BY yr, mo ORDER BY yr, mo
    """,
)
def q_date_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Complete daily calendar over the orders date range (sequence()
    between the min and max date, exploded) LEFT joined to daily order
    counts: per month, total days, ZERO-activity days, and order
    totals. Without the spine a groupBy silently omits empty days and
    an outage reads as smoothness — the spine makes absence a row.
    The spine generation is one broadcast scalar pair + a row-local
    sequence explode; the join is day-keyed."""
    orders = table(spark, sf_dir, "orders")
    bounds = orders.agg(
        F.min(F.col("o_orderdate").cast("date")).alias("d0"),
        F.max(F.col("o_orderdate").cast("date")).alias("d1"),
    )
    spine = bounds.select(
        F.explode(F.expr("sequence(d0, d1, interval 1 day)")).alias("d")
    )
    daily = orders.groupBy(
        F.col("o_orderdate").cast("date").alias("d")
    ).agg(F.count(F.lit(1)).alias("n"))
    return (
        spine.join(daily, "d", "left")
        .groupBy(
            F.expr("CAST(date_format(d, 'yyyy') AS INT)").alias("yr"),
            F.expr("CAST(date_format(d, 'MM') AS INT)").alias("mo"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.sum(F.col("n").isNull().cast("long")).alias("zero_days"),
            F.sum(F.coalesce("n", F.lit(0))).cast("bigint").alias(
                "n_orders"
            ),
        )
        .orderBy("yr", "mo")
    )


# ---------------------------------------------------------------------------
# Two-sample Kolmogorov-Smirnov drift (exact) — the distribution-shape
# companion to q_drift_psi's binned PSI: KS is the max ECDF gap, so it
# catches shifts PSI's 10 coarse buckets can smear out. Computed in
# pure integers (ks_num = max |c1*n2 - c2*n1|; ks = ks_num/(n1*n2)) so
# the statistic is engine-exact with no double accumulation at all.
#
# Scale shape: one groupBy collapses the corpus to its distinct
# (segment, value) pairs; the ECDF cumsums are windows PARTITIONED BY
# SEGMENT (never a global single-partition sort — contrast
# q_equidepth_histogram's sanctioned NTILE); per segment the window
# sorts only that segment's distinct values. The production
# approximation for mega-cardinality columns is the same formula over
# GK-sketch quantile grids (q_approx_quantile_profile).
# ---------------------------------------------------------------------------

@query(
    "q_ks_drift",
    f"""
    WITH split AS (
        SELECT o_orderpriority AS segment, o_totalprice AS v,
               (o_orderdate < TIMESTAMP '1998-01-01') AS is_ref
        FROM orders),
    counts AS (
        SELECT segment, v,
               COUNT(*) FILTER (WHERE is_ref) AS c1,
               COUNT(*) FILTER (WHERE NOT is_ref) AS c2
        FROM split GROUP BY segment, v),
    tot AS (
        SELECT segment, SUM(c1) AS n1, SUM(c2) AS n2
        FROM counts GROUP BY segment),
    cum AS (
        SELECT segment, v,
               SUM(c1) OVER (PARTITION BY segment ORDER BY v) AS cc1,
               SUM(c2) OVER (PARTITION BY segment ORDER BY v) AS cc2
        FROM counts),
    d AS (
        SELECT c.segment, MAX(ABS(cc1 * t.n2 - cc2 * t.n1)) AS ks_num
        FROM cum c JOIN tot t ON c.segment = t.segment
        GROUP BY c.segment)
    SELECT d.segment,
           CAST(t.n1 AS BIGINT) AS n_ref,
           CAST(t.n2 AS BIGINT) AS n_cur,
           CAST(d.ks_num AS BIGINT) AS ks_num,
           CAST(d.ks_num AS DOUBLE) / (t.n1 * t.n2) AS ks_stat
    FROM d JOIN tot t ON d.segment = t.segment
    ORDER BY d.segment
    """,
)
def q_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority-segment exact KS statistic for o_totalprice, ref =
    pre-1998 orders vs cur = 1998+ (the q_drift_psi split). The max
    ECDF gap is computed over the POOLED distinct values — the proper
    two-sample KS — and reported both as the exact integer numerator
    and the double statistic."""
    from pyspark.sql.window import Window

    orders = table(spark, sf_dir, "orders")
    split = orders.select(
        F.col("o_orderpriority").alias("segment"),
        F.col("o_totalprice").alias("v"),
        (F.col("o_orderdate") < F.expr("TIMESTAMP '1998-01-01'")).alias(
            "is_ref"
        ),
    )
    counts = split.groupBy("segment", "v").agg(
        F.count_if("is_ref").alias("c1"),
        F.count_if(~F.col("is_ref")).alias("c2"),
    )
    tot = counts.groupBy("segment").agg(
        F.sum("c1").alias("n1"), F.sum("c2").alias("n2")
    )
    w = Window.partitionBy("segment").orderBy("v")
    cum = counts.select(
        "segment",
        F.sum("c1").over(w).alias("cc1"),
        F.sum("c2").over(w).alias("cc2"),
    )
    d = (
        cum.join(F.broadcast(tot), "segment")
        .groupBy("segment")
        .agg(
            F.max(
                F.abs(F.col("cc1") * F.col("n2") - F.col("cc2") * F.col("n1"))
            ).alias("ks_num")
        )
    )
    return (
        d.join(F.broadcast(tot), "segment")
        .select(
            "segment",
            F.col("n1").cast("bigint").alias("n_ref"),
            F.col("n2").cast("bigint").alias("n_cur"),
            F.col("ks_num").cast("bigint").alias("ks_num"),
            (
                F.col("ks_num").cast("double")
                / (F.col("n1") * F.col("n2"))
            ).alias("ks_stat"),
        )
    )


# ---------------------------------------------------------------------------
# Robust scaling (median / IQR) — the outlier-immune feature
# transform next to ml.standardize's mean/std: one stats pass per
# group, broadcast the three quantile constants, then a row-local
# transform. The r5 MAD finding applies here too: the per-group exact
# percentile sort is the cost, the scan is not.
# ---------------------------------------------------------------------------

@query(
    "q_robust_scale",
    """
    WITH stats AS (
        SELECT l_returnflag AS flag,
               ROUND(quantile_cont(l_extendedprice, 0.50), 9) AS med,
               ROUND(quantile_cont(l_extendedprice, 0.75), 9)
                   - ROUND(quantile_cont(l_extendedprice, 0.25), 9) AS iqr
        FROM lineitem GROUP BY l_returnflag),
    scaled AS (
        SELECT l_returnflag, s.med, s.iqr,
               (l_extendedprice - s.med) / s.iqr AS z
        FROM lineitem JOIN stats s ON l_returnflag = s.flag)
    SELECT l_returnflag, med, iqr,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(*) FILTER (WHERE ABS(z) > 0.8) AS BIGINT)
               AS n_beyond_08,
           CAST(SUM(CAST(z AS DECIMAL(18,9))) AS DOUBLE) AS z_checksum
    FROM scaled
    GROUP BY l_returnflag, med, iqr
    ORDER BY l_returnflag
    """,
)
def q_robust_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-returnflag robust scaling of extended price: z = (x - med)
    / IQR with exact interpolated quartiles (ROUNDed to 1e-9 before
    reuse so both engines transform with identical constants), plus
    the |z| > 0.8 tail count (under IQR scaling a uniform column tops
    out at |z| = 1, so 0.8 marks its outer 20% — heavy-tailed real
    data would show far more) and a DECIMAL-routed checksum of the
    scaled column."""
    li = table(spark, sf_dir, "lineitem")
    # quartiles in FREQUENCY form over pre-counted (flag, price) pairs,
    # all three in ONE percentile(array) buffer — same Percentile code
    # path, bit-identical results, but the aggregate ingests distinct
    # values instead of raw rows and builds one map instead of three
    # (interleaved A/B at sf1, 3 rounds: raw 4.4-7.9 s vs freq
    # 1.3-2.4 s; outputs set-equal each round)
    price_counts = li.groupBy(
        F.col("l_returnflag").alias("flag"), "l_extendedprice"
    ).agg(F.count(F.lit(1)).alias("freq"))
    stats = (
        price_counts.groupBy("flag")
        .agg(
            F.expr(
                "percentile(l_extendedprice,"
                " array(0.25D, 0.5D, 0.75D), freq)"
            ).alias("qs")
        )
        .select(
            "flag",
            F.round(F.element_at("qs", 2), 9).alias("med"),
            (
                F.round(F.element_at("qs", 3), 9)
                - F.round(F.element_at("qs", 1), 9)
            ).alias("iqr"),
        )
    )
    # pass 2 in FREQUENCY form too (r13): equal prices give identical
    # z, so the clamp-count and checksum are freq-weighted sums over
    # the SAME price_counts table pass 1 aggregated — ReusedExchange
    # shares the hash-agg build across the two passes instead of
    # re-scanning raw lineitem (interleaved A/B min-of-3: sf0.1
    # 2.97->2.41 s, sf1 2.99->2.02 s; rows identical both SFs). freq
    # rides as DECIMAL(12,0), NOT BIGINT: DECIMAL(18,9) x DECIMAL(20,0)
    # needs precision 39 and Spark resolves that overflow by CLIPPING
    # THE SCALE (~1e-7 checksum drift); (18,9) x (12,0) -> (31,9) keeps
    # the product exact, so SUM(z_dec * freq) == SUM over raw rows
    # bit-for-bit. BOUND: the checksum is exact while no (flag, price)
    # group reaches 10^12 rows (freq fits DECIMAL(12,0)). Past it the
    # cast overflows; the engine's session runs with ANSI on (Spark 4's
    # default, left unchanged by session.py), so the query raises
    # NUMERIC_VALUE_OUT_OF_RANGE instead of returning NULL.
    scaled = price_counts.withColumnRenamed("flag", "l_returnflag").join(
        F.broadcast(stats), F.col("l_returnflag") == F.col("flag")
    ).withColumn(
        "z", (F.col("l_extendedprice") - F.col("med")) / F.col("iqr")
    )
    return (
        scaled.groupBy("l_returnflag", "med", "iqr")
        .agg(
            F.sum("freq").cast("bigint").alias("n"),
            F.coalesce(
                F.sum(F.when(F.abs(F.col("z")) > 0.8, F.col("freq"))),
                F.lit(0),
            )
            .cast("bigint")
            .alias("n_beyond_08"),
            F.expr(
                "CAST(SUM(CAST(z AS DECIMAL(18,9))"
                " * CAST(freq AS DECIMAL(12,0))) AS DOUBLE)"
            ).alias("z_checksum"),
        )
        .select(
            "l_returnflag", "med", "iqr", "n", "n_beyond_08", "z_checksum"
        )
        .transform(sort_bounded, "l_returnflag")
    )


# ---------------------------------------------------------------------------
# Pareto frontier (skyline) per market segment — "which customers are
# not dominated on (spend, order count)": the multi-objective shortlist
# query. Sort-based skyline: within each segment, sort by (spend DESC,
# n DESC); a customer is on the frontier iff no strictly-preceding row
# reaches its order count. One window PARTITIONED BY SEGMENT over the
# pre-aggregated per-customer rows — the corpus never sees a global
# sort, and the quadratic dominance test never materializes.
# ---------------------------------------------------------------------------

@query(
    "q_skyline_pareto",
    """
    WITH per_cust AS (
        SELECT c.c_mktsegment AS segment, o.o_custkey AS custkey,
               CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS spend,
               COUNT(*) AS n_orders
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY c.c_mktsegment, o.o_custkey),
    dedup AS (
        SELECT segment, spend, n_orders, MIN(custkey) AS custkey
        FROM per_cust GROUP BY segment, spend, n_orders),
    flagged AS (
        SELECT segment, custkey, spend, n_orders,
               MAX(n_orders) OVER (PARTITION BY segment
                                   ORDER BY spend DESC, n_orders DESC
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND 1 PRECEDING) AS best_prev
        FROM dedup)
    SELECT segment, CAST(custkey AS BIGINT) AS custkey, spend,
           CAST(n_orders AS BIGINT) AS n_orders
    FROM flagged
    WHERE best_prev IS NULL OR n_orders > best_prev
    ORDER BY segment, spend DESC, n_orders DESC
    """,
)
def q_skyline_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment Pareto-optimal customers on (total spend, order
    count): a customer is kept iff no other customer in the segment is
    at least as good on both axes and strictly better on one.
    (spend, n_orders) duplicates collapse to their min custkey first,
    so the running-max dominance test is exact. Spend is
    DECIMAL-routed, the frontier test is integer-only."""
    from pyspark.sql.window import Window

    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    per_cust = (
        o.join(
            c.select("c_custkey", "c_mktsegment"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            F.col("o_custkey").alias("custkey"),
        )
        .agg(
            F.expr(
                "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)"
            ).alias("spend"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )
    dedup = per_cust.groupBy("segment", "spend", "n_orders").agg(
        F.min("custkey").alias("custkey")
    )
    w = (
        Window.partitionBy("segment")
        .orderBy(F.desc("spend"), F.desc("n_orders"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = dedup.withColumn("best_prev", F.max("n_orders").over(w))
    return (
        flagged.where(
            F.col("best_prev").isNull()
            | (F.col("n_orders") > F.col("best_prev"))
        )
        .select(
            "segment",
            F.col("custkey").cast("bigint").alias("custkey"),
            "spend",
            F.col("n_orders").cast("bigint").alias("n_orders"),
        )
    )


# ---------------------------------------------------------------------------
# Decile lift / gains table — the model-targeting readout built on the
# broadcast-boundary banding of q_quantile_band_join: rank the
# population into score deciles, then per decile the response rate and
# the CUMULATIVE lift over the base rate (all rates in exact ppm).
# ---------------------------------------------------------------------------

@query(
    "q_decile_lift",
    """
    WITH bounds AS (
        SELECT list_transform(
                   quantile_cont(o_totalprice,
                       [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]),
                   x -> round(x, 9)) AS qs
        FROM orders),
    banded AS (
        SELECT len(list_filter(b.qs, q -> o.o_totalprice > q)) AS decile,
               CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END
                   AS resp
        FROM orders o CROSS JOIN bounds b),
    per_decile AS (
        SELECT decile, COUNT(*) AS n, SUM(resp) AS n_resp
        FROM banded GROUP BY decile),
    cum AS (
        SELECT decile, n, n_resp,
               SUM(n) OVER w AS cum_n,
               SUM(n_resp) OVER w AS cum_resp,
               SUM(n) OVER () AS tot_n,
               SUM(n_resp) OVER () AS tot_resp
        FROM per_decile
        WINDOW w AS (ORDER BY decile DESC ROWS UNBOUNDED PRECEDING))
    SELECT CAST(decile AS INTEGER) AS decile,
           CAST(n AS BIGINT) AS n,
           CAST(n_resp AS BIGINT) AS n_resp,
           CAST(n_resp * 1000000 // n AS BIGINT) AS resp_rate_ppm,
           CAST((cum_resp * tot_n * 1000000)
                // (cum_n * tot_resp) AS BIGINT) AS cum_lift_ppm
    FROM cum
    ORDER BY decile DESC
    """,
)
def q_decile_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gains table over orders, score = o_totalprice, response =
    urgent priority: per decile (9..0, top spenders first) the exact
    response rate and the cumulative lift vs the base rate, both as
    integer ppm (cum_lift = (cum_resp/cum_n)/(tot_resp/tot_n), cross-
    multiplied so no doubles exist at all). Deciles come from the same
    broadcast exact-percentile boundaries as q_quantile_band_join —
    no NTILE, no global sort. The 10-row cumulative window runs over
    the aggregated deciles, not the corpus."""
    from pyspark.sql.window import Window

    o = table(spark, sf_dir, "orders")
    # Boundary pass stays the Percentile aggregate: the histogram
    # rank-selection helper (operators/quantiles.py) was wired here in
    # r12 and REVERTED by the mid-round bench — over the 150k-row
    # orders input the agg's single merge costs ~0.3 s while the
    # helper's ~8 extra tiny jobs doubled the whole query (0.83 ->
    # 1.86 s). Same tradeoff as the grouped sites: the helper pays off
    # when the distinct-value domain is lineitem-sized (see
    # q_quantile_band_join), and remains the documented scale path.
    qs = "array(0.1D,0.2D,0.3D,0.4D,0.5D,0.6D,0.7D,0.8D,0.9D)"
    bounds = o.agg(
        F.expr(
            f"transform(percentile(o_totalprice, {qs}), x -> round(x, 9))"
        ).alias("qs")
    )
    # unrolled codegen band sum (see q_quantile_band_join)
    decile_expr = " + ".join(
        f"(CASE WHEN o_totalprice > qs[{i}] THEN 1 ELSE 0 END)"
        for i in range(9)
    )
    banded = (
        o.select("o_totalprice", "o_orderpriority")
        .join(F.broadcast(bounds))
        .select(
            F.expr(decile_expr).alias("decile"),
            F.when(F.col("o_orderpriority") == "1-URGENT", 1)
            .otherwise(0)
            .alias("resp"),
        )
    )
    per_decile = banded.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n"), F.sum("resp").alias("n_resp")
    )
    w = (
        Window.orderBy(F.desc("decile"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = per_decile.select(
        "decile",
        "n",
        "n_resp",
        F.sum("n").over(w).alias("cum_n"),
        F.sum("n_resp").over(w).alias("cum_resp"),
        F.sum("n").over(w_all).alias("tot_n"),
        F.sum("n_resp").over(w_all).alias("tot_resp"),
    )
    return cum.select(
        F.col("decile").cast("int").alias("decile"),
        F.col("n").cast("bigint").alias("n"),
        F.col("n_resp").cast("bigint").alias("n_resp"),
        F.expr("CAST(n_resp * 1000000 DIV n AS BIGINT)").alias(
            "resp_rate_ppm"
        ),
        F.expr(
            "CAST((cum_resp * tot_n * 1000000) DIV (cum_n * tot_resp)"
            " AS BIGINT)"
        ).alias("cum_lift_ppm"),
    ).orderBy(F.desc("decile"))


# ---------------------------------------------------------------------------
# UpSet-style multi-set overlaps — which COMBINATIONS of sets do
# entities fall into (the scalable replacement for a Venn diagram
# beyond 3 sets): one bitmask aggregate per entity, one count per
# mask. Two shuffles total regardless of how many sets; the naive
# alternative (2^N intersect queries) re-scans the corpus per region.
# ---------------------------------------------------------------------------

@query(
    "q_upset_overlaps",
    """
    WITH per_cust AS (
        SELECT o_custkey,
               SUM(DISTINCT CASE o_orderpriority
                   WHEN '1-URGENT' THEN 1
                   WHEN '2-HIGH' THEN 2
                   WHEN '3-MEDIUM' THEN 4
                   WHEN '4-NOT SPECIFIED' THEN 8
                   ELSE 16 END) AS mask
        FROM orders GROUP BY o_custkey)
    SELECT CAST(mask AS INTEGER) AS mask,
           concat(
               CASE WHEN mask % 2 = 1 THEN 'U' ELSE '' END,
               CASE WHEN (mask // 2) % 2 = 1 THEN 'H' ELSE '' END,
               CASE WHEN (mask // 4) % 2 = 1 THEN 'M' ELSE '' END,
               CASE WHEN (mask // 8) % 2 = 1 THEN 'N' ELSE '' END,
               CASE WHEN (mask // 16) % 2 = 1 THEN 'L' ELSE '' END)
               AS combo,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(MIN(o_custkey) AS BIGINT) AS min_custkey
    FROM per_cust
    GROUP BY mask
    ORDER BY mask
    """,
)
def q_upset_overlaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer membership combinations across the five order-priority
    sets as a bitmask histogram (UpSet plot input): per customer ONE
    distinct-sum builds the mask, per mask one count — the
    intersection sizes of all 2^5 regions from a single pass."""
    o = table(spark, sf_dir, "orders")
    bit = (
        F.when(F.col("o_orderpriority") == "1-URGENT", 1)
        .when(F.col("o_orderpriority") == "2-HIGH", 2)
        .when(F.col("o_orderpriority") == "3-MEDIUM", 4)
        .when(F.col("o_orderpriority") == "4-NOT SPECIFIED", 8)
        .otherwise(16)
    )
    per_cust = (
        o.select("o_custkey", bit.alias("bit"))
        .groupBy("o_custkey")
        .agg(F.sum_distinct(F.col("bit")).alias("mask"))
    )
    combo = F.concat(
        F.when(F.col("mask") % 2 == 1, "U").otherwise(""),
        F.when((F.col("mask") / 2).cast("long") % 2 == 1, "H").otherwise(""),
        F.when((F.col("mask") / 4).cast("long") % 2 == 1, "M").otherwise(""),
        F.when((F.col("mask") / 8).cast("long") % 2 == 1, "N").otherwise(""),
        F.when((F.col("mask") / 16).cast("long") % 2 == 1, "L").otherwise(""),
    )
    return (
        per_cust.groupBy("mask")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.min("o_custkey").cast("bigint").alias("min_custkey"),
        )
        .select(
            F.col("mask").cast("int").alias("mask"),
            combo.alias("combo"),
            "n_customers",
            "min_custkey",
        )
    )


# ---------------------------------------------------------------------------
# Weighted median — the order statistic under row weights (quantity-
# weighted price, token-weighted score...): per group, sort by value,
# accumulate weights, take the first value whose cumulative weight
# reaches half the total. Window partitioned per group; weights stay
# integers so the pick is engine-exact.
# ---------------------------------------------------------------------------

@query(
    "q_weighted_median",
    """
    WITH w AS (
        SELECT l_returnflag AS flag, l_extendedprice AS v,
               CAST(l_quantity AS BIGINT) AS wt
        FROM lineitem),
    cum AS (
        SELECT flag, v, wt,
               SUM(wt) OVER (PARTITION BY flag ORDER BY v, wt
                             ROWS UNBOUNDED PRECEDING) AS cw,
               SUM(wt) OVER (PARTITION BY flag) AS tw
        FROM w),
    pick AS (
        SELECT flag, v, cw, tw,
               ROW_NUMBER() OVER (PARTITION BY flag ORDER BY v, wt)
                   AS rk
        FROM cum WHERE 2 * cw >= tw)
    SELECT flag AS l_returnflag,
           ROUND(v, 9) AS weighted_median,
           CAST(tw AS BIGINT) AS total_weight
    FROM pick WHERE rk = 1
    ORDER BY flag
    """,
)
def q_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median price per returnflag: first value
    whose cumulative integer weight reaches half the group total
    (lower weighted median — deterministic, no interpolation
    convention to disagree on). One per-group window; the 100 TB form
    replaces the exact cumsum with GK-sketch boundaries exactly as in
    the unweighted case."""
    from pyspark.sql.window import Window

    li = table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("flag"),
        F.col("l_extendedprice").alias("v"),
        F.col("l_quantity").cast("bigint").alias("wt"),
    )
    w_cum = (
        Window.partitionBy("flag")
        .orderBy("v", "wt")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_tot = Window.partitionBy("flag")
    cum = li.select(
        "flag",
        "v",
        "wt",
        F.sum("wt").over(w_cum).alias("cw"),
        F.sum("wt").over(w_tot).alias("tw"),
    )
    pick = cum.where(2 * F.col("cw") >= F.col("tw")).withColumn(
        "rk",
        F.row_number().over(Window.partitionBy("flag").orderBy("v", "wt")),
    )
    return (
        pick.where(F.col("rk") == 1)
        .select(
            F.col("flag").alias("l_returnflag"),
            F.round("v", 9).alias("weighted_median"),
            F.col("tw").cast("bigint").alias("total_weight"),
        )
    )


# ---------------------------------------------------------------------------
# Chi-square test of independence — are two categoricals associated
# (order priority x line return status)? The contingency table is one
# groupBy; expected counts come from broadcast margins; the statistic
# is a sum of exact-integer-derived ratios. The experimentation /
# data-audit sibling of q_ab_test's two-proportion z.
# ---------------------------------------------------------------------------

@query(
    "q_chi2_independence",
    """
    WITH joined AS (
        SELECT o.o_orderpriority AS a, l.l_returnflag AS b
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
    cells AS (
        SELECT a, b, COUNT(*) AS n FROM joined GROUP BY a, b),
    margins AS (
        SELECT a, b, n,
               SUM(n) OVER (PARTITION BY a) AS na,
               SUM(n) OVER (PARTITION BY b) AS nb,
               SUM(n) OVER () AS nt
        FROM cells),
    terms AS (
        SELECT a, b, n, na, nb, nt,
               CAST(na AS DOUBLE) * nb / nt AS expected
        FROM margins)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
           CAST(MIN(nt) AS BIGINT) AS n_total,
           CAST((COUNT(DISTINCT a) - 1) * (COUNT(DISTINCT b) - 1)
                AS BIGINT) AS dof,
           CAST(SUM(CAST((n - expected) * (n - expected) / expected
                         AS DECIMAL(18,9))) AS DOUBLE) AS chi2
    FROM terms
    """,
)
def q_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square statistic for (order priority x return
    flag): expected cell counts from the margins of the one-pass
    contingency table, per-cell terms DECIMAL-routed into the
    statistic. Emits chi2 + degrees of freedom (the p-value lookup is
    a client-side constant table — no special functions exist in
    either engine, so the statistic IS the comparable quantity)."""
    from pyspark.sql.window import Window

    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_returnflag")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    cells = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            F.col("o_orderpriority").alias("a"),
            F.col("l_returnflag").alias("b"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wa = Window.partitionBy("a")
    wb = Window.partitionBy("b")
    wt = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    terms = cells.select(
        "a",
        "b",
        "n",
        F.sum("n").over(wa).alias("na"),
        F.sum("n").over(wb).alias("nb"),
        F.sum("n").over(wt).alias("nt"),
    ).withColumn(
        "expected", F.col("na").cast("double") * F.col("nb") / F.col("nt")
    )
    return terms.agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.min("nt").cast("bigint").alias("n_total"),
        (
            (F.countDistinct("a") - 1) * (F.countDistinct("b") - 1)
        )
        .cast("bigint")
        .alias("dof"),
        F.expr(
            "CAST(SUM(CAST((n - expected) * (n - expected) / expected"
            " AS DECIMAL(18,9))) AS DOUBLE)"
        ).alias("chi2"),
    )


# ---------------------------------------------------------------------------
# Gini concentration — inequality of spend across customers, per
# segment: the Lorenz-curve statistic the ABC/Pareto rollup
# summarizes with bands. Rank-based formula G = sum((2i - n - 1) x_i)
# / (n * sum(x)) over ascending spend — ranks from a window
# PARTITIONED BY SEGMENT, sums DECIMAL-routed.
# ---------------------------------------------------------------------------

@query(
    "q_gini_concentration",
    """
    WITH per_cust AS (
        SELECT c.c_mktsegment AS segment, o.o_custkey AS custkey,
               CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS spend
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY c.c_mktsegment, o.o_custkey),
    ranked AS (
        SELECT segment, spend,
               ROW_NUMBER() OVER (PARTITION BY segment
                                  ORDER BY spend, custkey) AS i,
               COUNT(*) OVER (PARTITION BY segment) AS n
        FROM per_cust)
    SELECT segment,
           CAST(MIN(n) AS BIGINT) AS n_customers,
           CAST(SUM(CAST(spend AS DECIMAL(18,2))) AS DOUBLE) AS total_spend,
           CAST(SUM(CAST((2 * i - n - 1) * spend AS DECIMAL(28,6)))
                AS DOUBLE)
               / (MIN(n) * CAST(SUM(CAST(spend AS DECIMAL(18,2)))
                                AS DOUBLE)) AS gini
    FROM ranked
    GROUP BY segment
    ORDER BY segment
    """,
)
def q_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment Gini coefficient of customer spend via the rank
    formula (0 = equal, ->1 = concentrated). (2i-n-1)*spend terms are
    DECIMAL(28,6)-snapped: |term| < n*spend_max ~ 3e8, so term*10^6
    stays double-exact. Ranks come from a per-segment window over the
    per-customer rollup — never the raw fact table."""
    from pyspark.sql.window import Window

    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    per_cust = (
        o.join(
            c.select("c_custkey", "c_mktsegment"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            F.col("o_custkey").alias("custkey"),
        )
        .agg(
            F.expr(
                "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)"
            ).alias("spend")
        )
    )
    w_rk = Window.partitionBy("segment").orderBy("spend", "custkey")
    w_n = Window.partitionBy("segment")
    ranked = per_cust.select(
        "segment",
        "spend",
        F.row_number().over(w_rk).alias("i"),
        F.count(F.lit(1)).over(w_n).alias("n"),
    )
    return (
        ranked.groupBy("segment")
        .agg(
            F.min("n").cast("bigint").alias("n_customers"),
            F.expr(
                "CAST(SUM(CAST(spend AS DECIMAL(18,2))) AS DOUBLE)"
            ).alias("total_spend"),
            F.expr(
                "CAST(SUM(CAST((2 * i - n - 1) * spend AS DECIMAL(28,6)))"
                " AS DOUBLE)"
                " / (MIN(n) * CAST(SUM(CAST(spend AS DECIMAL(18,2)))"
                " AS DOUBLE))"
            ).alias("gini"),
        )
    )


# ---------------------------------------------------------------------------
# OLS slope per group (price elasticity) — simple regression as pure
# aggregation: slope = (n*Sxy - Sx*Sy) / (n*Sxx - Sx^2) from one pass
# of DECIMAL-snapped ln moments. The "regression in SQL" primitive:
# no solver, one shuffle, exact cross-engine because every moment is
# a decimal sum of identically-snapped terms.
# ---------------------------------------------------------------------------

@query(
    "q_ols_elasticity",
    """
    WITH pts AS (
        SELECT l_returnflag AS grp,
               CAST(floor(ln(l_extendedprice) * 1000000) AS BIGINT) AS x,
               CAST(floor(ln(l_quantity) * 1000000) AS BIGINT) AS y
        FROM lineitem WHERE l_quantity > 0 AND l_extendedprice > 0),
    moments AS (
        SELECT grp, COUNT(*) AS n,
               SUM(x) AS sx, SUM(y) AS sy,
               SUM(CAST(x AS DECIMAL(38,0)) * y) AS sxy,
               SUM(CAST(x AS DECIMAL(38,0)) * x) AS sxx,
               SUM(CAST(y AS DECIMAL(38,0)) * y) AS syy
        FROM pts GROUP BY grp),
    exact AS (
        SELECT grp, n,
               CAST(n * sxy - CAST(sx AS DECIMAL(38,0)) * sy AS DOUBLE)
                   AS cov_n,
               CAST(n * sxx - CAST(sx AS DECIMAL(38,0)) * sx AS DOUBLE)
                   AS varx_n,
               CAST(n * syy - CAST(sy AS DECIMAL(38,0)) * sy AS DOUBLE)
                   AS vary_n,
               CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd
        FROM moments)
    SELECT grp AS l_returnflag,
           CAST(n AS BIGINT) AS n,
           cov_n / varx_n AS slope,
           (syd - cov_n / varx_n * sxd) / (n * 1000000.0) AS intercept,
           (cov_n * cov_n) / (varx_n * vary_n) AS r2
    FROM exact
    ORDER BY grp
    """,
)
def q_ols_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-log OLS of quantity on price per returnflag (the price-
    elasticity readout): slope, intercept and r-squared from ONE pass
    of integer moments — ln values snap to 1e-6 fixed-point BIGINTs,
    second moments accumulate in DECIMAL(38,0), and crucially the
    catastrophic cancellations (n*Sxy - Sx*Sy, n*Sxx - Sx^2) happen
    IN EXACT DECIMAL before any double conversion (the r5 first cut
    converted moments to double first and the ~12 cancelled digits
    amplified conversion ULPs into 1e-10 cross-engine drift). At
    100 TB this is the only shape regression fits take on a cluster —
    solvers aggregate these same moments."""
    li = table(spark, sf_dir, "lineitem").where(
        (F.col("l_quantity") > 0) & (F.col("l_extendedprice") > 0)
    )
    pts = li.select(
        F.col("l_returnflag").alias("grp"),
        F.expr(
            "CAST(floor(ln(l_extendedprice) * 1000000) AS BIGINT)"
        ).alias("x"),
        F.expr("CAST(floor(ln(l_quantity) * 1000000) AS BIGINT)").alias("y"),
    )
    moments = pts.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.expr("SUM(CAST(x AS DECIMAL(38,0)) * y)").alias("sxy"),
        F.expr("SUM(CAST(x AS DECIMAL(38,0)) * x)").alias("sxx"),
        F.expr("SUM(CAST(y AS DECIMAL(38,0)) * y)").alias("syy"),
    )
    exact = moments.select(
        "grp",
        "n",
        F.expr(
            "CAST(n * sxy - CAST(sx AS DECIMAL(38,0)) * sy AS DOUBLE)"
        ).alias("cov_n"),
        F.expr(
            "CAST(n * sxx - CAST(sx AS DECIMAL(38,0)) * sx AS DOUBLE)"
        ).alias("varx_n"),
        F.expr(
            "CAST(n * syy - CAST(sy AS DECIMAL(38,0)) * sy AS DOUBLE)"
        ).alias("vary_n"),
        F.col("sx").cast("double").alias("sxd"),
        F.col("sy").cast("double").alias("syd"),
    )
    return exact.select(
        F.col("grp").alias("l_returnflag"),
        F.col("n").cast("bigint").alias("n"),
        F.expr("cov_n / varx_n").alias("slope"),
        F.expr(
            "(syd - cov_n / varx_n * sxd) / (n * CAST(1000000 AS DOUBLE))"
        ).alias("intercept"),
        F.expr("(cov_n * cov_n) / (varx_n * vary_n)").alias("r2"),
    ).transform(sort_bounded, "l_returnflag")


# ---------------------------------------------------------------------------
# 2-D histogram (heat-map binning) — the joint-distribution profile
# behind every price-vs-quantity scatter density: equi-width bins on
# both axes from one broadcast stats pass, one groupBy on the
# (bx, by) cell. The 2-D companion of q_histogram_profile.
# ---------------------------------------------------------------------------

_H2D_B = 8   # bins per axis


@query(
    "q_histogram2d",
    f"""
    WITH bounds AS (
        SELECT MIN(l_extendedprice) AS xlo, MAX(l_extendedprice) AS xhi,
               MIN(l_quantity) AS ylo, MAX(l_quantity) AS yhi
        FROM lineitem),
    binned AS (
        SELECT LEAST(CAST(FLOOR((l_extendedprice - xlo) * {_H2D_B}
                                / (xhi - xlo)) AS INTEGER),
                     {_H2D_B - 1}) AS bx,
               LEAST(CAST(FLOOR((l_quantity - ylo) * {_H2D_B}
                                / (yhi - ylo)) AS INTEGER),
                     {_H2D_B - 1}) AS by,
               l_extendedprice
        FROM lineitem CROSS JOIN bounds)
    SELECT bx, by,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
               AS price_mass
    FROM binned
    GROUP BY bx, by
    ORDER BY bx, by
    """,
)
def q_histogram2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{_H2D_B}x{_H2D_B} joint histogram of (extended price, quantity)
    with per-cell counts and price mass: bounds broadcast from one
    stats pass, bin assignment row-local (FLOOR on identical doubles
    both engines; top edge clamped into the last bin), one cell
    rollup."""
    li = table(spark, sf_dir, "lineitem")
    bounds = li.agg(
        F.min("l_extendedprice").alias("xlo"),
        F.max("l_extendedprice").alias("xhi"),
        F.min("l_quantity").alias("ylo"),
        F.max("l_quantity").alias("yhi"),
    )
    binned = li.select("l_extendedprice", "l_quantity").join(
        F.broadcast(bounds)
    ).select(
        F.least(
            F.expr(
                f"CAST(FLOOR((l_extendedprice - xlo) * {_H2D_B}"
                f" / (xhi - xlo)) AS INT)"
            ),
            F.lit(_H2D_B - 1),
        ).alias("bx"),
        F.least(
            F.expr(
                f"CAST(FLOOR((l_quantity - ylo) * {_H2D_B}"
                f" / (yhi - ylo)) AS INT)"
            ),
            F.lit(_H2D_B - 1),
        ).alias("by"),
        "l_extendedprice",
    )
    return (
        binned.groupBy("bx", "by")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr(
                "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)"
            ).alias("price_mass"),
        )
    )


# ---------------------------------------------------------------------------
# FK integrity audit — orphan counts for every foreign key of the
# star schema in one report: the referential-health companion to
# q_dq_constraints' column checks. Each FK is a broadcast/shuffle
# anti-join count; a healthy warehouse hashes to all-zero orphans
# with full row counts, so ANY integrity regression flips the hash.
# ---------------------------------------------------------------------------

@query(
    "q_fk_integrity_audit",
    """
    SELECT fk, CAST(n_rows AS BIGINT) AS n_rows,
           CAST(n_orphans AS BIGINT) AS n_orphans
    FROM (
        SELECT 'lineitem.l_orderkey->orders' AS fk,
               (SELECT COUNT(*) FROM lineitem) AS n_rows,
               (SELECT COUNT(*) FROM lineitem l
                WHERE NOT EXISTS (SELECT 1 FROM orders o
                                  WHERE o.o_orderkey = l.l_orderkey))
                   AS n_orphans
        UNION ALL
        SELECT 'lineitem.l_partkey->part',
               (SELECT COUNT(*) FROM lineitem),
               (SELECT COUNT(*) FROM lineitem l
                WHERE NOT EXISTS (SELECT 1 FROM part p
                                  WHERE p.p_partkey = l.l_partkey))
        UNION ALL
        SELECT 'lineitem.l_suppkey->supplier',
               (SELECT COUNT(*) FROM lineitem),
               (SELECT COUNT(*) FROM lineitem l
                WHERE NOT EXISTS (SELECT 1 FROM supplier s
                                  WHERE s.s_suppkey = l.l_suppkey))
        UNION ALL
        SELECT 'orders.o_custkey->customer',
               (SELECT COUNT(*) FROM orders),
               (SELECT COUNT(*) FROM orders o
                WHERE NOT EXISTS (SELECT 1 FROM customer c
                                  WHERE c.c_custkey = o.o_custkey))
        UNION ALL
        SELECT 'customer.c_nationkey->nation',
               (SELECT COUNT(*) FROM customer),
               (SELECT COUNT(*) FROM customer c
                WHERE NOT EXISTS (SELECT 1 FROM nation n
                                  WHERE n.n_nationkey = c.c_nationkey))
        UNION ALL
        SELECT 'nation.n_regionkey->region',
               (SELECT COUNT(*) FROM nation),
               (SELECT COUNT(*) FROM nation n
                WHERE NOT EXISTS (SELECT 1 FROM region r
                                  WHERE r.r_regionkey = n.n_regionkey)))
    ORDER BY fk
    """,
)
def q_fk_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential integrity over all six star-schema foreign keys:
    per FK the fact row count and the orphan count (left-anti join
    against the referenced keys, dimension side broadcast where
    small). The one-report warehouse health check a pipeline gates
    loads on."""
    fks = [
        ("lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("lineitem", "l_partkey", "part", "p_partkey"),
        ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
        ("orders", "o_custkey", "customer", "c_custkey"),
        ("customer", "c_nationkey", "nation", "n_nationkey"),
        ("nation", "n_regionkey", "region", "r_regionkey"),
    ]
    out = None
    for child, ckey, parent, pkey in fks:
        c = table(spark, sf_dir, child).select(ckey)
        p = table(spark, sf_dir, parent).select(pkey).distinct()
        n_rows = c.agg(F.count(F.lit(1)).alias("n_rows"))
        orphans = c.join(
            p, F.col(ckey) == F.col(pkey), "left_anti"
        ).agg(F.count(F.lit(1)).alias("n_orphans"))
        row = (
            n_rows.crossJoin(F.broadcast(orphans))
            .select(
                F.lit(f"{child}.{ckey}->{parent}").alias("fk"),
                F.col("n_rows").cast("bigint").alias("n_rows"),
                F.col("n_orphans").cast("bigint").alias("n_orphans"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("fk")


# ---------------------------------------------------------------------------
# Exact per-group mode — the most frequent value with a deterministic
# smallest-value tie-break, from one count rollup + one max_by (the
# engine-native mode() makes no tie promise, so it cannot be the
# driver-checked form).
# ---------------------------------------------------------------------------

@query(
    "q_group_mode",
    """
    WITH counted AS (
        SELECT l_returnflag AS grp, l_quantity AS v, COUNT(*) AS c
        FROM lineitem GROUP BY grp, v),
    ranked AS (
        SELECT grp, v, c,
               ROW_NUMBER() OVER (PARTITION BY grp
                                  ORDER BY c DESC, v) AS rk
        FROM counted)
    SELECT grp AS l_returnflag, v AS mode_quantity,
           CAST(c AS BIGINT) AS n_occurrences
    FROM ranked WHERE rk = 1
    ORDER BY grp
    """,
)
def q_group_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most frequent l_quantity per returnflag with smallest-value
    tie-break: count rollup, then min_by over (-count, value) — no
    per-group sort of raw rows, deterministic where the native mode()
    aggregate is not."""
    li = table(spark, sf_dir, "lineitem")
    counted = li.groupBy(
        F.col("l_returnflag").alias("grp"),
        F.col("l_quantity").alias("v"),
    ).agg(F.count(F.lit(1)).alias("c"))
    picked = counted.groupBy("grp").agg(
        F.min_by(
            F.struct("v", "c"), F.struct(-F.col("c"), F.col("v"))
        ).alias("m")
    )
    return picked.select(
        F.col("grp").alias("l_returnflag"),
        F.col("m.v").alias("mode_quantity"),
        F.col("m.c").cast("bigint").alias("n_occurrences"),
    )


# ---------------------------------------------------------------------------
# Percentile trend — p50/p95/p99 per (series, month): the SLO-
# dashboard time series. Exact interpolated percentiles per cell
# (ROUND-snapped), one groupBy — no window at all.
# ---------------------------------------------------------------------------

@query(
    "q_percentile_trend",
    """
    SELECT o_orderpriority AS series,
           strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(quantile_cont(o_totalprice, 0.50), 9) AS p50,
           ROUND(quantile_cont(o_totalprice, 0.95), 9) AS p95,
           ROUND(quantile_cont(o_totalprice, 0.99), 9) AS p99
    FROM orders
    WHERE o_orderdate < TIMESTAMP '1996-01-01'
    GROUP BY series, month
    ORDER BY series, month
    """,
)
def q_percentile_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly p50/p95/p99 of order totals per priority (first year):
    exact R-7 percentiles per cell, ROUND-snapped — the tail-trend
    report an SLO dashboard plots; the GK sketch swaps in at scale as
    everywhere in the percentile family.

    Freq-form percentile lever (r6 VERDICT stretch): audited, NOT
    applied — the lever pays off when raw rows >> distinct values
    (q_mad_outliers: 6M rows / 583k prices), but o_totalprice is
    ~unique per row (sf0.1: 22,712 filtered rows / 22,707 distinct),
    so a pre-counted value table would be the same size as the input
    and the extra aggregate a pure loss."""
    o = table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.expr("TIMESTAMP '1996-01-01'")
    )
    qs = "array(0.50D, 0.95D, 0.99D)"
    return (
        o.groupBy(
            F.col("o_orderpriority").alias("series"),
            F.date_format(
                F.trunc(F.col("o_orderdate").cast("date"), "month"),
                "yyyy-MM",
            ).alias("month"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr(f"percentile(o_totalprice, {qs})").alias("qe"),
        )
        .select(
            "series",
            "month",
            "n",
            F.round(F.element_at("qe", 1), 9).alias("p50"),
            F.round(F.element_at("qe", 2), 9).alias("p95"),
            F.round(F.element_at("qe", 3), 9).alias("p99"),
        )
    )


# ---------------------------------------------------------------------------
# Top-k inside GROUPING SETS cells — windows layered over multi-grain
# aggregates: the "top parts per (year, nation) AND per year AND
# overall" report computed in ONE aggregation pass, ranked per cell.
# ---------------------------------------------------------------------------

@query(
    "q_topk_grouping_sets",
    """
    WITH base AS (
        SELECT CAST(strftime(o.o_orderdate, '%Y') AS INTEGER) AS yr,
               c.c_nationkey AS nk, l.l_partkey AS pk,
               l.l_quantity AS qty
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey),
    cells AS (
        SELECT yr, nk, pk,
               GROUPING(yr) * 2 + GROUPING(nk) AS gid,
               CAST(SUM(CAST(qty AS DECIMAL(18,2))) AS DOUBLE) AS qty_sum,
               COUNT(*) AS n
        FROM base
        GROUP BY GROUPING SETS ((yr, nk, pk), (yr, pk), (pk))),
    ranked AS (
        SELECT gid, yr, nk, pk, qty_sum, n,
               ROW_NUMBER() OVER (PARTITION BY gid, yr, nk
                                  ORDER BY qty_sum DESC, pk) AS rk
        FROM cells)
    SELECT CAST(gid AS INTEGER) AS gid,
           CAST(COALESCE(yr, -1) AS INTEGER) AS yr,
           CAST(COALESCE(nk, -1) AS INTEGER) AS nationkey,
           CAST(pk AS BIGINT) AS partkey,
           qty_sum,
           CAST(n AS BIGINT) AS n_lines,
           CAST(rk AS INTEGER) AS rk
    FROM ranked WHERE rk <= 2 AND (gid <> 1)
    ORDER BY gid, yr, nationkey, rk
    """,
)
def q_topk_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-2 parts by quantity at the surviving grains of the declared
    GROUPING SETS — per (year, nation) and overall — ranked WITHIN
    each cell keyed by grouping_id. Since r13 the engine computes the
    grains as finest-grain aggregate + exact partial re-aggregation
    instead of an Expand (see the inline comment); the rank window
    partitions by (gid, yr, nk) so WindowGroupLimit bounds per-cell
    traffic."""
    from pyspark.sql.window import Window

    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    base = (
        li.select("l_orderkey", "l_partkey", "l_quantity")
        .join(
            o.select("o_orderkey", "o_custkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            c.select("c_custkey", "c_nationkey"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .select(
            F.expr("CAST(date_format(o_orderdate, 'yyyy') AS INT)").alias(
                "yr"
            ),
            F.col("c_nationkey").alias("nk"),
            F.col("l_partkey").alias("pk"),
            F.col("l_quantity").alias("qty"),
        )
    )
    # Multi-grain cells WITHOUT the Expand (r13, VERDICT r12 task 6):
    # the base join is all-broadcast (lineitem never shuffles), so the
    # cost was Expand tripling the joined fact rows into the partial
    # agg + one wide Exchange. Instead: aggregate ONCE to the finest
    # grain (yr, nk, pk) — qty partials ride as exact DECIMAL(18,2)
    # sums — then derive the (pk) grain by re-aggregating the finest
    # cells (SUM of decimal partials and counts is exact, so the
    # derived grain is bit-identical to a direct pass; the same
    # mergeable-partials contract q_moment_merge pins). The gid=1
    # (yr, pk) grain is not built at all: the declared filter discards
    # it and it ranks in its own window partitions, so omitting it is
    # row-identical (352 rows byte-equal; interleaved A/B 2.16-2.73 ->
    # 1.88-2.41 s: OPTIMIZATION_r13.md §9, row ab_topk_preagg.py). The
    # oracle keeps the declared GROUPING SETS form.
    fine = base.groupBy("yr", "nk", "pk").agg(
        F.expr("SUM(CAST(qty AS DECIMAL(18,2)))").alias("s"),
        F.count(F.lit(1)).alias("n"),
    )
    g0 = fine.select(F.lit(0).alias("gid"), "yr", "nk", "pk", "s", "n")
    g3 = (
        fine.groupBy("pk")
        .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
        .select(
            F.lit(3).alias("gid"),
            F.lit(None).cast("int").alias("yr"),
            F.lit(None).cast("int").alias("nk"),
            "pk",
            "s",
            "n",
        )
    )
    cells = g0.unionByName(g3).select(
        "gid",
        "yr",
        "nk",
        "pk",
        F.expr("CAST(s AS DOUBLE)").alias("qty_sum"),
        "n",
    )
    w = Window.partitionBy("gid", "yr", "nk").orderBy(
        F.desc("qty_sum"), "pk"
    )
    return (
        cells.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 2)
        .select(
            F.col("gid").cast("int"),
            F.coalesce("yr", F.lit(-1)).cast("int").alias("yr"),
            F.coalesce("nk", F.lit(-1)).cast("int").alias("nationkey"),
            F.col("pk").cast("bigint").alias("partkey"),
            "qty_sum",
            F.col("n").cast("bigint").alias("n_lines"),
            F.col("rk").cast("int"),
        )
    )


# ---------------------------------------------------------------------------
# Mergeable moment statistics — the re-aggregation contract that makes
# hierarchical rollups exact: monthly partials (n, sum, sum-of-squares
# as exact DECIMALs) merge into yearly stats that are bit-identical to
# a direct yearly pass. This is the pattern incremental pipelines rely
# on at 100 TB: partials combine associatively, no raw re-scan.
# ---------------------------------------------------------------------------

@query(
    "q_moment_merge",
    """
    WITH monthly AS (
        SELECT CAST(strftime(o_orderdate, '%Y') AS INTEGER) AS yr,
               CAST(strftime(o_orderdate, '%m') AS INTEGER) AS mo,
               COUNT(*) AS n,
               SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS s1,
               SUM(CAST(o_totalprice AS DECIMAL(18,2))
                   * CAST(o_totalprice AS DECIMAL(18,2))) AS s2
        FROM orders GROUP BY yr, mo),
    yearly AS (
        SELECT yr, CAST(SUM(n) AS BIGINT) AS n,
               CAST(SUM(s1) AS DECIMAL(28,2)) AS s1,
               CAST(SUM(s2) AS DECIMAL(38,4)) AS s2,
               COUNT(*) AS n_partials
        FROM monthly GROUP BY yr)
    SELECT CAST(yr AS INTEGER) AS yr,
           n AS n_orders,
           CAST(n_partials AS BIGINT) AS n_partials,
           CAST(CAST(CAST(s1 AS DOUBLE) / n AS DECIMAL(18,6))
                AS DOUBLE) AS mean_price,
           CAST(CAST((CAST(s2 AS DOUBLE)
                      - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n) / n
                AS DECIMAL(24,4)) AS DOUBLE) AS variance
    FROM yearly ORDER BY yr
    """,
)
def q_moment_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Yearly price stats assembled from monthly moment partials:
    (n, sum, sum-of-squares) kept as exact DECIMALs so the merge is
    associative and loss-free — the incremental/rollup shape where
    upstream partitions aggregate once and every coarser grain is a
    cheap partial merge. Variance derives from the merged exact
    moments with identical double expressions on both engines."""
    orders = table(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        F.expr("CAST(date_format(o_orderdate, 'yyyy') AS INT)").alias("yr"),
        F.expr("CAST(date_format(o_orderdate, 'MM') AS INT)").alias("mo"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("SUM(CAST(o_totalprice AS DECIMAL(18,2)))").alias("s1"),
        F.expr(
            "SUM(CAST(o_totalprice AS DECIMAL(18,2))"
            " * CAST(o_totalprice AS DECIMAL(18,2)))"
        ).alias("s2"),
    )
    yearly = monthly.groupBy("yr").agg(
        F.sum("n").cast("bigint").alias("n"),
        F.expr("CAST(SUM(s1) AS DECIMAL(28,2))").alias("s1"),
        F.expr("CAST(SUM(s2) AS DECIMAL(38,4))").alias("s2"),
        F.count(F.lit(1)).alias("n_partials"),
    )
    return yearly.select(
        F.col("yr").cast("int"),
        F.col("n").alias("n_orders"),
        F.col("n_partials").cast("bigint"),
        F.expr(
            "CAST(CAST(CAST(s1 AS DOUBLE) / n AS DECIMAL(18,6))"
            " AS DOUBLE)"
        ).alias("mean_price"),
        F.expr(
            "CAST(CAST((CAST(s2 AS DOUBLE)"
            " - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n) / n"
            " AS DECIMAL(24,4)) AS DOUBLE)"
        ).alias("variance"),
    ).transform(sort_bounded, "yr")


# ---------------------------------------------------------------------------
# Forward fill (LOCF) — gap-filled daily series: a calendar spine left-
# joined with observed daily revenue, missing days carry the last
# observation forward with a gap-age column. The resample-and-fill
# primitive every time-series feature pipeline needs.
# ---------------------------------------------------------------------------

@query(
    "q_forward_fill",
    f"""
    WITH spine AS (
        SELECT CAST(d AS DATE) AS d
        FROM UNNEST(generate_series(DATE '1996-01-01', DATE '1996-12-31',
                                    INTERVAL 1 DAY)) AS t(d)),
    daily AS (
        SELECT CAST(o_orderdate AS DATE) AS d,
               {dsum_sql("o_totalprice", "rev", 2)}
        FROM orders
        WHERE o_orderpriority = '1-URGENT'
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1997-01-01'
        GROUP BY CAST(o_orderdate AS DATE)),
    joined AS (
        SELECT s.d, y.rev,
               CASE WHEN y.rev IS NOT NULL THEN s.d END AS obs_d
        FROM spine s LEFT JOIN daily y USING (d)),
    filled AS (
        SELECT d, rev,
               LAST_VALUE(rev IGNORE NULLS) OVER w AS rev_f,
               LAST_VALUE(obs_d IGNORE NULLS) OVER w AS last_obs
        FROM joined
        WINDOW w AS (ORDER BY d
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
    SELECT strftime(d, '%Y-%m-%d') AS day,
           CAST(COALESCE(rev_f, 0.0) AS DOUBLE) AS revenue_filled,
           CAST(CASE WHEN rev IS NULL THEN 1 ELSE 0 END AS INT) AS is_gap,
           CAST(CASE WHEN last_obs IS NULL THEN -1
                     ELSE datediff('day', last_obs, d) END AS INT)
               AS gap_age
    FROM filled ORDER BY day
    """,
)
def q_forward_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily urgent-order revenue resampled onto a full 1996 calendar
    spine with last-observation-carried-forward fill and per-day gap
    age (-1 before the first observation). The window ordering is over
    the POST-AGGREGATION series (365 rows — one row per day, per
    series at scale you'd partition this window by series id), so the
    single-partition sort is a non-issue; the heavy input scan is one
    pushed-down filter + hash agg."""
    o = table(spark, sf_dir, "orders")
    daily = (
        o.where(
            (F.col("o_orderpriority") == "1-URGENT")
            & (F.col("o_orderdate") >= "1996-01-01")
            & (F.col("o_orderdate") < "1997-01-01")
        )
        .groupBy(F.to_date("o_orderdate").alias("d"))
        .agg(dsum("o_totalprice", "rev", 2))
    )
    spine = spark.range(1).select(
        F.explode(
            F.expr(
                "sequence(date'1996-01-01', date'1996-12-31',"
                " interval 1 day)"
            )
        ).alias("d")
    )
    joined = spine.join(daily, "d", "left").withColumn(
        "obs_d", F.when(F.col("rev").isNotNull(), F.col("d"))
    )
    from pyspark.sql.window import Window as _W

    w = _W.orderBy("d").rowsBetween(_W.unboundedPreceding, _W.currentRow)
    filled = joined.select(
        "d",
        "rev",
        F.last("rev", ignorenulls=True).over(w).alias("rev_f"),
        F.last("obs_d", ignorenulls=True).over(w).alias("last_obs"),
    )
    return filled.select(
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        F.coalesce("rev_f", F.lit(0.0)).cast("double").alias(
            "revenue_filled"
        ),
        F.when(F.col("rev").isNull(), 1).otherwise(0).cast("int").alias(
            "is_gap"
        ),
        F.when(F.col("last_obs").isNull(), F.lit(-1))
        .otherwise(F.datediff("d", "last_obs"))
        .cast("int")
        .alias("gap_age"),
    ).orderBy("day")


# ---------------------------------------------------------------------------
# ANALYZE-style column statistics — the per-column profile (count,
# nulls, NDV, min/max, mean length) that ANALYZE TABLE ... COMPUTE
# STATISTICS FOR ALL COLUMNS collects and the CBO consumes. One unpivot
# (stack — a flatMap, no shuffle) + one hash agg per column name.
# ---------------------------------------------------------------------------

@query(
    "q_analyze_stats",
    """
    WITH unp AS (
        SELECT 'c_custkey' AS col_name, CAST(c_custkey AS VARCHAR) AS val
        FROM customer
        UNION ALL
        SELECT 'c_name', c_name FROM customer
        UNION ALL
        SELECT 'c_nationkey', CAST(c_nationkey AS VARCHAR) FROM customer
        UNION ALL
        SELECT 'c_acctbal',
               CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS VARCHAR)
        FROM customer
        UNION ALL
        SELECT 'c_mktsegment', c_mktsegment FROM customer)
    SELECT col_name,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(*) - COUNT(val) AS BIGINT) AS n_null,
           CAST(COUNT(DISTINCT val) AS BIGINT) AS ndv,
           MIN(val) AS min_val,
           MAX(val) AS max_val,
           CAST(SUM(LENGTH(val)) * 100 // COUNT(val) AS BIGINT)
               AS avg_len_c
    FROM unp GROUP BY col_name ORDER BY col_name
    """,
)
def q_analyze_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE TABLE-shape column statistics for customer: row count,
    null count, exact NDV, lexicographic min/max of the canonical
    string form (doubles snapped to DECIMAL(18,2) so both engines
    print identically), and mean length in centichars. The unpivot is
    a single ``stack`` flatMap over one scan — no shuffle until the
    per-column rollup, which has exactly five keys. At scale NDV would
    swap to approx_count_distinct per partition; the exact form here
    doubles as that path's oracle."""
    c = table(spark, sf_dir, "customer")
    unp = c.select(
        F.expr(
            "stack(5,"
            " 'c_custkey', CAST(c_custkey AS STRING),"
            " 'c_name', c_name,"
            " 'c_nationkey', CAST(c_nationkey AS STRING),"
            " 'c_acctbal', CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS STRING),"
            " 'c_mktsegment', c_mktsegment) AS (col_name, val)"
        )
    )
    return (
        unp.groupBy("col_name")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.count(F.lit(1)) - F.count("val")).alias("n_null"),
            F.countDistinct("val").alias("ndv"),
            F.min("val").alias("min_val"),
            F.max("val").alias("max_val"),
            F.expr(
                "CAST(SUM(LENGTH(val)) * 100 DIV COUNT(val) AS BIGINT)"
            ).alias("avg_len_c"),
        )
        .select(
            "col_name",
            F.col("n").cast("bigint"),
            F.col("n_null").cast("bigint"),
            F.col("ndv").cast("bigint"),
            "min_val",
            "max_val",
            "avg_len_c",
        )
    )


# ---------------------------------------------------------------------------
# Spearman rank correlation — daily revenue vs daily order count.
# Ranks are deterministic row_numbers over the ~2k-row daily rollup
# (post-agg, so the global window is bounded by the calendar, never by
# facts); rho = 1 - 6*sum(d^2)/(n(n^2-1)) from exact BIGINTs, one
# final IEEE division. The nonparametric companion of Pearson/OLS.
# ---------------------------------------------------------------------------

@query(
    "q_spearman_corr",
    """
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               COUNT(*) AS n_orders,
               SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS revenue
        FROM orders GROUP BY 1),
    ranked AS (
        SELECT day,
               ROW_NUMBER() OVER (ORDER BY revenue, day) AS r_rev,
               ROW_NUMBER() OVER (ORDER BY n_orders, day) AS r_cnt
        FROM daily),
    agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
               CAST(SUM(CAST(r_rev - r_cnt AS BIGINT)
                        * CAST(r_rev - r_cnt AS BIGINT)) AS BIGINT)
                   AS sum_d2
        FROM ranked)
    SELECT n_days, sum_d2,
           1.0 - CAST(6 * sum_d2 AS DOUBLE)
               / CAST(n_days * (n_days * n_days - 1) AS DOUBLE)
               AS spearman_rho
    FROM agg
    """,
)
def q_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rho between daily order count and daily revenue: one
    fact-table rollup to calendar grain, two deterministic rank
    windows over the bounded daily series (ties broken by day on both
    sides so the ranks are engine-independent), then the closed-form
    rho from exact integer sum(d^2) — the single double division of
    two exact BIGINTs is IEEE-identical cross-engine. At scale the
    windows never see raw facts, only the ~3k-row daily aggregate."""
    from pyspark.sql.window import Window

    o = table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.expr("SUM(CAST(o_totalprice AS DECIMAL(18,2)))").alias("revenue"),
    )
    ranked = daily.select(
        F.row_number().over(Window.orderBy("revenue", "day")).alias("r_rev"),
        F.row_number().over(Window.orderBy("n_orders", "day")).alias("r_cnt"),
    )
    agg = ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.expr(
            "CAST(SUM(CAST(r_rev - r_cnt AS BIGINT)"
            " * CAST(r_rev - r_cnt AS BIGINT)) AS BIGINT)"
        ).alias("sum_d2"),
    )
    return agg.select(
        "n_days",
        "sum_d2",
        F.expr(
            "1.0 - CAST(6 * sum_d2 AS DOUBLE)"
            " / CAST(n_days * (n_days * n_days - 1) AS DOUBLE)"
        ).alias("spearman_rho"),
    )


# ---------------------------------------------------------------------------
# Herfindahl-Hirschman concentration index — how concentrated is each
# region's revenue across its nations? Integer ppm shares squared and
# re-scaled, so the antitrust-style readout hashes exactly. Fact
# rollup shuffles once on nationkey; nation/region are broadcast.
# ---------------------------------------------------------------------------

@query(
    "q_hhi_concentration",
    """
    WITH nat_rev AS (
        SELECT n.n_regionkey AS regionkey, n.n_name AS nation,
               CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100)
                    AS BIGINT) AS rev_c
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY 1, 2),
    shares AS (
        SELECT r.r_name AS region, nation, rev_c,
               CAST(rev_c * 1000000 // SUM(rev_c) OVER (PARTITION BY regionkey)
                    AS BIGINT) AS share_ppm
        FROM nat_rev JOIN region r ON nat_rev.regionkey = r.r_regionkey)
    SELECT region,
           CAST(COUNT(*) AS BIGINT) AS n_nations,
           CAST(SUM(share_ppm * share_ppm) // 1000000 AS BIGINT) AS hhi_ppm,
           CAST(MAX(share_ppm) AS BIGINT) AS top_share_ppm
    FROM shares GROUP BY region ORDER BY region
    """,
)
def q_hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HHI revenue concentration per region: nation revenue in exact
    cents, shares in integer ppm (DIV — truncating on both engines),
    HHI = sum(share^2)/1e6 back in ppm. The orders⋈customer join
    shuffles once; nation and region join broadcast (25/5 rows); the
    share window partitions by region over exactly 25 post-agg rows.
    The standard market-concentration audit, exact at any scale."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    nat_rev = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_regionkey").alias("regionkey"),
            F.col("n_name").alias("nation"),
        )
        .agg(
            F.expr(
                "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * 100)"
                " AS BIGINT)"
            ).alias("rev_c")
        )
    )
    shares = nat_rev.join(
        F.broadcast(r), nat_rev.regionkey == r.r_regionkey
    ).select(
        F.col("r_name").alias("region"),
        "regionkey",
        "rev_c",
        F.expr(
            "CAST(rev_c * 1000000 DIV SUM(rev_c)"
            " OVER (PARTITION BY regionkey) AS BIGINT)"
        ).alias("share_ppm"),
    )
    return (
        shares.groupBy("region")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_nations"),
            F.expr(
                "CAST(SUM(share_ppm * share_ppm) DIV 1000000 AS BIGINT)"
            ).alias("hhi_ppm"),
            F.max("share_ppm").cast("bigint").alias("top_share_ppm"),
        )
        .transform(sort_bounded, "region")
    )


# ---------------------------------------------------------------------------
# Rolling median (7-day) — exact order statistics in a moving frame:
# daily revenue in cents, sorted frame array, doubled-median (2x so
# even frames stay integer). Robust trend smoothing where the rolling
# MEAN family (q_rolling_zscore) chases outliers. The frame window
# runs over the bounded daily series, never raw facts.
# ---------------------------------------------------------------------------

@query(
    "q_rolling_median",
    """
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * 100)
                    AS BIGINT) AS rev_c
        FROM orders GROUP BY 1),
    framed AS (
        SELECT day, rev_c,
               list_sort(list(rev_c) OVER (ORDER BY day
                   ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) AS win
        FROM daily)
    SELECT strftime(day, '%Y-%m-%d') AS day,
           rev_c,
           CAST(len(win) AS INT) AS frame_n,
           CAST(win[(len(win) + 1) // 2] + win[len(win) // 2 + 1]
                AS BIGINT) AS med2_c
    FROM framed ORDER BY day LIMIT 60
    """,
)
def q_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day rolling median of daily revenue: cents-exact daily
    rollup, collect_list over a ROWS 6-PRECEDING frame, array_sort,
    and the doubled median (middle element twice when the frame is
    odd, the two middles summed when even) so even frames never leave
    integers. One fact shuffle to the daily grain; the frame window
    and per-row sort touch at most 7 elements over ~2k days. First 60
    days shown."""
    from pyspark.sql.window import Window

    o = table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.expr(
            "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * 100)"
            " AS BIGINT)"
        ).alias("rev_c")
    )
    w7 = Window.orderBy("day").rowsBetween(-6, 0)
    framed = daily.select(
        "day",
        "rev_c",
        F.array_sort(F.collect_list("rev_c").over(w7)).alias("win"),
    )
    return (
        framed.select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "rev_c",
            F.size("win").cast("int").alias("frame_n"),
            F.expr(
                "CAST(element_at(win, CAST((size(win) + 1) DIV 2 AS INT))"
                " + element_at(win, CAST(size(win) DIV 2 + 1 AS INT))"
                " AS BIGINT)"
            ).alias("med2_c"),
        )
        .orderBy("day")
        .limit(60)
    )


# ---------------------------------------------------------------------------
# Lorenz curve deciles — cumulative revenue share by customer spend
# decile, the curve whose area gap q_gini_concentration summarizes to
# one number. Deciles come from BROADCAST percentile boundaries (the
# q_quantile_band_join idiom), NOT a global NTILE sort — this is the
# scale shape; shares are integer ppm.
# ---------------------------------------------------------------------------

@query(
    "q_lorenz_deciles",
    """
    WITH per_cust AS (
        SELECT o_custkey,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * 100)
                    AS BIGINT) AS spend_c
        FROM orders GROUP BY o_custkey),
    bounds AS (
        SELECT list_transform(quantile_cont(CAST(spend_c AS DOUBLE),
                     [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]),
                     x -> round(x, 9)) AS qs
        FROM per_cust),
    banded AS (
        SELECT spend_c,
               (SELECT COUNT(*) FROM UNNEST(qs) AS t(b)
                WHERE CAST(spend_c AS DOUBLE) > b) AS decile
        FROM per_cust CROSS JOIN bounds),
    per_band AS (
        SELECT decile, COUNT(*) AS n_cust,
               CAST(SUM(spend_c) AS BIGINT) AS band_c
        FROM banded GROUP BY decile)
    SELECT CAST(decile AS INTEGER) AS decile,
           CAST(n_cust AS BIGINT) AS n_cust,
           band_c,
           CAST(SUM(band_c) OVER (ORDER BY decile) * 1000000
                // SUM(band_c) OVER () AS BIGINT) AS cum_share_ppm
    FROM per_band ORDER BY decile
    """,
)
def q_lorenz_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz curve of customer spend: exact cents per customer, nine
    R-7 decile boundaries from ONE stats pass broadcast to every row
    (row-local band = count of boundaries below — no global sort, the
    q_quantile_band_join scale idiom), then cumulative spend share in
    integer ppm over the 10-row band table. Read with
    q_gini_concentration: this is the curve, that is its area.

    Freq-form percentile lever (r6 VERDICT stretch): audited, NOT
    applied — the percentile input is already the per-customer rollup
    and its spends are ~unique (sf0.1: 14,999 customers / 14,998
    distinct cent values), so there is nothing to pre-count."""
    o = table(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.expr(
            "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * 100)"
            " AS BIGINT)"
        ).alias("spend_c")
    )
    qs = "array(0.1D,0.2D,0.3D,0.4D,0.5D,0.6D,0.7D,0.8D,0.9D)"
    bounds = per_cust.agg(
        F.expr(
            f"transform(percentile(CAST(spend_c AS DOUBLE), {qs}),"
            " x -> round(x, 9))"
        ).alias("qs")
    )
    banded = per_cust.join(F.broadcast(bounds)).select(
        "spend_c",
        F.expr(
            "size(filter(qs, b -> CAST(spend_c AS DOUBLE) > b))"
        ).alias("decile"),
    )
    per_band = banded.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_cust"),
        F.sum("spend_c").cast("bigint").alias("band_c"),
    )
    return per_band.select(
        F.col("decile").cast("int").alias("decile"),
        F.col("n_cust").cast("bigint").alias("n_cust"),
        "band_c",
        F.expr(
            "CAST(SUM(band_c) OVER (ORDER BY decile) * 1000000"
            " DIV SUM(band_c) OVER () AS BIGINT)"
        ).alias("cum_share_ppm"),
    ).orderBy("decile")


# ---------------------------------------------------------------------------
# Winsorized mean — the robust location estimate: clamp each group's
# prices into its own [P5, P95] band (broadcast boundary scalars from
# one stats pass — the q_quantile_band_join idiom), then an exact
# integer-cents mean. Complements q_robust_scale (median/IQR) and
# q_mad_outliers with the trimmed-moment family.
# ---------------------------------------------------------------------------

@query(
    "q_winsorized_mean",
    """
    WITH cents AS (
        SELECT l_returnflag AS grp,
               CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS c
        FROM lineitem),
    bounds AS (
        SELECT grp,
               ceil(round(quantile_cont(CAST(c AS DOUBLE), 0.05), 9))
                   AS lo_c,
               floor(round(quantile_cont(CAST(c AS DOUBLE), 0.95), 9))
                   AS hi_c
        FROM cents GROUP BY grp),
    clamped AS (
        SELECT t.grp,
               CAST(LEAST(GREATEST(CAST(t.c AS DOUBLE), b.lo_c), b.hi_c)
                    AS BIGINT) AS wc
        FROM cents t JOIN bounds b ON t.grp = b.grp)
    SELECT grp AS l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(wc) AS BIGINT) AS sum_wins_c,
           CAST(SUM(wc) AS DOUBLE) / (COUNT(*) * 100) AS winsorized_mean
    FROM clamped GROUP BY grp ORDER BY grp
    """,
)
def q_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5%-winsorized mean price per returnflag: exact integer cents,
    per-group P5/P95 from one percentile stats pass (R-7, rounded to
    9 digits — the established cross-engine-stable form), boundaries
    snapped to whole cents with ceil/floor so the clamp is integer,
    broadcast back for a row-local LEAST/GREATEST, and the final mean
    is one IEEE division of exact BIGINTs. No sorts beyond the stats
    aggregate; the clamp join broadcasts |groups| rows.

    r6: the whole query runs off the distinct (grp, cents, freq) table
    — percentiles in FREQUENCY form (bit-identical Percentile path),
    and the clamp/mean as freq-weighted integer sums (interleaved sf1
    A/B, 3 rounds: raw 4.5-8.4 s vs freq 2.1-3.4 s, outputs
    identical)."""
    li = table(spark, sf_dir, "lineitem")
    cents = li.select(
        F.col("l_returnflag").alias("grp"),
        F.expr(
            "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100"
            " AS BIGINT)"
        ).alias("c"),
    )
    vc = cents.groupBy("grp", "c").agg(F.count(F.lit(1)).alias("freq"))
    bounds = vc.groupBy("grp").agg(
        F.expr(
            "ceil(round(percentile(CAST(c AS DOUBLE), 0.05D, freq), 9))"
        ).alias("lo_c"),
        F.expr(
            "floor(round(percentile(CAST(c AS DOUBLE), 0.95D, freq), 9))"
        ).alias("hi_c"),
    )
    clamped = vc.join(F.broadcast(bounds), "grp").select(
        "grp",
        "freq",
        F.expr(
            "CAST(LEAST(GREATEST(CAST(c AS DOUBLE), lo_c), hi_c)"
            " AS BIGINT)"
        ).alias("wc"),
    )
    return (
        clamped.groupBy("grp")
        .agg(
            F.sum("freq").cast("bigint").alias("n"),
            F.expr("CAST(SUM(wc * freq) AS BIGINT)").alias("sum_wins_c"),
            F.expr(
                "CAST(SUM(wc * freq) AS DOUBLE) / (SUM(freq) * 100)"
            ).alias("winsorized_mean"),
        )
        .select(
            F.col("grp").alias("l_returnflag"),
            "n",
            "sum_wins_c",
            "winsorized_mean",
        )
        .transform(sort_bounded, "l_returnflag")
    )


# ---------------------------------------------------------------------------
# Sample-ratio-mismatch audit — the first gate of every experiment
# readout: does the realized arm split match the design? Hash-bucket
# assignment (49/51 by design here, so the imbalance is detectable),
# 1-df chi-square as the exact integer (o_a - o_b)^2 * 1e6 / n for a
# 50/50 expectation, flagged against the 3.841 critical value.
# ---------------------------------------------------------------------------

@query(
    "q_ab_srm",
    """
    WITH assigned AS (
        SELECT CASE WHEN (('0x' || substr(md5('srm|' ||
                    CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT) % 100
                    < 49 THEN 'A' ELSE 'B' END AS arm
        FROM orders),
    wide AS (
        SELECT SUM(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS n_a,
               SUM(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS n_b,
               COUNT(*) AS n
        FROM assigned)
    SELECT CAST(n_a AS BIGINT) AS n_a,
           CAST(n_b AS BIGINT) AS n_b,
           CAST((n_a - n_b) * (n_a - n_b) * 1000000 // n AS BIGINT)
               AS chi2_micro,
           (n_a - n_b) * (n_a - n_b) * 1000000 // n >= 3841459 AS srm_flag
    FROM wide
    """,
)
def q_ab_srm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio mismatch check: md5-bucket arm assignment with a
    deliberate 49/51 design skew, exact arm counts from one
    conditional aggregate, and the 1-df chi-square against a 50/50
    expectation computed entirely in integers —
    (n_a − n_b)²·1e6 DIV n — flagged at the 0.05 critical value
    (3.841459). The cheapest and highest-yield experiment guardrail:
    one scan, one agg row, no doubles anywhere."""
    o = table(spark, sf_dir, "orders")
    assigned = o.select(
        F.expr(
            "CASE WHEN CAST(conv(substr(md5(concat('srm|',"
            " CAST(o_orderkey AS STRING))), 1, 8), 16, 10) AS BIGINT)"
            " % 100 < 49 THEN 'A' ELSE 'B' END"
        ).alias("arm")
    )
    wide = assigned.agg(
        F.expr("SUM(CASE WHEN arm = 'A' THEN 1 ELSE 0 END)").alias("n_a"),
        F.expr("SUM(CASE WHEN arm = 'B' THEN 1 ELSE 0 END)").alias("n_b"),
        F.count(F.lit(1)).alias("n"),
    )
    return wide.select(
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        F.expr(
            "CAST((n_a - n_b) * (n_a - n_b) * 1000000 DIV n AS BIGINT)"
        ).alias("chi2_micro"),
        F.expr(
            "(n_a - n_b) * (n_a - n_b) * 1000000 DIV n >= 3841459"
        ).alias("srm_flag"),
    )


# ---------------------------------------------------------------------------
# Rare-category collapse — the feature-engineering guard against
# high-cardinality categoricals: (brand, size) combos with fewer than
# K parts fold into '__OTHER__'. Both rollups run on the category
# table (dimension-sized), never re-touching facts.
# ---------------------------------------------------------------------------

_RCC_MIN = 5


@query(
    "q_rare_category_collapse",
    f"""
    WITH cats AS (
        SELECT p_brand || '|' || CAST(p_size AS VARCHAR) AS category,
               COUNT(*) AS n
        FROM part GROUP BY 1),
    collapsed AS (
        SELECT CASE WHEN n < {_RCC_MIN} THEN '__OTHER__' ELSE category END
                   AS category,
               n
        FROM cats)
    SELECT category,
           CAST(SUM(n) AS BIGINT) AS n_parts,
           CAST(COUNT(*) AS BIGINT) AS n_src_categories
    FROM collapsed GROUP BY category ORDER BY category
    """,
)
def q_rare_category_collapse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collapse (p_brand, p_size) combos with < {_RCC_MIN} members
    into '__OTHER__': one fact rollup to the category table, then the
    collapse and re-profile run entirely on that (bounded) table —
    the encoder-cardinality guard every target/one-hot encoding
    pipeline applies first. n_src_categories on the __OTHER__ row is
    the collapsed-category count."""
    p = table(spark, sf_dir, "part")
    cats = p.groupBy(
        F.expr(
            "concat(p_brand, '|', CAST(p_size AS STRING))"
        ).alias("category")
    ).agg(F.count(F.lit(1)).alias("n"))
    collapsed = cats.select(
        F.when(F.col("n") < _RCC_MIN, "__OTHER__")
        .otherwise(F.col("category"))
        .alias("category"),
        "n",
    )
    return (
        collapsed.groupBy("category")
        .agg(
            F.sum("n").cast("bigint").alias("n_parts"),
            F.count(F.lit(1)).cast("bigint").alias("n_src_categories"),
        )
        .transform(sort_bounded, "category")
    )


# ---------------------------------------------------------------------------
# Chi-square standardized residuals — the per-cell diagnostic behind
# q_chi2_independence: which (segment, priority) cells actually drive
# the dependence? r = (observed − expected)/sqrt(expected) with the
# expectation an exact-operand rational; residuals floored to milli
# units so the matrix hashes exactly.
# ---------------------------------------------------------------------------

@query(
    "q_chisq_residuals",
    """
    WITH joined AS (
        SELECT c.c_mktsegment AS segment, o.o_orderpriority AS priority
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
    cells AS (
        SELECT segment, priority, COUNT(*) AS o
        FROM joined GROUP BY segment, priority),
    m AS (
        SELECT segment, priority, o,
               SUM(o) OVER (PARTITION BY segment) AS row_n,
               SUM(o) OVER (PARTITION BY priority) AS col_n,
               SUM(o) OVER () AS n
        FROM cells)
    SELECT segment, priority, CAST(o AS BIGINT) AS observed,
           CAST(row_n * col_n // n AS BIGINT) AS expected_floor,
           CAST(floor((o - CAST(row_n AS DOUBLE) * col_n / n)
                      / sqrt(CAST(row_n AS DOUBLE) * col_n / n)
                      * 1000) AS BIGINT) AS residual_milli
    FROM m ORDER BY segment, priority
    """,
)
def q_chisq_residuals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standardized residual per contingency cell of segment ×
    order-priority: expected = row·col/n as one exact-operand double
    chain (integer row/col/n margins from windows over the 25-cell
    table), residual = (o − e)/√e floored to milli. |r| > 2 names the
    cells that drive a significant chi-square — the drill-down the
    scalar test can't give. All windows post-agg."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    joined = o.join(c, o.o_custkey == c.c_custkey).select(
        F.col("c_mktsegment").alias("segment"),
        F.col("o_orderpriority").alias("priority"),
    )
    cells = joined.groupBy("segment", "priority").agg(
        F.count(F.lit(1)).alias("o")
    )
    m = cells.select(
        "segment",
        "priority",
        "o",
        F.expr("SUM(o) OVER (PARTITION BY segment)").alias("row_n"),
        F.expr("SUM(o) OVER (PARTITION BY priority)").alias("col_n"),
        F.expr("SUM(o) OVER ()").alias("n"),
    )
    return m.select(
        "segment",
        "priority",
        F.col("o").cast("bigint").alias("observed"),
        F.expr("CAST(row_n * col_n DIV n AS BIGINT)").alias(
            "expected_floor"
        ),
        F.expr(
            "CAST(floor((o - CAST(row_n AS DOUBLE) * col_n / n)"
            " / sqrt(CAST(row_n AS DOUBLE) * col_n / n)"
            " * 1000) AS BIGINT)"
        ).alias("residual_milli"),
    ).orderBy("segment", "priority")


# ---------------------------------------------------------------------------
# Cohen's d effect size — the magnitude companion of q_ab_test's
# z-score: standardized mean difference between two segments' order
# values with pooled variance, every moment exact, one sqrt. A/B
# significance without effect size is how teams ship noise.
# ---------------------------------------------------------------------------

@query(
    "q_cohens_d",
    """
    WITH cents AS (
        SELECT c.c_mktsegment AS segment,
               CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS v
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE c.c_mktsegment IN ('BUILDING', 'MACHINERY')),
    mom AS (
        SELECT segment, COUNT(*) AS n, SUM(v) AS s1,
               SUM(CAST(v AS DECIMAL(38,0)) * v) AS s2
        FROM cents GROUP BY segment),
    wide AS (
        SELECT MAX(CASE WHEN segment = 'BUILDING' THEN n END) AS n1,
               MAX(CASE WHEN segment = 'BUILDING' THEN s1 END) AS a1,
               MAX(CASE WHEN segment = 'BUILDING' THEN s2 END) AS b1,
               MAX(CASE WHEN segment = 'MACHINERY' THEN n END) AS n2,
               MAX(CASE WHEN segment = 'MACHINERY' THEN s1 END) AS a2,
               MAX(CASE WHEN segment = 'MACHINERY' THEN s2 END) AS b2
        FROM mom)
    SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
           CAST(a1 // n1 - a2 // n2 AS BIGINT) AS mean_diff_c_floor,
           CAST(floor((CAST(a1 AS DOUBLE) / n1 - CAST(a2 AS DOUBLE) / n2)
                / sqrt(((CAST(b1 AS DOUBLE)
                         - CAST(a1 AS DOUBLE) / n1 * a1)
                      + (CAST(b2 AS DOUBLE)
                         - CAST(a2 AS DOUBLE) / n2 * a2))
                       / (n1 + n2 - 2))
                * 1000000) AS BIGINT) AS cohens_d_micro
    FROM wide
    """,
)
def q_cohens_d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's d between BUILDING and MACHINERY order values: group
    moments in exact BIGINT/DECIMAL cents, pooled SD from the
    two-group sum-of-squares identity (SS = S2 − S1²/n, each term an
    exact-operand double chain), d floored to micro units. One fact
    join + one 2-row rollup; read alongside q_ab_test — z says
    "real", d says "big enough to matter"."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    cents = (
        o.join(c, o.o_custkey == c.c_custkey)
        .where(F.col("c_mktsegment").isin("BUILDING", "MACHINERY"))
        .select(
            F.col("c_mktsegment").alias("segment"),
            F.expr(
                "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100"
                " AS BIGINT)"
            ).alias("v"),
        )
    )
    mom = cents.groupBy("segment").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("v").alias("s1"),
        F.expr("SUM(CAST(v AS DECIMAL(38,0)) * v)").alias("s2"),
    )
    wide = mom.agg(
        F.expr("MAX(CASE WHEN segment = 'BUILDING' THEN n END)").alias("n1"),
        F.expr("MAX(CASE WHEN segment = 'BUILDING' THEN s1 END)").alias("a1"),
        F.expr("MAX(CASE WHEN segment = 'BUILDING' THEN s2 END)").alias("b1"),
        F.expr("MAX(CASE WHEN segment = 'MACHINERY' THEN n END)").alias("n2"),
        F.expr("MAX(CASE WHEN segment = 'MACHINERY' THEN s1 END)").alias("a2"),
        F.expr("MAX(CASE WHEN segment = 'MACHINERY' THEN s2 END)").alias("b2"),
    )
    return wide.select(
        F.col("n1").cast("bigint").alias("n1"),
        F.col("n2").cast("bigint").alias("n2"),
        F.expr("CAST(a1 DIV n1 - a2 DIV n2 AS BIGINT)").alias(
            "mean_diff_c_floor"
        ),
        F.expr(
            "CAST(floor((CAST(a1 AS DOUBLE) / n1 - CAST(a2 AS DOUBLE) / n2)"
            " / sqrt(((CAST(b1 AS DOUBLE) - CAST(a1 AS DOUBLE) / n1 * a1)"
            " + (CAST(b2 AS DOUBLE) - CAST(a2 AS DOUBLE) / n2 * a2))"
            " / (n1 + n2 - 2)) * 1000000) AS BIGINT)"
        ).alias("cohens_d_micro"),
    )


# ---------------------------------------------------------------------------
# Seasonality strength (eta-squared) — how much of daily revenue
# variance does day-of-week explain? Classic variance decomposition
# SS_between/SS_total in integer ppm off exact daily cents; the
# one-number answer to "is the weekly pattern worth modeling".
# ---------------------------------------------------------------------------

@query(
    "q_seasonality_strength",
    """
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               isodow(o_orderdate) AS dow,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * 100)
                    AS BIGINT) AS rev_c
        FROM orders GROUP BY 1, 2),
    mom AS (
        SELECT dow, COUNT(*) AS n, SUM(rev_c) AS s1,
               SUM(CAST(rev_c AS DECIMAL(38,0)) * rev_c) AS s2
        FROM daily GROUP BY dow),
    tot AS (
        SELECT SUM(n) AS n, SUM(s1) AS s1,
               SUM(s2) AS s2,
               SUM(CAST(s1 AS DECIMAL(38,0)) * s1 / n) AS between_raw
        FROM mom)
    SELECT CAST(n AS BIGINT) AS n_days,
           CAST(floor((CAST(between_raw AS DOUBLE)
                       - CAST(s1 AS DOUBLE) / n * s1)
                / (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) / n * s1)
                * 1000000) AS BIGINT) AS eta2_ppm
    FROM tot
    """,
)
def q_seasonality_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eta-squared of day-of-week on daily revenue: SS_between =
    Σ s1_g²/n_g − S1²/N over the 7 dow groups, SS_total = S2 − S1²/N,
    ratio floored to ppm. Daily cents are exact; the 7-group moment
    table is the only shuffled object; the decomposition itself is
    row-local arithmetic on one row. eta² near zero says the weekly
    seasonal index (q_seasonal_index) would be modeling noise."""
    o = table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.col("o_orderdate").cast("date").alias("day"),
        (F.weekday("o_orderdate") + 1).alias("dow"),
    ).agg(
        F.expr(
            "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * 100)"
            " AS BIGINT)"
        ).alias("rev_c")
    )
    mom = daily.groupBy("dow").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("rev_c").alias("s1"),
        F.expr("SUM(CAST(rev_c AS DECIMAL(38,0)) * rev_c)").alias("s2"),
    )
    tot = mom.agg(
        F.sum("n").alias("n"),
        F.sum("s1").alias("s1"),
        F.sum("s2").alias("s2"),
        F.expr("SUM(CAST(s1 AS DECIMAL(38,0)) * s1 / n)").alias(
            "between_raw"
        ),
    )
    return tot.select(
        F.col("n").cast("bigint").alias("n_days"),
        F.expr(
            "CAST(floor((CAST(between_raw AS DOUBLE)"
            " - CAST(s1 AS DOUBLE) / n * s1)"
            " / (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) / n * s1)"
            " * 1000000) AS BIGINT)"
        ).alias("eta2_ppm"),
    )


# ---------------------------------------------------------------------------
# Laspeyres price index — base-year-basket inflation between 1996 and
# 2000: per-part unit prices floored to cents, base-year quantities
# as weights, index = sum(p1*q0)/sum(p0*q0) in ppm. The econ-style
# composite index as two rollups + one part-keyed join.
# ---------------------------------------------------------------------------

@query(
    "q_price_index",
    """
    WITH px AS (
        SELECT l_partkey AS pk,
               EXTRACT(year FROM l_shipdate) AS yr,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * 100)
                    AS BIGINT) AS rev_c,
               CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
        FROM lineitem
        WHERE EXTRACT(year FROM l_shipdate) IN (1996, 2000)
        GROUP BY 1, 2),
    base AS (
        SELECT pk, rev_c * 1 // qty AS p0, qty AS q0
        FROM px WHERE yr = 1996 AND qty > 0),
    cur AS (
        SELECT pk, rev_c * 1 // qty AS p1
        FROM px WHERE yr = 2000 AND qty > 0)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(SUM(b.p0 * b.q0) AS BIGINT) AS basket_base_c,
           CAST(SUM(c.p1 * b.q0) AS BIGINT) AS basket_cur_c,
           CAST(SUM(c.p1 * b.q0) * 1000000 // SUM(b.p0 * b.q0)
                AS BIGINT) AS laspeyres_ppm
    FROM base b JOIN cur c ON b.pk = c.pk
    """,
)
def q_price_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laspeyres index (base 1996, current 2000) over the common-part
    basket: per-part unit price = revenue cents DIV quantity (floored
    identically both engines), base-year quantities weight both
    baskets, index in ppm from one exact integer ratio. Two filtered
    rollups and one part-keyed join — the composite-index shape used
    for price, cost, and CPI-style metrics at any scale."""
    li = table(spark, sf_dir, "lineitem")
    px = (
        li.where(F.year("l_shipdate").isin(1996, 2000))
        .groupBy(
            F.col("l_partkey").alias("pk"),
            F.year("l_shipdate").alias("yr"),
        )
        .agg(
            F.expr(
                "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * 100)"
                " AS BIGINT)"
            ).alias("rev_c"),
            F.expr("CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT)").alias(
                "qty"
            ),
        )
    )
    base = px.where((F.col("yr") == 1996) & (F.col("qty") > 0)).select(
        "pk",
        F.expr("rev_c DIV qty").alias("p0"),
        F.col("qty").alias("q0"),
    )
    cur = px.where((F.col("yr") == 2000) & (F.col("qty") > 0)).select(
        "pk", F.expr("rev_c DIV qty").alias("p1")
    )
    return base.join(cur, "pk").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_parts"),
        F.expr("CAST(SUM(p0 * q0) AS BIGINT)").alias("basket_base_c"),
        F.expr("CAST(SUM(p1 * q0) AS BIGINT)").alias("basket_cur_c"),
        F.expr(
            "CAST(SUM(p1 * q0) * 1000000 DIV SUM(p0 * q0) AS BIGINT)"
        ).alias("laspeyres_ppm"),
    )


# ---------------------------------------------------------------------------
# Order-to-ship latency — fulfillment SLA profile per priority: days
# from order date to FIRST line shipment, exact integer percentiles
# snapped from R-7 interpolation. The operational-latency shape
# (ticket resolution, delivery, approval flows) on TPC-H columns.
# ---------------------------------------------------------------------------

@query(
    "q_order_to_ship_latency",
    """
    WITH first_ship AS (
        SELECT l_orderkey, MIN(l_shipdate) AS ship
        FROM lineitem GROUP BY l_orderkey),
    lat AS (
        SELECT o.o_orderpriority AS priority,
               date_diff('day', CAST(o.o_orderdate AS DATE),
                         CAST(f.ship AS DATE)) AS days
        FROM orders o JOIN first_ship f ON o.o_orderkey = f.l_orderkey)
    SELECT priority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(MIN(days) AS BIGINT) AS min_days,
           CAST(floor(round(quantile_cont(CAST(days AS DOUBLE), 0.5), 9))
                AS BIGINT) AS p50_days,
           CAST(floor(round(quantile_cont(CAST(days AS DOUBLE), 0.95), 9))
                AS BIGINT) AS p95_days,
           CAST(MAX(days) AS BIGINT) AS max_days
    FROM lat GROUP BY priority ORDER BY priority
    """,
)
def q_order_to_ship_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Days from order to first shipment per priority: one MIN rollup
    on lineitem, one key join, integer day deltas, and per-group
    R-7 percentiles floored after the 9-digit snap (the established
    cross-engine percentile form). The SLA readout that shows whether
    URGENT actually ships faster — and the generic latency-profile
    operator for any request→fulfillment pair of tables."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    first_ship = li.groupBy("l_orderkey").agg(
        F.min("l_shipdate").alias("ship")
    )
    lat = o.join(
        first_ship, o.o_orderkey == first_ship.l_orderkey
    ).select(
        F.col("o_orderpriority").alias("priority"),
        F.datediff(
            F.col("ship").cast("date"), F.col("o_orderdate").cast("date")
        ).alias("days"),
    )
    return (
        lat.groupBy("priority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.min("days").cast("bigint").alias("min_days"),
            F.expr(
                "CAST(floor(round(percentile(CAST(days AS DOUBLE),"
                " 0.5D), 9)) AS BIGINT)"
            ).alias("p50_days"),
            F.expr(
                "CAST(floor(round(percentile(CAST(days AS DOUBLE),"
                " 0.95D), 9)) AS BIGINT)"
            ).alias("p95_days"),
            F.max("days").cast("bigint").alias("max_days"),
        )
    )


# ---------------------------------------------------------------------------
# FK fanout profile — the join-cardinality histogram a planner (or a
# reviewer) wants before writing orders ⋈ lineitem: how many lines
# per order, as a distribution. Two rollups; the histogram is
# fanout-domain-sized.
# ---------------------------------------------------------------------------

@query(
    "q_fk_fanout_profile",
    """
    WITH fanout AS (
        SELECT l_orderkey, COUNT(*) AS n_lines
        FROM lineitem GROUP BY l_orderkey),
    hist AS (
        SELECT n_lines, COUNT(*) AS n_orders
        FROM fanout GROUP BY n_lines)
    SELECT CAST(n_lines AS BIGINT) AS n_lines,
           CAST(n_orders AS BIGINT) AS n_orders,
           CAST(n_lines * n_orders AS BIGINT) AS n_rows_out,
           CAST(n_orders * 1000000 // SUM(n_orders) OVER () AS BIGINT)
               AS share_ppm
    FROM hist ORDER BY n_lines
    """,
)
def q_fk_fanout_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lines-per-order fanout distribution: per-key counts, then a
    histogram over the (bounded) fanout domain with each bucket's
    contribution to the joined row count and its ppm share. Expected
    join size = sum(n_rows_out); a long tail here is the skew the
    AQE/salting operators (q_salted_join, q_hotkey_split_join)
    exist for. Complements q_join_size_estimate (which predicts from
    per-key histograms) with the key-multiplicity view."""
    li = table(spark, sf_dir, "lineitem")
    fanout = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_lines")
    )
    hist = fanout.groupBy("n_lines").agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    return hist.select(
        F.col("n_lines").cast("bigint").alias("n_lines"),
        F.col("n_orders").cast("bigint").alias("n_orders"),
        F.expr("CAST(n_lines * n_orders AS BIGINT)").alias("n_rows_out"),
        F.expr(
            "CAST(n_orders * 1000000 DIV SUM(n_orders) OVER ()"
            " AS BIGINT)"
        ).alias("share_ppm"),
    ).orderBy("n_lines")


# ---------------------------------------------------------------------------
# One-way ANOVA F — does order value differ across order priorities?
# The k-group generalization of q_ab_test/q_cohens_d: variance
# decomposition from exact whole-dollar moments (sum-of-squares via
# the S2 − S1²/n identity, every division an integer DIV), a single
# double chain only for the final F ratio. One scan, one 5-row
# rollup — the screening test you run before per-group deep dives.
# ---------------------------------------------------------------------------

@query(
    "q_anova_f",
    """
    WITH d AS (
        SELECT o_orderpriority AS grp,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                   // 100 AS v
        FROM orders),
    mom AS (
        SELECT grp, COUNT(*) AS n, SUM(v) AS s1, SUM(v * v) AS s2
        FROM d GROUP BY grp),
    parts AS (
        SELECT n, s1, s2,
               CAST(s1 AS HUGEINT) * s1 // n AS gsq
        FROM mom),
    tot AS (
        SELECT COUNT(*) AS k, SUM(n) AS nn, SUM(s1) AS t1,
               SUM(gsq) AS gsq, SUM(s2 - gsq) AS ssw
        FROM parts)
    SELECT CAST(k AS BIGINT) AS k,
           CAST(nn AS BIGINT) AS n_total,
           CAST(gsq - CAST(t1 AS HUGEINT) * t1 // nn AS BIGINT) AS ssb,
           CAST(ssw AS BIGINT) AS ssw,
           CAST(floor(CAST(gsq - CAST(t1 AS HUGEINT) * t1 // nn
                           AS DOUBLE)
                      / (k - 1) / ssw * (nn - k) * 1000) AS BIGINT)
               AS f_milli,
           CAST(CAST(gsq - CAST(t1 AS HUGEINT) * t1 // nn
                     AS HUGEINT) * 1000000
                // (gsq - CAST(t1 AS HUGEINT) * t1 // nn + ssw)
                AS BIGINT) AS eta2_ppm
    FROM tot
    """,
)
def q_anova_f(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA of order value (whole dollars, cents floored
    away identically in both engines) across the five order
    priorities. Group moments n/S1/S2 are exact BIGINTs; per-group
    S1² routes through DECIMAL(38,0) before an integer DIV so the
    sum-of-squares identity never touches a double; SSB/SSW and
    eta² (ppm) are exact integers, and only the final F statistic
    is one IEEE chain (floored to milli). 100 TB: one map-side
    combine into a k-row rollup — no shuffle wider than k."""
    o = table(spark, sf_dir, "orders")
    d = o.select(
        F.col("o_orderpriority").alias("grp"),
        F.expr(
            "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"
            " DIV 100"
        ).alias("v"),
    )
    mom = d.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("v").alias("s1"),
        F.expr("SUM(v * v)").alias("s2"),
    )
    parts = mom.select(
        "n",
        "s1",
        "s2",
        F.expr("CAST(s1 AS DECIMAL(38,0)) * s1 DIV n").alias("gsq"),
    )
    tot = parts.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n").alias("nn"),
        F.sum("s1").alias("t1"),
        F.sum("gsq").alias("gsq"),
        F.expr("SUM(s2 - gsq)").alias("ssw"),
    )
    return tot.select(
        F.col("k").cast("bigint").alias("k"),
        F.col("nn").cast("bigint").alias("n_total"),
        F.expr(
            "CAST(gsq - CAST(t1 AS DECIMAL(38,0)) * t1 DIV nn AS BIGINT)"
        ).alias("ssb"),
        F.col("ssw").cast("bigint").alias("ssw"),
        F.expr(
            "CAST(floor(CAST(gsq - CAST(t1 AS DECIMAL(38,0)) * t1 DIV nn"
            " AS DOUBLE) / (k - 1) / ssw * (nn - k) * 1000) AS BIGINT)"
        ).alias("f_milli"),
        F.expr(
            "CAST(CAST(gsq - CAST(t1 AS DECIMAL(38,0)) * t1 DIV nn"
            " AS DECIMAL(38,0)) * 1000000"
            " DIV (gsq - CAST(t1 AS DECIMAL(38,0)) * t1 DIV nn + ssw)"
            " AS BIGINT)"
        ).alias("eta2_ppm"),
    )


# ---------------------------------------------------------------------------
# Theil index with between/within decomposition — the inequality
# measure that, unlike q_gini_concentration, decomposes EXACTLY into
# a between-segment and a within-segment term. Per-row entropy terms
# are fixed-point floored BIGINTs (the only order-safe way to sum
# doubles across rows), so the whole statistic is deterministic.
# ---------------------------------------------------------------------------

@query(
    "q_theil_index",
    """
    WITH cust AS (
        SELECT c.c_mktsegment AS segment,
               CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100)
                    AS BIGINT) AS x
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY o.o_custkey, c.c_mktsegment),
    grp AS (
        SELECT segment, COUNT(*) AS ng, SUM(x) AS xg
        FROM cust GROUP BY segment),
    terms AS (
        SELECT c.segment,
               CAST(floor(CAST(c.x AS DOUBLE)
                          * (ln(CAST(c.x AS DOUBLE))
                             - ln(CAST(g.xg AS DOUBLE) / g.ng))
                          * 1000) AS BIGINT) AS t
        FROM cust c JOIN grp g ON c.segment = g.segment),
    gsum AS (
        SELECT SUM(t) AS within_fix FROM terms),
    gtot AS (
        SELECT SUM(ng) AS n, SUM(xg) AS xx FROM grp),
    btween AS (
        SELECT SUM(CAST(floor(CAST(xg AS DOUBLE)
                              * (ln(CAST(xg AS DOUBLE) / ng)
                                 - ln(CAST(xx AS DOUBLE) / n))
                              * 1000) AS BIGINT)) AS between_fix,
               MAX(n) AS n, MAX(xx) AS xx
        FROM grp, gtot)
    SELECT CAST(n AS BIGINT) AS n_customers,
           CAST(floor(CAST(within_fix AS DOUBLE) / xx * 1000)
                AS BIGINT) AS theil_within_micro,
           CAST(floor(CAST(between_fix AS DOUBLE) / xx * 1000)
                AS BIGINT) AS theil_between_micro,
           CAST(floor(CAST(within_fix + between_fix AS DOUBLE)
                      / xx * 1000) AS BIGINT) AS theil_total_micro
    FROM gsum, btween
    """,
)
def q_theil_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T over customer lifetime revenue (exact cents), split
    into within-segment and between-segment inequality. Each row's
    x·ln(x/μ_g) term is floored to fixed-point milli units BEFORE
    summing — double SUM across rows is order-dependent, a floored
    BIGINT sum is not — so both engines reach the identical integer.
    The ln operands are exact (integer x, single division Xg/ng),
    the idiom this repo's parity gotchas sanction. 100 TB: customer
    rollup shuffles once on custkey; the 5-row group table joins
    back by broadcast; nothing else is wider than k."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    cust = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("o_custkey", F.col("c_mktsegment").alias("segment"))
        .agg(
            F.expr(
                "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * 100)"
                " AS BIGINT)"
            ).alias("x")
        )
    )
    grp = cust.groupBy("segment").agg(
        F.count(F.lit(1)).alias("ng"), F.sum("x").alias("xg")
    )
    terms = cust.join(F.broadcast(grp), "segment").select(
        F.expr(
            "CAST(floor(CAST(x AS DOUBLE)"
            " * (ln(CAST(x AS DOUBLE)) - ln(CAST(xg AS DOUBLE) / ng))"
            " * 1000) AS BIGINT)"
        ).alias("t")
    )
    gsum = terms.agg(F.sum("t").alias("within_fix"))
    gtot = grp.agg(
        F.sum("ng").alias("n"), F.sum("xg").alias("xx")
    )
    btween = (
        grp.join(F.broadcast(gtot))
        .select(
            F.expr(
                "CAST(floor(CAST(xg AS DOUBLE)"
                " * (ln(CAST(xg AS DOUBLE) / ng)"
                "    - ln(CAST(xx AS DOUBLE) / n)) * 1000) AS BIGINT)"
            ).alias("b"),
            "n",
            "xx",
        )
        .groupBy("n", "xx")
        .agg(F.sum("b").alias("between_fix"))
    )
    return gsum.join(F.broadcast(btween)).select(
        F.col("n").cast("bigint").alias("n_customers"),
        F.expr(
            "CAST(floor(CAST(within_fix AS DOUBLE) / xx * 1000) AS BIGINT)"
        ).alias("theil_within_micro"),
        F.expr(
            "CAST(floor(CAST(between_fix AS DOUBLE) / xx * 1000)"
            " AS BIGINT)"
        ).alias("theil_between_micro"),
        F.expr(
            "CAST(floor(CAST(within_fix + between_fix AS DOUBLE)"
            " / xx * 1000) AS BIGINT)"
        ).alias("theil_total_micro"),
    )


# ---------------------------------------------------------------------------
# CUPED variance reduction — the modern experimentation workhorse:
# how much A/B variance does a pre-period covariate remove?
# theta = cov(pre,post)/var(pre) and the achievable reduction rho²,
# all from ONE pass of exact integer/DECIMAL moments per customer.
# ---------------------------------------------------------------------------

@query(
    "q_cuped_variance_reduction",
    """
    WITH cust AS (
        SELECT o_custkey,
               CAST(SUM(CASE WHEN o_orderdate < TIMESTAMP '1998-01-01'
                        THEN CAST(o_totalprice AS DECIMAL(18,2)) * 100
                        ELSE 0 END) AS BIGINT) AS x,
               CAST(SUM(CASE WHEN o_orderdate >= TIMESTAMP '1998-01-01'
                        THEN CAST(o_totalprice AS DECIMAL(18,2)) * 100
                        ELSE 0 END) AS BIGINT) AS y
        FROM orders GROUP BY o_custkey),
    mom AS (
        SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
               SUM(CAST(x AS HUGEINT) * y) AS sxy,
               SUM(CAST(x AS HUGEINT) * x) AS sxx,
               SUM(CAST(y AS HUGEINT) * y) AS syy
        FROM cust),
    stats AS (
        SELECT n,
               CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) / n * sy AS cov,
               CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) / n * sx AS vx,
               CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) / n * sy AS vy
        FROM mom)
    SELECT CAST(n AS BIGINT) AS n_customers,
           CAST(floor(cov / vx * 1000000) AS BIGINT) AS theta_micro,
           CAST(floor(cov / vx * cov / vy * 1000000) AS BIGINT)
               AS rho2_ppm
    FROM stats
    """,
)
def q_cuped_variance_reduction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED: per-customer pre-period (orders before 1998-01-01,
    mid-range of this corpus's 1995–2001 span) and post-period
    revenue in exact cents; theta and the variance-reduction factor
    rho² from raw moments — sums BIGINT, cross/square sums routed
    through DECIMAL(38,0) so nothing inexact is ever summed across
    rows; the two emitted statistics are single IEEE chains over
    those exact operands, floored to fixed point. 100 TB: one
    custkey shuffle into a 1-row moment rollup; adjusting the metric
    afterwards is a broadcast of two scalars."""
    o = table(spark, sf_dir, "orders")
    cust = o.groupBy("o_custkey").agg(
        F.expr(
            "CAST(SUM(CASE WHEN o_orderdate < TIMESTAMP '1998-01-01'"
            " THEN CAST(o_totalprice AS DECIMAL(18,2)) * 100"
            " ELSE 0 END) AS BIGINT)"
        ).alias("x"),
        F.expr(
            "CAST(SUM(CASE WHEN o_orderdate >= TIMESTAMP '1998-01-01'"
            " THEN CAST(o_totalprice AS DECIMAL(18,2)) * 100"
            " ELSE 0 END) AS BIGINT)"
        ).alias("y"),
    )
    mom = cust.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.expr("SUM(CAST(x AS DECIMAL(38,0)) * y)").alias("sxy"),
        F.expr("SUM(CAST(x AS DECIMAL(38,0)) * x)").alias("sxx"),
        F.expr("SUM(CAST(y AS DECIMAL(38,0)) * y)").alias("syy"),
    )
    stats = mom.select(
        "n",
        F.expr(
            "CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) / n * sy"
        ).alias("cov"),
        F.expr(
            "CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) / n * sx"
        ).alias("vx"),
        F.expr(
            "CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) / n * sy"
        ).alias("vy"),
    )
    return stats.select(
        F.col("n").cast("bigint").alias("n_customers"),
        F.expr("CAST(floor(cov / vx * 1000000) AS BIGINT)").alias(
            "theta_micro"
        ),
        F.expr(
            "CAST(floor(cov / vx * cov / vy * 1000000) AS BIGINT)"
        ).alias("rho2_ppm"),
    )


# ---------------------------------------------------------------------------
# Knee/elbow detection — where does the brand concentration curve
# bend? Max-distance-to-chord in exact integer cross-product form
# over the cumulative revenue curve; the principled way to pick
# "how many top brands matter" instead of eyeballing the Pareto.
# ---------------------------------------------------------------------------

@query(
    "q_knee_detection",
    """
    WITH rev AS (
        SELECT p.p_brand AS brand,
               SUM(CAST(floor(CAST(l.l_extendedprice AS DECIMAL(18,4))
                              * CAST(1 - l.l_discount AS DECIMAL(18,4))
                              * 100) AS BIGINT)) AS rev_c
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        GROUP BY p.p_brand),
    curve AS (
        SELECT brand, rev_c,
               ROW_NUMBER() OVER (ORDER BY rev_c DESC, brand) AS rk,
               SUM(rev_c) OVER (ORDER BY rev_c DESC, brand) AS cum,
               COUNT(*) OVER () AS nb,
               SUM(rev_c) OVER () AS tot
        FROM rev),
    dev AS (
        SELECT brand, rev_c, rk,
               CAST(cum AS HUGEINT) * 1000000 // tot AS cum_share_ppm,
               cum * nb - tot * rk AS d
        FROM curve),
    flagged AS (
        SELECT brand, rev_c, rk, cum_share_ppm, d,
               MAX(d) OVER () AS max_d
        FROM dev),
    knee AS (
        SELECT brand, rev_c, rk, cum_share_ppm, d,
               MIN(CASE WHEN d = max_d THEN rk END) OVER () AS knee_rk
        FROM flagged)
    SELECT CAST(rk AS BIGINT) AS rk, brand,
           CAST(rev_c AS BIGINT) AS rev_c,
           CAST(cum_share_ppm AS BIGINT) AS cum_share_ppm,
           CAST(d AS BIGINT) AS dev,
           CAST(CASE WHEN rk = knee_rk THEN 1 ELSE 0 END AS INT)
               AS is_knee
    FROM knee ORDER BY rk
    """,
)
def q_knee_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Knee of the brand cumulative-revenue curve: rank the ~25
    brands by exact integer cents (per-row floor of the DECIMAL
    price×discount product — identical in both engines), then the
    chord-distance argmax in cross-product form cum·n − tot·rk, an
    exact BIGINT, no doubles anywhere. Ties break to the smallest
    rank. 100 TB: the fact scan rolls up to one row per brand; every
    window runs on that ~25-row table."""
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    rev = (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.expr(
                "SUM(CAST(floor(CAST(l_extendedprice AS DECIMAL(18,4))"
                " * CAST(1 - l_discount AS DECIMAL(18,4)) * 100)"
                " AS BIGINT))"
            ).alias("rev_c")
        )
    )
    curve = rev.select(
        "brand",
        "rev_c",
        F.expr(
            "ROW_NUMBER() OVER (ORDER BY rev_c DESC, brand)"
        ).alias("rk"),
        F.expr(
            "SUM(rev_c) OVER (ORDER BY rev_c DESC, brand)"
        ).alias("cum"),
        F.expr("COUNT(*) OVER ()").alias("nb"),
        F.expr("SUM(rev_c) OVER ()").alias("tot"),
    )
    dev = curve.select(
        "brand",
        "rev_c",
        "rk",
        F.expr(
            "CAST(cum AS DECIMAL(38,0)) * 1000000 DIV tot"
        ).alias("cum_share_ppm"),
        F.expr("cum * nb - tot * rk").alias("d"),
    )
    flagged = dev.select(
        "brand",
        "rev_c",
        "rk",
        "cum_share_ppm",
        "d",
        F.expr("MAX(d) OVER ()").alias("max_d"),
    )
    knee = flagged.select(
        "brand",
        "rev_c",
        "rk",
        "cum_share_ppm",
        "d",
        F.expr(
            "MIN(CASE WHEN d = max_d THEN rk END) OVER ()"
        ).alias("knee_rk"),
    )
    return knee.select(
        F.col("rk").cast("bigint").alias("rk"),
        "brand",
        F.col("rev_c").cast("bigint").alias("rev_c"),
        F.col("cum_share_ppm").cast("bigint").alias("cum_share_ppm"),
        F.col("d").cast("bigint").alias("dev"),
        F.expr(
            "CAST(CASE WHEN rk = knee_rk THEN 1 ELSE 0 END AS INT)"
        ).alias("is_knee"),
    ).orderBy("rk")


# ---------------------------------------------------------------------------
# Split-conformal prediction intervals — distribution-free 90%
# intervals around a per-priority mean model: train half fits the
# mean, calibration half supplies the ceil(0.9(n+1))-th absolute
# residual as the radius. Everything is an exact integer; the only
# sort is an order-statistic window partitioned by the group key.
# ---------------------------------------------------------------------------

@query(
    "q_conformal_interval",
    """
    WITH base AS (
        SELECT o_orderpriority AS grp, o_orderkey % 2 AS fold,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                   AS v
        FROM orders),
    model AS (
        SELECT grp, COUNT(*) AS n_train,
               SUM(v) // COUNT(*) AS mu_c
        FROM base WHERE fold = 0 GROUP BY grp),
    calib AS (
        SELECT b.grp, abs(b.v - m.mu_c) AS r
        FROM base b JOIN model m ON b.grp = m.grp
        WHERE b.fold = 1),
    ranked AS (
        SELECT grp, r,
               ROW_NUMBER() OVER (PARTITION BY grp ORDER BY r) AS rn,
               COUNT(*) OVER (PARTITION BY grp) AS n_cal
        FROM calib),
    thresh AS (
        SELECT grp, n_cal, r AS q90_c
        FROM ranked WHERE rn = (9 * (n_cal + 1) + 9) // 10),
    cov AS (
        SELECT c.grp,
               SUM(CASE WHEN c.r <= t.q90_c THEN 1 ELSE 0 END) AS hits
        FROM calib c JOIN thresh t ON c.grp = t.grp
        GROUP BY c.grp)
    SELECT m.grp AS priority,
           CAST(m.n_train AS BIGINT) AS n_train,
           CAST(t.n_cal AS BIGINT) AS n_cal,
           CAST(m.mu_c AS BIGINT) AS mu_c,
           CAST(t.q90_c AS BIGINT) AS q90_c,
           CAST(c.hits * 1000000 // t.n_cal AS BIGINT) AS coverage_ppm
    FROM model m JOIN thresh t ON m.grp = t.grp
                 JOIN cov c ON m.grp = c.grp
    ORDER BY priority
    """,
)
def q_conformal_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal 90% intervals per order priority: fold by
    o_orderkey parity (deterministic), train-half floored-cents mean
    as the point model, calibration-half absolute residuals ranked
    within each group — the value at position ceil(0.9(n+1)) is the
    conformal radius regardless of tie ordering, so ROW_NUMBER ties
    are harmless. Empirical calibration coverage (>= 900000 ppm by
    construction) is emitted as the self-check. 100 TB: the only
    sort is partitioned by the group key; the model and thresholds
    broadcast back."""
    from pyspark.sql.window import Window

    o = table(spark, sf_dir, "orders")
    base = o.select(
        F.col("o_orderpriority").alias("grp"),
        (F.col("o_orderkey") % 2).alias("fold"),
        F.expr(
            "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"
        ).alias("v"),
    )
    model = (
        base.where(F.col("fold") == 0)
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("n_train"),
            F.expr("SUM(v) DIV COUNT(*)").alias("mu_c"),
        )
    )
    calib = (
        base.where(F.col("fold") == 1)
        .join(F.broadcast(model), "grp")
        .select("grp", F.expr("abs(v - mu_c)").alias("r"))
    )
    wg = Window.partitionBy("grp")
    ranked = calib.select(
        "grp",
        "r",
        F.row_number().over(wg.orderBy("r")).alias("rn"),
        F.count(F.lit(1)).over(wg).alias("n_cal"),
    )
    thresh = ranked.where(
        F.expr("rn = (9 * (n_cal + 1) + 9) DIV 10")
    ).select("grp", "n_cal", F.col("r").alias("q90_c"))
    cov = (
        calib.join(F.broadcast(thresh), "grp")
        .groupBy("grp")
        .agg(
            F.expr(
                "SUM(CASE WHEN r <= q90_c THEN 1 ELSE 0 END)"
            ).alias("hits")
        )
    )
    return (
        model.join(thresh, "grp")
        .join(cov, "grp")
        .select(
            F.col("grp").alias("priority"),
            F.col("n_train").cast("bigint").alias("n_train"),
            F.col("n_cal").cast("bigint").alias("n_cal"),
            F.col("mu_c").cast("bigint").alias("mu_c"),
            F.col("q90_c").cast("bigint").alias("q90_c"),
            F.expr(
                "CAST(hits * 1000000 DIV n_cal AS BIGINT)"
            ).alias("coverage_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Price–volume–mix bridge — the finance decomposition of a revenue
# change: per brand, how much of 1996→1997 delta came from unit-price
# movement vs quantity movement vs their interaction. Division-free
# form (q0·R1 DIV q1 − R0) keeps every integer division over positive
# operands, so Spark DIV and DuckDB // agree; the mix term is the
# exact remainder, making the bridge sum to the delta by construction.
# ---------------------------------------------------------------------------

@query(
    "q_price_volume_mix",
    """
    WITH by_year AS (
        SELECT p.p_brand AS brand,
               CASE WHEN l.l_shipdate < TIMESTAMP '1997-01-01'
                    THEN 0 ELSE 1 END AS yr,
               CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS BIGINT)
                   AS qty,
               SUM(CAST(floor(CAST(l.l_extendedprice AS DECIMAL(18,4))
                              * CAST(1 - l.l_discount AS DECIMAL(18,4))
                              * 100) AS BIGINT)) AS rev_c
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
          AND l.l_shipdate <  TIMESTAMP '1998-01-01'
        GROUP BY 1, 2),
    wide AS (
        SELECT brand,
               MAX(CASE WHEN yr = 0 THEN qty END) AS q0,
               MAX(CASE WHEN yr = 0 THEN rev_c END) AS r0,
               MAX(CASE WHEN yr = 1 THEN qty END) AS q1,
               MAX(CASE WHEN yr = 1 THEN rev_c END) AS r1
        FROM by_year GROUP BY brand),
    eff AS (
        SELECT brand, q0, q1, r0, r1,
               CAST(CAST(q0 AS HUGEINT) * r1 // q1 - r0 AS BIGINT)
                   AS price_eff_c,
               CAST(CAST(r0 AS HUGEINT) * q1 // q0 - r0 AS BIGINT)
                   AS volume_eff_c
        FROM wide WHERE q0 > 0 AND q1 > 0)
    SELECT brand,
           CAST(q0 AS BIGINT) AS q0, CAST(q1 AS BIGINT) AS q1,
           CAST(r0 AS BIGINT) AS rev0_c, CAST(r1 AS BIGINT) AS rev1_c,
           CAST(r1 - r0 AS BIGINT) AS delta_c,
           price_eff_c, volume_eff_c,
           CAST(r1 - r0 - price_eff_c - volume_eff_c AS BIGINT)
               AS mix_eff_c
    FROM eff ORDER BY brand
    """,
)
def q_price_volume_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue bridge per brand between ship-years 1996 and 1997:
    price effect q0·(p1−p0) and volume effect (q1−q0)·p0 computed in
    the division-free form q0·R1 DIV q1 − R0 / R0·q1 DIV q0 − R0
    (positive operands only — signed floor-vs-truncate divergence
    between engines never arises), with the mix/interaction term as
    the exact integer remainder so price+volume+mix == delta always.
    Quantities and revenue cents are exact DECIMAL-snapped integers.
    100 TB: fact scan with a ship-date pushdown, one brand-year
    rollup, 25-row pivot."""
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    by_year = (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1998-01-01"))
        )
        .join(p, li.l_partkey == p.p_partkey)
        .groupBy(
            F.col("p_brand").alias("brand"),
            F.expr(
                "CASE WHEN l_shipdate < TIMESTAMP '1997-01-01'"
                " THEN 0 ELSE 1 END"
            ).alias("yr"),
        )
        .agg(
            F.expr(
                "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS BIGINT)"
            ).alias("qty"),
            F.expr(
                "SUM(CAST(floor(CAST(l_extendedprice AS DECIMAL(18,4))"
                " * CAST(1 - l_discount AS DECIMAL(18,4)) * 100)"
                " AS BIGINT))"
            ).alias("rev_c"),
        )
    )
    wide = by_year.groupBy("brand").agg(
        F.expr("MAX(CASE WHEN yr = 0 THEN qty END)").alias("q0"),
        F.expr("MAX(CASE WHEN yr = 0 THEN rev_c END)").alias("r0"),
        F.expr("MAX(CASE WHEN yr = 1 THEN qty END)").alias("q1"),
        F.expr("MAX(CASE WHEN yr = 1 THEN rev_c END)").alias("r1"),
    )
    eff = wide.where((F.col("q0") > 0) & (F.col("q1") > 0)).select(
        "brand",
        "q0",
        "q1",
        "r0",
        "r1",
        F.expr(
            "CAST(CAST(q0 AS DECIMAL(38,0)) * r1 DIV q1 - r0 AS BIGINT)"
        ).alias("price_eff_c"),
        F.expr(
            "CAST(CAST(r0 AS DECIMAL(38,0)) * q1 DIV q0 - r0 AS BIGINT)"
        ).alias("volume_eff_c"),
    )
    return eff.select(
        "brand",
        F.col("q0").cast("bigint").alias("q0"),
        F.col("q1").cast("bigint").alias("q1"),
        F.col("r0").cast("bigint").alias("rev0_c"),
        F.col("r1").cast("bigint").alias("rev1_c"),
        F.expr("CAST(r1 - r0 AS BIGINT)").alias("delta_c"),
        "price_eff_c",
        "volume_eff_c",
        F.expr(
            "CAST(r1 - r0 - price_eff_c - volume_eff_c AS BIGINT)"
        ).alias("mix_eff_c"),
    )


# ---------------------------------------------------------------------------
# Difference-in-differences — the quasi-experimental workhorse:
# treated vs control segment, pre vs post period, the interaction
# term is the causal estimate. Four cells of exact moments from one
# scan; only the final DiD and its z cross into doubles.
# ---------------------------------------------------------------------------

@query(
    "q_diff_in_diff",
    """
    WITH cells AS (
        SELECT CASE WHEN c.c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END
                   AS treat,
               CASE WHEN o.o_orderdate >= TIMESTAMP '1998-01-01'
                    THEN 1 ELSE 0 END AS post,
               CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS v
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE c.c_mktsegment IN ('BUILDING', 'MACHINERY')),
    mom AS (
        SELECT treat, post, COUNT(*) AS n, SUM(v) AS s,
               SUM(CAST(v AS HUGEINT) * v) AS q
        FROM cells GROUP BY treat, post),
    wide AS (
        SELECT MAX(CASE WHEN treat=1 AND post=1 THEN n END) AS n11,
               MAX(CASE WHEN treat=1 AND post=1 THEN s END) AS s11,
               MAX(CASE WHEN treat=1 AND post=1 THEN q END) AS q11,
               MAX(CASE WHEN treat=1 AND post=0 THEN n END) AS n10,
               MAX(CASE WHEN treat=1 AND post=0 THEN s END) AS s10,
               MAX(CASE WHEN treat=1 AND post=0 THEN q END) AS q10,
               MAX(CASE WHEN treat=0 AND post=1 THEN n END) AS n01,
               MAX(CASE WHEN treat=0 AND post=1 THEN s END) AS s01,
               MAX(CASE WHEN treat=0 AND post=1 THEN q END) AS q01,
               MAX(CASE WHEN treat=0 AND post=0 THEN n END) AS n00,
               MAX(CASE WHEN treat=0 AND post=0 THEN s END) AS s00,
               MAX(CASE WHEN treat=0 AND post=0 THEN q END) AS q00
        FROM mom),
    stats AS (
        SELECT n11, n10, n01, n00,
               CAST(s11 AS DOUBLE) / n11 - CAST(s10 AS DOUBLE) / n10
               - (CAST(s01 AS DOUBLE) / n01 - CAST(s00 AS DOUBLE) / n00)
                   AS did,
               (CAST(q11 AS DOUBLE) - CAST(s11 AS DOUBLE) / n11 * s11)
                   / (n11 - 1) / n11
               + (CAST(q10 AS DOUBLE) - CAST(s10 AS DOUBLE) / n10 * s10)
                   / (n10 - 1) / n10
               + (CAST(q01 AS DOUBLE) - CAST(s01 AS DOUBLE) / n01 * s01)
                   / (n01 - 1) / n01
               + (CAST(q00 AS DOUBLE) - CAST(s00 AS DOUBLE) / n00 * s00)
                   / (n00 - 1) / n00 AS var_did
        FROM wide)
    SELECT CAST(n11 AS BIGINT) AS n_treat_post,
           CAST(n10 AS BIGINT) AS n_treat_pre,
           CAST(n01 AS BIGINT) AS n_ctrl_post,
           CAST(n00 AS BIGINT) AS n_ctrl_pre,
           CAST(floor(did * 1000) AS BIGINT) AS did_milli_c,
           CAST(floor(did / sqrt(var_did) * 1000) AS BIGINT) AS z_milli
    FROM stats
    """,
)
def q_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences on order value: BUILDING (treated)
    vs MACHINERY (control), pre/post the 1998-01-01 mid-corpus
    split. Cell moments n/S/Q are exact (squares DECIMAL(38,0)-
    routed); DiD and its large-sample z use per-cell variance-of-
    mean terms — each a single IEEE chain over exact operands,
    identical text in both engines, floored to fixed point. The
    caveat every DiD carries (parallel-trends assumption) lives with
    the consumer; the engine's job is the exact interaction term.
    100 TB: one fact scan, a 4-row rollup, a 1-row answer."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    cells = (
        o.join(c, o.o_custkey == c.c_custkey)
        .where(F.col("c_mktsegment").isin("BUILDING", "MACHINERY"))
        .select(
            F.expr(
                "CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END"
            ).alias("treat"),
            F.expr(
                "CASE WHEN o_orderdate >= TIMESTAMP '1998-01-01'"
                " THEN 1 ELSE 0 END"
            ).alias("post"),
            F.expr(
                "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100"
                " AS BIGINT)"
            ).alias("v"),
        )
    )
    mom = cells.groupBy("treat", "post").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("v").alias("s"),
        F.expr("SUM(CAST(v AS DECIMAL(38,0)) * v)").alias("q"),
    )
    wide = mom.agg(
        *[
            F.expr(
                f"MAX(CASE WHEN treat={t} AND post={p} THEN {col} END)"
            ).alias(f"{col}{t}{p}")
            for t in (1, 0)
            for p in (1, 0)
            for col in ("n", "s", "q")
        ]
    )
    stats = wide.select(
        "n11",
        "n10",
        "n01",
        "n00",
        F.expr(
            "CAST(s11 AS DOUBLE) / n11 - CAST(s10 AS DOUBLE) / n10"
            " - (CAST(s01 AS DOUBLE) / n01 - CAST(s00 AS DOUBLE) / n00)"
        ).alias("did"),
        F.expr(
            "(CAST(q11 AS DOUBLE) - CAST(s11 AS DOUBLE) / n11 * s11)"
            " / (n11 - 1) / n11"
            " + (CAST(q10 AS DOUBLE) - CAST(s10 AS DOUBLE) / n10 * s10)"
            " / (n10 - 1) / n10"
            " + (CAST(q01 AS DOUBLE) - CAST(s01 AS DOUBLE) / n01 * s01)"
            " / (n01 - 1) / n01"
            " + (CAST(q00 AS DOUBLE) - CAST(s00 AS DOUBLE) / n00 * s00)"
            " / (n00 - 1) / n00"
        ).alias("var_did"),
    )
    return stats.select(
        F.col("n11").cast("bigint").alias("n_treat_post"),
        F.col("n10").cast("bigint").alias("n_treat_pre"),
        F.col("n01").cast("bigint").alias("n_ctrl_post"),
        F.col("n00").cast("bigint").alias("n_ctrl_pre"),
        F.expr("CAST(floor(did * 1000) AS BIGINT)").alias("did_milli_c"),
        F.expr(
            "CAST(floor(did / sqrt(var_did) * 1000) AS BIGINT)"
        ).alias("z_milli"),
    )


# ---------------------------------------------------------------------------
# Hill tail-index estimator — how heavy is the right tail of order
# values? gamma = mean ln(x_i/x_threshold) over the top-k order
# statistics; alpha = 1/gamma is the Pareto exponent that decides
# whether variance even exists. Top-k via TakeOrdered (no global
# sort); per-term logs floored to fixed point before the sum.
# ---------------------------------------------------------------------------

_HILL_K = 100


@query(
    "q_hill_tail_index",
    f"""
    WITH topk AS (
        SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                   AS v
        FROM orders
        ORDER BY v DESC, o_orderkey LIMIT {_HILL_K + 1}),
    thr AS (
        SELECT MIN(v) AS x_thr FROM topk),
    terms AS (
        SELECT CAST(floor((ln(CAST(v AS DOUBLE))
                           - ln(CAST(x_thr AS DOUBLE))) * 1000000)
                    AS BIGINT) AS t
        FROM topk, thr WHERE v > x_thr)
    SELECT CAST(COUNT(*) AS BIGINT) AS k,
           CAST((SELECT x_thr FROM thr) AS BIGINT) AS x_thr_c,
           CAST(SUM(t) AS BIGINT) AS sum_ln_micro,
           CAST(SUM(t) // COUNT(*) AS BIGINT) AS gamma_micro,
           CAST(COUNT(*) * 1000000000000 // SUM(t) AS BIGINT)
               AS alpha_micro
    FROM terms
    """,
)
def q_hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill estimator over the top-100 order values: threshold is the
    (k+1)-th order statistic, each ln(x/x_thr) term is floored to
    micro-nats before summing (order-safe), gamma and alpha are
    integer divisions of exact operands. Ties at the threshold are
    excluded by the strict v > x_thr (identically in both engines),
    so which tied rows the LIMIT picked is irrelevant. alpha < 2
    would mean infinite variance — the check that decides whether
    mean-based dashboards on this metric lie. 100 TB: top-k is
    TakeOrdered, never a global sort."""
    o = table(spark, sf_dir, "orders")
    topk = (
        o.select(
            F.expr(
                "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100"
                " AS BIGINT)"
            ).alias("v"),
            "o_orderkey",
        )
        .orderBy(F.desc("v"), "o_orderkey")
        .limit(_HILL_K + 1)
        .select("v")
    )
    thr = topk.agg(F.min("v").alias("x_thr"))
    terms = (
        topk.join(F.broadcast(thr))
        .where(F.col("v") > F.col("x_thr"))
        .select(
            F.expr(
                "CAST(floor((ln(CAST(v AS DOUBLE))"
                " - ln(CAST(x_thr AS DOUBLE))) * 1000000) AS BIGINT)"
            ).alias("t"),
            "x_thr",
        )
    )
    return terms.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.min("x_thr").cast("bigint").alias("x_thr_c"),
        F.sum("t").cast("bigint").alias("sum_ln_micro"),
        F.expr("CAST(SUM(t) DIV COUNT(*) AS BIGINT)").alias(
            "gamma_micro"
        ),
        F.expr(
            "CAST(COUNT(*) * 1000000000000 DIV SUM(t) AS BIGINT)"
        ).alias("alpha_micro"),
    )


# ---------------------------------------------------------------------------
# Overdispersion index — var/mean of orders-per-customer by segment:
# the one-number check that decides Poisson vs negative-binomial
# before anyone models counts. Exact moments, one double chain.
# ---------------------------------------------------------------------------

@query(
    "q_overdispersion",
    """
    WITH cnt AS (
        SELECT c.c_mktsegment AS segment, c.c_custkey,
               COUNT(o.o_orderkey) AS k
        FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
        GROUP BY c.c_mktsegment, c.c_custkey),
    mom AS (
        SELECT segment, COUNT(*) AS n, SUM(k) AS s1,
               SUM(k * k) AS s2
        FROM cnt GROUP BY segment)
    SELECT segment,
           CAST(n AS BIGINT) AS n_customers,
           CAST(s1 AS BIGINT) AS n_orders,
           CAST(floor((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) / n * s1)
                      / (n - 1) / (CAST(s1 AS DOUBLE) / n) * 1000)
                AS BIGINT) AS dispersion_milli,
           CAST(floor(((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) / n * s1)
                       / (n - 1) / (CAST(s1 AS DOUBLE) / n) - 1)
                      * sqrt((n - 1) / CAST(2 AS DOUBLE)) * 1000)
                AS BIGINT) AS z_milli
    FROM mom ORDER BY segment
    """,
)
def q_overdispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dispersion index D = var/mean of orders-per-customer per
    segment (LEFT JOIN keeps zero-order customers — dropping them
    biases D up), with the large-sample z for D=1. Counts are exact
    BIGINTs; D and z are single IEEE chains over those operands,
    floored to milli. D >> 1 says customer activity is clumped and
    Poisson rate models will underestimate tails. 100 TB: one
    custkey rollup then a k-row segment rollup."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    cnt = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy(F.col("c_mktsegment").alias("segment"), "c_custkey")
        .agg(F.count("o_orderkey").alias("k"))
    )
    mom = cnt.groupBy("segment").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("k").alias("s1"),
        F.expr("SUM(k * k)").alias("s2"),
    )
    return mom.select(
        "segment",
        F.col("n").cast("bigint").alias("n_customers"),
        F.col("s1").cast("bigint").alias("n_orders"),
        F.expr(
            "CAST(floor((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) / n * s1)"
            " / (n - 1) / (CAST(s1 AS DOUBLE) / n) * 1000) AS BIGINT)"
        ).alias("dispersion_milli"),
        F.expr(
            "CAST(floor(((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) / n * s1)"
            " / (n - 1) / (CAST(s1 AS DOUBLE) / n) - 1)"
            " * sqrt((n - 1) / CAST(2 AS DOUBLE)) * 1000) AS BIGINT)"
        ).alias("z_milli"),
    ).transform(sort_bounded, "segment")


# ---------------------------------------------------------------------------
# Wilcoxon signed-rank test — the paired nonparametric companion of
# q_diff_in_diff: did per-customer revenue shift pre→post, without
# assuming normality? Doubled average ranks (2r̄ = 2·RANK + ties − 1)
# keep tie handling exactly integral; run per segment so the rank
# windows partition.
# ---------------------------------------------------------------------------

@query(
    "q_wilcoxon_signed_rank",
    """
    WITH cust AS (
        SELECT c.c_mktsegment AS segment, o.o_custkey,
               CAST(SUM(CASE WHEN o.o_orderdate < TIMESTAMP '1998-01-01'
                        THEN CAST(o.o_totalprice AS DECIMAL(18,2)) * 100
                        ELSE 0 END) AS BIGINT) AS pre_c,
               CAST(SUM(CASE WHEN o.o_orderdate >= TIMESTAMP '1998-01-01'
                        THEN CAST(o.o_totalprice AS DECIMAL(18,2)) * 100
                        ELSE 0 END) AS BIGINT) AS post_c
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY c.c_mktsegment, o.o_custkey),
    diffs AS (
        SELECT segment, post_c - pre_c AS d, abs(post_c - pre_c) AS ad
        FROM cust WHERE post_c <> pre_c),
    ranked AS (
        SELECT segment, d, ad,
               2 * RANK() OVER (PARTITION BY segment ORDER BY ad)
                   + COUNT(*) OVER (PARTITION BY segment, ad) - 1 AS r2
        FROM diffs),
    ties AS (
        SELECT segment, SUM(m*m*m - m) AS tie_sum
        FROM (SELECT segment, ad, COUNT(*) AS m FROM diffs
              GROUP BY segment, ad)
        GROUP BY segment),
    agg AS (
        SELECT r.segment, COUNT(*) AS n,
               SUM(CASE WHEN r.d > 0 THEN r.r2 ELSE 0 END) AS t2,
               MAX(t.tie_sum) AS tie_sum
        FROM ranked r JOIN ties t ON r.segment = t.segment
        GROUP BY r.segment)
    SELECT segment,
           CAST(n AS BIGINT) AS n_pairs,
           CAST(t2 AS BIGINT) AS w_plus_x2,
           CAST(n * (n + 1) // 2 AS BIGINT) AS e_w_x2,
           CAST(floor((t2 - CAST(n * (n + 1) AS DOUBLE) / 2)
                / sqrt(CAST(n AS DOUBLE) * (n + 1) * (2 * n + 1) / 6
                       - CAST(tie_sum AS DOUBLE) / 12) * 1000)
                AS BIGINT) AS z_milli
    FROM agg ORDER BY segment
    """,
)
def q_wilcoxon_signed_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilcoxon signed-rank per segment on paired per-customer
    pre/post revenue (zero differences dropped per the classic
    procedure). Average ranks are carried doubled — 2r̄ = 2·RANK +
    tiecount − 1 is always an integer — so W+ (doubled), its
    expectation, and the tie-corrected variance are exact until the
    one final z chain. 100 TB: ranks partition by segment; the tie
    table is a (segment, |d|) rollup."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    cust = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("segment"), "o_custkey")
        .agg(
            F.expr(
                "CAST(SUM(CASE WHEN o_orderdate < TIMESTAMP '1998-01-01'"
                " THEN CAST(o_totalprice AS DECIMAL(18,2)) * 100"
                " ELSE 0 END) AS BIGINT)"
            ).alias("pre_c"),
            F.expr(
                "CAST(SUM(CASE WHEN o_orderdate >= TIMESTAMP '1998-01-01'"
                " THEN CAST(o_totalprice AS DECIMAL(18,2)) * 100"
                " ELSE 0 END) AS BIGINT)"
            ).alias("post_c"),
        )
    )
    diffs = cust.where(F.col("post_c") != F.col("pre_c")).select(
        "segment",
        F.expr("post_c - pre_c").alias("d"),
        F.expr("abs(post_c - pre_c)").alias("ad"),
    )
    ranked = diffs.select(
        "segment",
        "d",
        F.expr(
            "2 * RANK() OVER (PARTITION BY segment ORDER BY ad)"
            " + COUNT(*) OVER (PARTITION BY segment, ad) - 1"
        ).alias("r2"),
    )
    ties = (
        diffs.groupBy("segment", "ad")
        .agg(F.count(F.lit(1)).alias("m"))
        .groupBy("segment")
        .agg(F.expr("SUM(m*m*m - m)").alias("tie_sum"))
    )
    agg = (
        ranked.join(F.broadcast(ties), "segment")
        .groupBy("segment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr(
                "SUM(CASE WHEN d > 0 THEN r2 ELSE 0 END)"
            ).alias("t2"),
            F.max("tie_sum").alias("tie_sum"),
        )
    )
    return agg.select(
        "segment",
        F.col("n").cast("bigint").alias("n_pairs"),
        F.col("t2").cast("bigint").alias("w_plus_x2"),
        F.expr("CAST(n * (n + 1) DIV 2 AS BIGINT)").alias("e_w_x2"),
        F.expr(
            "CAST(floor((t2 - CAST(n * (n + 1) AS DOUBLE) / 2)"
            " / sqrt(CAST(n AS DOUBLE) * (n + 1) * (2 * n + 1) / 6"
            " - CAST(tie_sum AS DOUBLE) / 12) * 1000) AS BIGINT)"
        ).alias("z_milli"),
    )


# ---------------------------------------------------------------------------
# Empirical-Bayes shrinkage — per-brand return rates shrunk toward
# the prior a beta-binomial method-of-moments fit implies: the
# standard fix for "the worst brand is just the smallest sample".
# Per-brand rates are integer ppm, the prior fit is one IEEE chain,
# and each shrunken rate is one more — nothing inexact is summed.
# ---------------------------------------------------------------------------

@query(
    "q_eb_shrinkage",
    """
    WITH br AS (
        SELECT p.p_brand AS brand, COUNT(*) AS n,
               SUM(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END)
                   AS k
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        GROUP BY p.p_brand),
    rates AS (
        SELECT brand, n, k, k * 1000000 // n AS p_ppm FROM br),
    mom AS (
        SELECT COUNT(*) AS nb, SUM(p_ppm) AS s1,
               SUM(p_ppm * p_ppm) AS s2
        FROM rates),
    prior AS (
        SELECT (CAST(s1 AS DOUBLE) / nb)
                   * (1000000 - CAST(s1 AS DOUBLE) / nb)
                   / ((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) / nb * s1)
                      / (nb - 1))
                   - 1 AS ab,
               ((CAST(s1 AS DOUBLE) / nb)
                   * (1000000 - CAST(s1 AS DOUBLE) / nb)
                   / ((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) / nb * s1)
                      / (nb - 1))
                   - 1) * (CAST(s1 AS DOUBLE) / nb) / 1000000 AS a
        FROM mom)
    SELECT brand,
           CAST(n AS BIGINT) AS n_lines,
           CAST(k AS BIGINT) AS n_returns,
           CAST(p_ppm AS BIGINT) AS raw_ppm,
           CAST(floor((k + a) / (n + ab) * 1000000) AS BIGINT)
               AS shrunk_ppm
    FROM rates, prior
    ORDER BY brand
    """,
)
def q_eb_shrinkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beta-binomial empirical Bayes on per-brand return rates:
    method-of-moments prior (alpha, alpha+beta) from the unweighted
    mean/variance of the integer-ppm brand rates, then each brand's
    posterior mean (k+a)/(n+a+b). The prior scalars are doubles but
    derive from exact integer moments through one written-once IEEE
    chain, so both engines broadcast the identical pair. Shrinkage
    is visible in-band: small-n brands land near the prior mean,
    large-n brands keep their raw rate. 100 TB: one fact rollup,
    a 25-row moment pass, a broadcast of two scalars."""
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    br = (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr(
                "SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)"
            ).alias("k"),
        )
    )
    rates = br.select(
        "brand", "n", "k", F.expr("k * 1000000 DIV n").alias("p_ppm")
    )
    mom = rates.agg(
        F.count(F.lit(1)).alias("nb"),
        F.sum("p_ppm").alias("s1"),
        F.expr("SUM(p_ppm * p_ppm)").alias("s2"),
    )
    _AB = (
        "(CAST(s1 AS DOUBLE) / nb)"
        " * (1000000 - CAST(s1 AS DOUBLE) / nb)"
        " / ((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) / nb * s1)"
        " / (nb - 1)) - 1"
    )
    prior = mom.select(
        F.expr(_AB).alias("ab"),
        F.expr(
            f"({_AB}) * (CAST(s1 AS DOUBLE) / nb) / 1000000"
        ).alias("a"),
    )
    return (
        rates.join(F.broadcast(prior))
        .select(
            "brand",
            F.col("n").cast("bigint").alias("n_lines"),
            F.col("k").cast("bigint").alias("n_returns"),
            F.col("p_ppm").cast("bigint").alias("raw_ppm"),
            F.expr(
                "CAST(floor((k + a) / (n + ab) * 1000000) AS BIGINT)"
            ).alias("shrunk_ppm"),
        )
        .transform(sort_bounded, "brand")
    )


# ---------------------------------------------------------------------------
# Rank-biased overlap — how similar are this year's and last year's
# brand-revenue rankings, weighted toward the top? RBO with p=0.9,
# evaluated EXACTLY: p^(d-1) = 9^(d-1)/10^(d-1) as integer literals,
# so no cross-engine pow() drift can exist. Overlap-at-depth comes
# from the max-rank trick (brand in both prefixes iff max(ra,rb)<=d).
# ---------------------------------------------------------------------------

_RBO_SPINE = "(1, 1, 1), (2, 9, 10), (3, 81, 100), (4, 729, 1000), (5, 6561, 10000), (6, 59049, 100000), (7, 531441, 1000000), (8, 4782969, 10000000), (9, 43046721, 100000000), (10, 387420489, 1000000000), (11, 3486784401, 10000000000), (12, 31381059609, 100000000000), (13, 282429536481, 1000000000000), (14, 2541865828329, 10000000000000), (15, 22876792454961, 100000000000000), (16, 205891132094649, 1000000000000000), (17, 1853020188851841, 10000000000000000), (18, 16677181699666569, 100000000000000000), (19, 150094635296999121, 1000000000000000000), (20, 1350851717672992089, 10000000000000000000), (21, 12157665459056928801, 100000000000000000000), (22, 109418989131512359209, 1000000000000000000000), (23, 984770902183611232881, 10000000000000000000000), (24, 8862938119652501095929, 100000000000000000000000), (25, 79766443076872509863361, 1000000000000000000000000)"


@query(
    "q_rank_biased_overlap",
    f"""
    WITH rev AS (
        SELECT p.p_brand AS brand,
               CASE WHEN l.l_shipdate < TIMESTAMP '1997-01-01'
                    THEN 0 ELSE 1 END AS yr,
               SUM(CAST(floor(CAST(l.l_extendedprice AS DECIMAL(18,4))
                              * CAST(1 - l.l_discount AS DECIMAL(18,4))
                              * 100) AS BIGINT)) AS rev_c
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
          AND l.l_shipdate <  TIMESTAMP '1998-01-01'
        GROUP BY 1, 2),
    ra AS (
        SELECT brand, ROW_NUMBER() OVER (ORDER BY rev_c DESC, brand)
                   AS r FROM rev WHERE yr = 0),
    rb AS (
        SELECT brand, ROW_NUMBER() OVER (ORDER BY rev_c DESC, brand)
                   AS r FROM rev WHERE yr = 1),
    m AS (
        SELECT GREATEST(ra.r, rb.r) AS mx
        FROM ra JOIN rb ON ra.brand = rb.brand),
    spine(d, p9, p10) AS (VALUES {_RBO_SPINE}),
    ov AS (
        SELECT s.d, s.p9, s.p10, COUNT(m.mx) AS o
        FROM spine s LEFT JOIN m ON m.mx <= s.d
        WHERE s.d <= (SELECT COUNT(*) FROM m)
        GROUP BY s.d, s.p9, s.p10),
    terms AS (
        SELECT d, o,
               CAST(p9 AS HUGEINT) * o * 1000000000000 // (p10 * d)
                   AS t
        FROM ov)
    SELECT CAST((SELECT COUNT(*) FROM m) AS BIGINT) AS n_brands,
           CAST((SELECT o FROM ov WHERE d = 5) AS BIGINT)
               AS overlap_at_5,
           CAST((SELECT o FROM ov WHERE d = 10) AS BIGINT)
               AS overlap_at_10,
           CAST(SUM(t) // 10000000 AS BIGINT) AS rbo_micro
    FROM terms
    """,
)
def q_rank_biased_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RBO (p=0.9) between the 1996 and 1997 brand-revenue rankings:
    overlap at each depth d is the count of brands whose max(rank_a,
    rank_b) <= d — one GREATEST per brand, no per-depth set algebra —
    and the geometric weights are exact integer rationals 9^(d-1)/
    10^(d-1) from a literal spine, so the whole statistic is integer
    DIV arithmetic end to end (the one place pow() would have risked
    engine drift). Evaluated to full depth over the complete brand
    roster, this is exact RBO, not the truncated lower bound. 100 TB:
    rankings live on the 25-row brand rollup; the spine join is a
    broadcast nested loop over 25x25."""
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    rev = (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1998-01-01"))
        )
        .join(p, li.l_partkey == p.p_partkey)
        .groupBy(
            F.col("p_brand").alias("brand"),
            F.expr(
                "CASE WHEN l_shipdate < TIMESTAMP '1997-01-01'"
                " THEN 0 ELSE 1 END"
            ).alias("yr"),
        )
        .agg(
            F.expr(
                "SUM(CAST(floor(CAST(l_extendedprice AS DECIMAL(18,4))"
                " * CAST(1 - l_discount AS DECIMAL(18,4)) * 100)"
                " AS BIGINT))"
            ).alias("rev_c")
        )
    )
    ra = rev.where(F.col("yr") == 0).select(
        "brand",
        F.expr("ROW_NUMBER() OVER (ORDER BY rev_c DESC, brand)").alias(
            "r_a"
        ),
    )
    rb = rev.where(F.col("yr") == 1).select(
        "brand",
        F.expr("ROW_NUMBER() OVER (ORDER BY rev_c DESC, brand)").alias(
            "r_b"
        ),
    )
    m = ra.join(rb, "brand").select(
        F.expr("GREATEST(r_a, r_b)").alias("mx")
    )
    nb = m.agg(F.count(F.lit(1)).alias("nb"))
    spine = spark.sql(
        f"SELECT * FROM VALUES {_RBO_SPINE} AS t(d, p9, p10)"
    )
    ov = (
        spine.join(F.broadcast(nb))
        .where(F.col("d") <= F.col("nb"))
        .join(m, F.expr("mx <= d"), "left")
        .groupBy("d", "p9", "p10", "nb")
        .agg(F.count("mx").alias("o"))
    )
    terms = ov.select(
        "d",
        "o",
        "nb",
        F.expr(
            "CAST(p9 AS DECIMAL(38,0)) * o * 1000000000000"
            " DIV (CAST(p10 AS DECIMAL(38,0)) * d)"
        ).alias("t"),
    )
    return terms.agg(
        F.max("nb").cast("bigint").alias("n_brands"),
        F.expr("MAX(CASE WHEN d = 5 THEN o END)")
        .cast("bigint")
        .alias("overlap_at_5"),
        F.expr("MAX(CASE WHEN d = 10 THEN o END)")
        .cast("bigint")
        .alias("overlap_at_10"),
        F.expr("CAST(SUM(t) DIV 10000000 AS BIGINT)").alias(
            "rbo_micro"
        ),
    )


# ---------------------------------------------------------------------------
# Direct standardization — the Simpson's-paradox guard: compare mean
# order value across priorities AFTER forcing every priority onto
# the same segment mix. Per-(priority,segment) means weighted by the
# global segment shares; per-cell terms floored to fixed point so
# the 5-term sums are exact.
# ---------------------------------------------------------------------------

@query(
    "q_direct_standardization",
    """
    WITH base AS (
        SELECT o.o_orderpriority AS prio, c.c_mktsegment AS seg,
               CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS v
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
    cell AS (
        SELECT prio, seg, COUNT(*) AS n, SUM(v) AS s
        FROM base GROUP BY prio, seg),
    segw AS (
        SELECT seg, SUM(n) AS ns FROM cell GROUP BY seg),
    tot AS (
        SELECT SUM(ns) AS nt FROM segw),
    terms AS (
        SELECT c.prio,
               c.n, c.s,
               CAST(floor(CAST(w.ns AS DOUBLE) / t.nt
                          * (CAST(c.s AS DOUBLE) / c.n) * 1000)
                    AS BIGINT) AS adj_fix
        FROM cell c JOIN segw w ON c.seg = w.seg, tot t)
    SELECT prio AS priority,
           CAST(SUM(n) AS BIGINT) AS n_orders,
           CAST(SUM(s) // SUM(n) AS BIGINT) AS raw_mean_c,
           CAST(SUM(adj_fix) AS BIGINT) AS adj_mean_milli_c,
           CAST(SUM(adj_fix) // 1000 - SUM(s) // SUM(n) AS BIGINT)
               AS shift_c
    FROM terms GROUP BY prio ORDER BY priority
    """,
)
def q_direct_standardization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segment-standardized mean order value per priority: each
    (priority, segment) cell contributes share(segment)·mean(cell),
    floored to milli-cent fixed point before the 5-term sum (the
    order-safe way), with global segment shares as the standard
    population. raw vs adjusted shows how much of any priority gap
    is just segment mix. 100 TB: one fact rollup to 25 cells, a
    broadcast of 5 weights."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    base = o.join(c, o.o_custkey == c.c_custkey).select(
        F.col("o_orderpriority").alias("prio"),
        F.col("c_mktsegment").alias("seg"),
        F.expr(
            "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"
        ).alias("v"),
    )
    cell = base.groupBy("prio", "seg").agg(
        F.count(F.lit(1)).alias("n"), F.sum("v").alias("s")
    )
    segw = cell.groupBy("seg").agg(F.sum("n").alias("ns"))
    tot = segw.agg(F.sum("ns").alias("nt"))
    terms = (
        cell.join(F.broadcast(segw), "seg")
        .crossJoin(F.broadcast(tot))
        .select(
            "prio",
            "n",
            "s",
            F.expr(
                "CAST(floor(CAST(ns AS DOUBLE) / nt"
                " * (CAST(s AS DOUBLE) / n) * 1000) AS BIGINT)"
            ).alias("adj_fix"),
        )
    )
    return (
        terms.groupBy(F.col("prio").alias("priority"))
        .agg(
            F.sum("n").cast("bigint").alias("n_orders"),
            F.expr("CAST(SUM(s) DIV SUM(n) AS BIGINT)").alias(
                "raw_mean_c"
            ),
            F.sum("adj_fix").cast("bigint").alias("adj_mean_milli_c"),
            F.expr(
                "CAST(SUM(adj_fix) DIV 1000 - SUM(s) DIV SUM(n)"
                " AS BIGINT)"
            ).alias("shift_c"),
        )
    )


# ---------------------------------------------------------------------------
# Coarsened exact matching — the causal-inference preprocessing step:
# coarsen covariates into bins, keep only cells where treated and
# control coexist, estimate the ATT as the treated-weighted mean of
# in-cell outcome differences. Deterministic bins, exact counts,
# fixed-point cell terms.
# ---------------------------------------------------------------------------

@query(
    "q_cem_att",
    """
    WITH cust AS (
        SELECT c.c_custkey,
               CASE WHEN c.c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END
                   AS treat,
               CAST(floor(CAST(c.c_acctbal AS DECIMAL(18,2)) / 2000)
                    AS BIGINT) AS bal_bin,
               c.c_nationkey AS nat,
               CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100)
                    AS BIGINT) AS y
        FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
        WHERE c.c_mktsegment IN ('BUILDING', 'MACHINERY')
        GROUP BY c.c_custkey, c.c_mktsegment, c.c_acctbal,
                 c.c_nationkey),
    cells AS (
        SELECT bal_bin, nat,
               SUM(treat) AS nt, COUNT(*) - SUM(treat) AS nc,
               SUM(CASE WHEN treat = 1 THEN y ELSE 0 END) AS st,
               SUM(CASE WHEN treat = 0 THEN y ELSE 0 END) AS sc
        FROM cust GROUP BY bal_bin, nat),
    matched AS (
        SELECT nt, nc, st, sc,
               CAST(floor(CAST(nt AS DOUBLE)
                          * (CAST(st AS DOUBLE) / nt
                             - CAST(sc AS DOUBLE) / nc) * 1000)
                    AS BIGINT) AS term_fix
        FROM cells WHERE nt > 0 AND nc > 0),
    unmatched AS (
        SELECT COALESCE(SUM(CASE WHEN nc = 0 THEN nt ELSE 0 END), 0)
                   AS t_dropped,
               COALESCE(SUM(CASE WHEN nt = 0 THEN nc ELSE 0 END), 0)
                   AS c_dropped
        FROM cells)
    SELECT CAST(SUM(nt) AS BIGINT) AS n_treat_matched,
           CAST(SUM(nc) AS BIGINT) AS n_ctrl_matched,
           CAST(COUNT(*) AS BIGINT) AS n_cells,
           CAST((SELECT t_dropped FROM unmatched) AS BIGINT)
               AS n_treat_dropped,
           CAST((SELECT c_dropped FROM unmatched) AS BIGINT)
               AS n_ctrl_dropped,
           CAST(floor(CAST(SUM(term_fix) AS DOUBLE) / SUM(nt))
                AS BIGINT) AS att_milli_c
    FROM matched
    """,
)
def q_cem_att(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coarsened exact matching of BUILDING (treated) vs MACHINERY
    (control) customers on (account-balance bin of width 2000,
    nation), outcome = lifetime revenue in cents. Cells lacking
    either group are dropped (and counted — silent pruning is how
    matching estimates lie); the ATT is the treated-weighted mean of
    in-cell mean differences, each cell term floored to milli-cents
    before the exact sum. 100 TB: one custkey rollup, then a
    ~125-cell table; no row ever meets another row."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    cust = (
        c.where(F.col("c_mktsegment").isin("BUILDING", "MACHINERY"))
        .join(o, c.c_custkey == o.o_custkey)
        .groupBy("c_custkey", "c_mktsegment", "c_acctbal", "c_nationkey")
        .agg(
            F.expr(
                "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * 100)"
                " AS BIGINT)"
            ).alias("y")
        )
        .select(
            F.expr(
                "CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END"
            ).alias("treat"),
            F.expr(
                "CAST(floor(CAST(c_acctbal AS DECIMAL(18,2)) / 2000)"
                " AS BIGINT)"
            ).alias("bal_bin"),
            F.col("c_nationkey").alias("nat"),
            "y",
        )
    )
    cells = cust.groupBy("bal_bin", "nat").agg(
        F.sum("treat").alias("nt"),
        F.expr("COUNT(*) - SUM(treat)").alias("nc"),
        F.expr("SUM(CASE WHEN treat = 1 THEN y ELSE 0 END)").alias("st"),
        F.expr("SUM(CASE WHEN treat = 0 THEN y ELSE 0 END)").alias("sc"),
    )
    matched = cells.where((F.col("nt") > 0) & (F.col("nc") > 0)).select(
        "nt",
        "nc",
        F.expr(
            "CAST(floor(CAST(nt AS DOUBLE)"
            " * (CAST(st AS DOUBLE) / nt - CAST(sc AS DOUBLE) / nc)"
            " * 1000) AS BIGINT)"
        ).alias("term_fix"),
    )
    unmatched = cells.agg(
        F.expr(
            "COALESCE(SUM(CASE WHEN nc = 0 THEN nt ELSE 0 END), 0)"
        ).alias("t_dropped"),
        F.expr(
            "COALESCE(SUM(CASE WHEN nt = 0 THEN nc ELSE 0 END), 0)"
        ).alias("c_dropped"),
    )
    return (
        matched.agg(
            F.sum("nt").cast("bigint").alias("n_treat_matched"),
            F.sum("nc").cast("bigint").alias("n_ctrl_matched"),
            F.count(F.lit(1)).cast("bigint").alias("n_cells"),
            F.expr(
                "CAST(floor(CAST(SUM(term_fix) AS DOUBLE) / SUM(nt))"
                " AS BIGINT)"
            ).alias("att_milli_c"),
        )
        .join(F.broadcast(unmatched))
        .select(
            "n_treat_matched",
            "n_ctrl_matched",
            "n_cells",
            F.col("t_dropped").cast("bigint").alias("n_treat_dropped"),
            F.col("c_dropped").cast("bigint").alias("n_ctrl_dropped"),
            "att_milli_c",
        )
    )


# ---------------------------------------------------------------------------
# Rate–mix decomposition — the ratio-metric sibling of
# q_price_volume_mix: a change in the overall return rate splits
# into "segment rates moved" vs "volume shifted between segments"
# vs interaction, per priority cell. Division-free signed terms;
# only the final ppm rescale is a (signed-safe) floored double.
# ---------------------------------------------------------------------------

@query(
    "q_rate_mix_decomposition",
    """
    WITH base AS (
        SELECT o.o_orderpriority AS prio,
               CASE WHEN l.l_shipdate < TIMESTAMP '1997-01-01'
                    THEN 0 ELSE 1 END AS yr,
               CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END AS r
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
          AND l.l_shipdate <  TIMESTAMP '1998-01-01'),
    cell AS (
        SELECT prio, yr, COUNT(*) AS n, SUM(r) AS k
        FROM base GROUP BY prio, yr),
    tot AS (
        SELECT yr, SUM(n) AS nt FROM cell GROUP BY yr),
    wide AS (
        SELECT c.prio,
               MAX(CASE WHEN c.yr = 0
                   THEN c.n * 1000000 // t.nt END) AS w0,
               MAX(CASE WHEN c.yr = 1
                   THEN c.n * 1000000 // t.nt END) AS w1,
               MAX(CASE WHEN c.yr = 0
                   THEN c.k * 1000000 // c.n END) AS r0,
               MAX(CASE WHEN c.yr = 1
                   THEN c.k * 1000000 // c.n END) AS r1
        FROM cell c JOIN tot t ON c.yr = t.yr
        GROUP BY c.prio)
    SELECT prio AS priority,
           CAST(w0 AS BIGINT) AS w0_ppm, CAST(w1 AS BIGINT) AS w1_ppm,
           CAST(r0 AS BIGINT) AS r0_ppm, CAST(r1 AS BIGINT) AS r1_ppm,
           CAST(floor(CAST((w1 - w0) * r0 AS DOUBLE) / 1000000)
                AS BIGINT) AS mix_eff_ppm,
           CAST(floor(CAST(w0 * (r1 - r0) AS DOUBLE) / 1000000)
                AS BIGINT) AS rate_eff_ppm,
           CAST(floor(CAST((w1 - w0) * (r1 - r0) AS DOUBLE) / 1000000)
                AS BIGINT) AS cross_eff_ppm
    FROM wide ORDER BY priority
    """,
)
def q_rate_mix_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Return-rate bridge 1996→1997 by order priority: per-cell
    weights (line share) and rates in integer ppm, then Laspeyres-
    style mix (Δw·r0), rate (w0·Δr), and interaction terms. The
    signed products stay integers; the 1e-6 rescale uses floor on a
    double — not DIV — because Spark DIV truncates and DuckDB //
    floors on negatives. Tells a metrics owner whether 'returns got
    worse' means behavior changed or the mix shifted toward bad
    priorities. 100 TB: one fact-fact join on orderkey (co-
    partitioned at scale), a 10-cell rollup."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    base = (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1998-01-01"))
        )
        .join(o, li.l_orderkey == o.o_orderkey)
        .select(
            F.col("o_orderpriority").alias("prio"),
            F.expr(
                "CASE WHEN l_shipdate < TIMESTAMP '1997-01-01'"
                " THEN 0 ELSE 1 END"
            ).alias("yr"),
            F.expr(
                "CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END"
            ).alias("r"),
        )
    )
    cell = base.groupBy("prio", "yr").agg(
        F.count(F.lit(1)).alias("n"), F.sum("r").alias("k")
    )
    tot = cell.groupBy("yr").agg(F.sum("n").alias("nt"))
    wide = (
        cell.join(F.broadcast(tot), "yr")
        .groupBy("prio")
        .agg(
            F.expr(
                "MAX(CASE WHEN yr = 0 THEN n * 1000000 DIV nt END)"
            ).alias("w0"),
            F.expr(
                "MAX(CASE WHEN yr = 1 THEN n * 1000000 DIV nt END)"
            ).alias("w1"),
            F.expr(
                "MAX(CASE WHEN yr = 0 THEN k * 1000000 DIV n END)"
            ).alias("r0"),
            F.expr(
                "MAX(CASE WHEN yr = 1 THEN k * 1000000 DIV n END)"
            ).alias("r1"),
        )
    )
    return wide.select(
        F.col("prio").alias("priority"),
        F.col("w0").cast("bigint").alias("w0_ppm"),
        F.col("w1").cast("bigint").alias("w1_ppm"),
        F.col("r0").cast("bigint").alias("r0_ppm"),
        F.col("r1").cast("bigint").alias("r1_ppm"),
        F.expr(
            "CAST(floor(CAST((w1 - w0) * r0 AS DOUBLE) / 1000000)"
            " AS BIGINT)"
        ).alias("mix_eff_ppm"),
        F.expr(
            "CAST(floor(CAST(w0 * (r1 - r0) AS DOUBLE) / 1000000)"
            " AS BIGINT)"
        ).alias("rate_eff_ppm"),
        F.expr(
            "CAST(floor(CAST((w1 - w0) * (r1 - r0) AS DOUBLE)"
            " / 1000000) AS BIGINT)"
        ).alias("cross_eff_ppm"),
    )


# ---------------------------------------------------------------------------
# Quantile treatment effects — does the BUILDING/MACHINERY gap live
# in the whole distribution or only the tail? QTE at each decile via
# exact order statistics (value at position ceil(d(n+1)/10) is
# tie-order-invariant), group-partitioned rank windows only.
# ---------------------------------------------------------------------------

@query(
    "q_quantile_treatment_effect",
    """
    WITH base AS (
        SELECT CASE WHEN c.c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END
                   AS grp,
               CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS v
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE c.c_mktsegment IN ('BUILDING', 'MACHINERY')),
    ranked AS (
        SELECT grp, v,
               ROW_NUMBER() OVER (PARTITION BY grp ORDER BY v) AS rn,
               COUNT(*) OVER (PARTITION BY grp) AS n
        FROM base),
    deciles AS (
        SELECT grp, v,
               CASE WHEN rn = (1 * (n + 1)) // 10 THEN 1
                    WHEN rn = (2 * (n + 1)) // 10 THEN 2
                    WHEN rn = (3 * (n + 1)) // 10 THEN 3
                    WHEN rn = (4 * (n + 1)) // 10 THEN 4
                    WHEN rn = (5 * (n + 1)) // 10 THEN 5
                    WHEN rn = (6 * (n + 1)) // 10 THEN 6
                    WHEN rn = (7 * (n + 1)) // 10 THEN 7
                    WHEN rn = (8 * (n + 1)) // 10 THEN 8
                    WHEN rn = (9 * (n + 1)) // 10 THEN 9
               END AS d
        FROM ranked),
    wide AS (
        SELECT d,
               MAX(CASE WHEN grp = 1 THEN v END) AS q_treat_c,
               MAX(CASE WHEN grp = 0 THEN v END) AS q_ctrl_c
        FROM deciles WHERE d IS NOT NULL GROUP BY d)
    SELECT CAST(d AS INT) AS decile,
           CAST(q_treat_c AS BIGINT) AS q_treat_c,
           CAST(q_ctrl_c AS BIGINT) AS q_ctrl_c,
           CAST(q_treat_c - q_ctrl_c AS BIGINT) AS qte_c
    FROM wide ORDER BY decile
    """,
)
def q_quantile_treatment_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QTE between BUILDING and MACHINERY order values at deciles
    1–9: per-group exact order statistics at position ceil(d(n+1)/10)
    (the value at a fixed rank is deterministic no matter how
    ROW_NUMBER breaks ties), differenced per decile. A flat QTE
    profile means a location shift; a fanning one means the effect
    concentrates in big orders — the distinction a mean-only q_ab_test
    cannot see. 100 TB: both sorts partition by group; output is 9
    rows."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    base = (
        o.join(c, o.o_custkey == c.c_custkey)
        .where(F.col("c_mktsegment").isin("BUILDING", "MACHINERY"))
        .select(
            F.expr(
                "CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END"
            ).alias("grp"),
            F.expr(
                "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100"
                " AS BIGINT)"
            ).alias("v"),
        )
    )
    ranked = base.select(
        "grp",
        "v",
        F.expr(
            "ROW_NUMBER() OVER (PARTITION BY grp ORDER BY v)"
        ).alias("rn"),
        F.expr("COUNT(*) OVER (PARTITION BY grp)").alias("n"),
    )
    dcase = " ".join(
        f"WHEN rn = ({d} * (n + 1)) DIV 10 THEN {d}" for d in range(1, 10)
    )
    deciles = ranked.select(
        "grp", "v", F.expr(f"CASE {dcase} END").alias("d")
    ).where(F.col("d").isNotNull())
    wide = deciles.groupBy("d").agg(
        F.expr("MAX(CASE WHEN grp = 1 THEN v END)").alias("q_treat_c"),
        F.expr("MAX(CASE WHEN grp = 0 THEN v END)").alias("q_ctrl_c"),
    )
    return wide.select(
        F.col("d").cast("int").alias("decile"),
        F.col("q_treat_c").cast("bigint").alias("q_treat_c"),
        F.col("q_ctrl_c").cast("bigint").alias("q_ctrl_c"),
        F.expr("CAST(q_treat_c - q_ctrl_c AS BIGINT)").alias("qte_c"),
    )


# ---------------------------------------------------------------------------
# Simpson reversal detector — per priority, does the overall
# 1996→1997 mean-value direction contradict what most segments
# experienced? Directions via exact integer cross-multiplication
# (s1·n0 vs s0·n1) — no division, no doubles, no ties broken wrong.
# ---------------------------------------------------------------------------

@query(
    "q_simpson_reversal",
    """
    WITH base AS (
        SELECT o.o_orderpriority AS prio, c.c_mktsegment AS seg,
               CASE WHEN o.o_orderdate < TIMESTAMP '1997-01-01'
                    THEN 0 ELSE 1 END AS yr,
               CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS v
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
          AND o.o_orderdate <  TIMESTAMP '1998-01-01'),
    cell AS (
        SELECT prio, seg,
               SUM(CASE WHEN yr = 0 THEN 1 ELSE 0 END) AS n0,
               SUM(CASE WHEN yr = 0 THEN v ELSE 0 END) AS s0,
               SUM(CASE WHEN yr = 1 THEN 1 ELSE 0 END) AS n1,
               SUM(CASE WHEN yr = 1 THEN v ELSE 0 END) AS s1
        FROM base GROUP BY prio, seg),
    seg_dir AS (
        SELECT prio, seg,
               CASE WHEN CAST(s1 AS HUGEINT) * n0
                         > CAST(s0 AS HUGEINT) * n1 THEN 1
                    WHEN CAST(s1 AS HUGEINT) * n0
                         < CAST(s0 AS HUGEINT) * n1 THEN -1
                    ELSE 0 END AS dir
        FROM cell WHERE n0 > 0 AND n1 > 0),
    overall AS (
        SELECT prio,
               CASE WHEN CAST(SUM(s1) AS HUGEINT) * SUM(n0)
                         > CAST(SUM(s0) AS HUGEINT) * SUM(n1) THEN 1
                    WHEN CAST(SUM(s1) AS HUGEINT) * SUM(n0)
                         < CAST(SUM(s0) AS HUGEINT) * SUM(n1) THEN -1
                    ELSE 0 END AS odir
        FROM cell GROUP BY prio)
    SELECT o.prio AS priority,
           CAST(o.odir AS INT) AS overall_dir,
           CAST(SUM(CASE WHEN s.dir = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_seg_up,
           CAST(SUM(CASE WHEN s.dir = -1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_seg_down,
           CAST(CASE WHEN SUM(CASE WHEN s.dir = -o.odir
                                   THEN 1 ELSE 0 END) * 2
                          > COUNT(*)
                THEN 1 ELSE 0 END AS INT) AS reversal
    FROM overall o JOIN seg_dir s ON o.prio = s.prio
    GROUP BY o.prio, o.odir
    ORDER BY priority
    """,
)
def q_simpson_reversal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson's-paradox screen: for each priority, the overall
    1996→1997 direction of mean order value vs each segment's
    direction, every comparison done as the exact integer cross-
    product s1·n0 ⋛ s0·n1 (mean comparisons without ever forming a
    mean). A priority is flagged when a strict majority of its
    segments move AGAINST the overall direction — the aggregation
    artifact q_direct_standardization then quantifies. 100 TB: one
    25-cell rollup per comparison; nothing wider than prio×seg."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    base = (
        o.join(c, o.o_custkey == c.c_custkey)
        .where(
            (F.col("o_orderdate") >= F.lit("1996-01-01"))
            & (F.col("o_orderdate") < F.lit("1998-01-01"))
        )
        .select(
            F.col("o_orderpriority").alias("prio"),
            F.col("c_mktsegment").alias("seg"),
            F.expr(
                "CASE WHEN o_orderdate < TIMESTAMP '1997-01-01'"
                " THEN 0 ELSE 1 END"
            ).alias("yr"),
            F.expr(
                "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100"
                " AS BIGINT)"
            ).alias("v"),
        )
    )
    cell = base.groupBy("prio", "seg").agg(
        F.expr("SUM(CASE WHEN yr = 0 THEN 1 ELSE 0 END)").alias("n0"),
        F.expr("SUM(CASE WHEN yr = 0 THEN v ELSE 0 END)").alias("s0"),
        F.expr("SUM(CASE WHEN yr = 1 THEN 1 ELSE 0 END)").alias("n1"),
        F.expr("SUM(CASE WHEN yr = 1 THEN v ELSE 0 END)").alias("s1"),
    )
    seg_dir = cell.where((F.col("n0") > 0) & (F.col("n1") > 0)).select(
        "prio",
        F.expr(
            "CASE WHEN CAST(s1 AS DECIMAL(38,0)) * n0"
            " > CAST(s0 AS DECIMAL(38,0)) * n1 THEN 1"
            " WHEN CAST(s1 AS DECIMAL(38,0)) * n0"
            " < CAST(s0 AS DECIMAL(38,0)) * n1 THEN -1"
            " ELSE 0 END"
        ).alias("dir"),
    )
    overall = cell.groupBy("prio").agg(
        F.expr(
            "CASE WHEN CAST(SUM(s1) AS DECIMAL(38,0)) * SUM(n0)"
            " > CAST(SUM(s0) AS DECIMAL(38,0)) * SUM(n1) THEN 1"
            " WHEN CAST(SUM(s1) AS DECIMAL(38,0)) * SUM(n0)"
            " < CAST(SUM(s0) AS DECIMAL(38,0)) * SUM(n1) THEN -1"
            " ELSE 0 END"
        ).alias("odir")
    )
    return (
        overall.join(seg_dir, "prio")
        .groupBy(F.col("prio").alias("priority"), "odir")
        .agg(
            F.expr(
                "SUM(CASE WHEN dir = 1 THEN 1 ELSE 0 END)"
            ).cast("bigint").alias("n_seg_up"),
            F.expr(
                "SUM(CASE WHEN dir = -1 THEN 1 ELSE 0 END)"
            ).cast("bigint").alias("n_seg_down"),
            F.expr(
                "CAST(CASE WHEN SUM(CASE WHEN dir = -odir"
                " THEN 1 ELSE 0 END) * 2 > COUNT(*)"
                " THEN 1 ELSE 0 END AS INT)"
            ).alias("reversal"),
        )
        .select(
            "priority",
            F.col("odir").cast("int").alias("overall_dir"),
            "n_seg_up",
            "n_seg_down",
            "reversal",
        )
    )


# ---------------------------------------------------------------------------
# Intraclass correlation — how much of order-value variance is
# BETWEEN customers vs within? ICC(1) with the unbalanced-design n0
# correction; the statistic that decides whether "customer" is a
# meaningful random effect (and how much clustered sampling inflates
# variance). Exact moments; one IEEE chain per emitted value.
# ---------------------------------------------------------------------------

@query(
    "q_icc_customers",
    """
    WITH cust AS (
        SELECT o_custkey, COUNT(*) AS n, SUM(
                   CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                        AS BIGINT)) AS s,
               SUM(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                        AS BIGINT) AS HUGEINT)
                   * CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                        AS BIGINT)) AS q
        FROM orders GROUP BY o_custkey),
    mom AS (
        SELECT COUNT(*) AS g, SUM(n) AS nn, SUM(s) AS st,
               SUM(CAST(s AS HUGEINT) * s // n) AS gsq,
               SUM(q) AS qt,
               SUM(CAST(n AS HUGEINT) * n) AS nsq
        FROM cust),
    ms AS (
        SELECT g, nn,
               (CAST(gsq AS DOUBLE) - CAST(st AS DOUBLE) / nn * st)
                   / (g - 1) AS msb,
               (CAST(qt AS DOUBLE) - CAST(gsq AS DOUBLE)) / (nn - g)
                   AS msw,
               (nn - CAST(nsq AS DOUBLE) / nn) / (g - 1) AS n0
        FROM mom)
    SELECT CAST(g AS BIGINT) AS n_customers,
           CAST(nn AS BIGINT) AS n_orders,
           CAST(floor(n0 * 1000) AS BIGINT) AS n0_milli,
           CAST(floor((msb - msw) / (msb + (n0 - 1) * msw) * 1000000)
                AS BIGINT) AS icc_micro
    FROM ms
    """,
)
def q_icc_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ICC(1) of order value clustered by customer: MSB/MSW from the
    exact sum-of-squares identities (per-customer S²/n via integer
    DIV — the same DECIMAL(38,0) routing as q_anova_f), unbalanced
    group sizes handled by the standard n0 = (N − Σn²/N)/(G−1)
    correction. An ICC near 0 says orders are exchangeable across
    customers and customer-level clustering can be ignored; large
    ICC says every per-order analysis needs clustered errors. 100 TB:
    one custkey rollup, one 1-row moment pass."""
    o = table(spark, sf_dir, "orders")
    v = "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"
    cust = o.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(f"SUM({v})").alias("s"),
        F.expr(f"SUM(CAST({v} AS DECIMAL(38,0)) * {v})").alias("q"),
    )
    mom = cust.agg(
        F.count(F.lit(1)).alias("g"),
        F.sum("n").alias("nn"),
        F.sum("s").alias("st"),
        F.expr(
            "SUM(CAST(CAST(s AS DECIMAL(38,0)) * s DIV n"
            " AS DECIMAL(38,0)))"
        ).alias("gsq"),
        F.sum("q").alias("qt"),
        F.expr("SUM(CAST(n AS DECIMAL(38,0)) * n)").alias("nsq"),
    )
    ms = mom.select(
        "g",
        "nn",
        F.expr(
            "(CAST(gsq AS DOUBLE) - CAST(st AS DOUBLE) / nn * st)"
            " / (g - 1)"
        ).alias("msb"),
        F.expr(
            "(CAST(qt AS DOUBLE) - CAST(gsq AS DOUBLE)) / (nn - g)"
        ).alias("msw"),
        F.expr("(nn - CAST(nsq AS DOUBLE) / nn) / (g - 1)").alias("n0"),
    )
    return ms.select(
        F.col("g").cast("bigint").alias("n_customers"),
        F.col("nn").cast("bigint").alias("n_orders"),
        F.expr("CAST(floor(n0 * 1000) AS BIGINT)").alias("n0_milli"),
        F.expr(
            "CAST(floor((msb - msw) / (msb + (n0 - 1) * msw)"
            " * 1000000) AS BIGINT)"
        ).alias("icc_micro"),
    )


# ---------------------------------------------------------------------------
# Age–period–cohort mean polish — separate "customers acquired in
# 1996 spend differently" (cohort) from "1998 was a bad year"
# (period): grand/row/column effects removed from the cohort×period
# mean matrix, residuals exposing cohort-specific period shocks.
# Every effect is an exact fixed-point integer.
# ---------------------------------------------------------------------------

@query(
    "q_age_period_cohort",
    """
    WITH firsts AS (
        SELECT o_custkey,
               MIN(EXTRACT(year FROM o_orderdate)) AS cohort
        FROM orders GROUP BY o_custkey),
    base AS (
        SELECT f.cohort,
               EXTRACT(year FROM o.o_orderdate) AS period,
               CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS v
        FROM orders o JOIN firsts f ON o.o_custkey = f.o_custkey),
    cell AS (
        SELECT cohort, period, COUNT(*) AS n,
               SUM(v) * 1000 // COUNT(*) AS m
        FROM base GROUP BY cohort, period),
    g AS (
        SELECT SUM(m) // COUNT(*) AS gm FROM cell),
    rows_ AS (
        SELECT cohort, SUM(m) // COUNT(*) AS rm FROM cell
        GROUP BY cohort),
    cols_ AS (
        SELECT period, SUM(m) // COUNT(*) AS cm FROM cell
        GROUP BY period)
    SELECT CAST(c.cohort AS INT) AS cohort,
           CAST(c.period AS INT) AS period,
           CAST(c.n AS BIGINT) AS n_orders,
           CAST(c.m AS BIGINT) AS mean_milli_c,
           CAST(r.rm - g.gm AS BIGINT) AS cohort_eff_milli_c,
           CAST(col.cm - g.gm AS BIGINT) AS period_eff_milli_c,
           CAST(c.m - r.rm - col.cm + g.gm AS BIGINT)
               AS residual_milli_c
    FROM cell c
    JOIN rows_ r ON c.cohort = r.cohort
    JOIN cols_ col ON c.period = col.period, g
    ORDER BY cohort, period
    """,
)
def q_age_period_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sweep mean polish of the cohort×period order-value
    matrix: cell means in milli-cents (integer DIV), unweighted
    row/column effects relative to the grand cell mean, residual =
    cell − row − col + grand (exact integer identity). Large
    residuals are the cells where a cohort broke from the shared
    period trend — the signal an additive APC story misses. 100 TB:
    a custkey rollup for cohorts, then everything lives on the
    ~50-cell matrix."""
    o = table(spark, sf_dir, "orders")
    firsts = o.groupBy("o_custkey").agg(
        F.expr("MIN(EXTRACT(year FROM o_orderdate))").alias("cohort")
    )
    base = o.join(firsts, "o_custkey").select(
        "cohort",
        F.expr("EXTRACT(year FROM o_orderdate)").alias("period"),
        F.expr(
            "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"
        ).alias("v"),
    )
    cell = base.groupBy("cohort", "period").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("SUM(v) * 1000 DIV COUNT(*)").alias("m"),
    )
    g = cell.agg(F.expr("SUM(m) DIV COUNT(*)").alias("gm"))
    rows_ = cell.groupBy("cohort").agg(
        F.expr("SUM(m) DIV COUNT(*)").alias("rm")
    )
    cols_ = cell.groupBy("period").agg(
        F.expr("SUM(m) DIV COUNT(*)").alias("cm")
    )
    return (
        cell.join(F.broadcast(rows_), "cohort")
        .join(F.broadcast(cols_), "period")
        .crossJoin(F.broadcast(g))
        .select(
            F.col("cohort").cast("int").alias("cohort"),
            F.col("period").cast("int").alias("period"),
            F.col("n").cast("bigint").alias("n_orders"),
            F.col("m").cast("bigint").alias("mean_milli_c"),
            F.expr("CAST(rm - gm AS BIGINT)").alias(
                "cohort_eff_milli_c"
            ),
            F.expr("CAST(cm - gm AS BIGINT)").alias(
                "period_eff_milli_c"
            ),
            F.expr("CAST(m - rm - cm + gm AS BIGINT)").alias(
                "residual_milli_c"
            ),
        )
        .transform(sort_bounded, "cohort", "period")
    )
