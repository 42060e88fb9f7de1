"""Skew-handling operators (task-spec scale requirement; SURVEY §4).

AQE's skew-join splitting covers joins; aggregation-side skew on hot
keys needs the salting idiom, exposed here as first-class ops:

- ``salted_agg``: two-phase aggregation — shuffle on (key, salt) so a
  hot key spreads over S reducers, then merge the S partials. For
  algebraic aggregates (count/sum/min/max) the result is EXACTLY the
  unsalted aggregate, which is what the oracle checks.
- ``salted_distinct_count``: exact distinct per hot key via
  (key, salt-by-value) partial distincts — the value-hash salt keeps
  each distinct value in exactly one partial, so partial counts add up.

At 100 TB: event streams routinely have power-law keys (one event_type
dominating); without salting the single reducer for the hot key is the
stage's straggler. Salt width S trades shuffle fan-out for balance.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_agg(
    df: DataFrame, key: str, value: str, n_salts: int = 16
) -> DataFrame:
    """count + sum(value) per key, two-phase over a row-unique salt
    (deterministic per physical row: partition id + row offset). A salt
    derived from the aggregated value would collapse when a hot key
    carries a constant/low-cardinality value — exactly the power-law
    case salting exists for — so the salt must not depend on data
    values at all."""
    salted = df.withColumn(
        "_salt",
        (
            F.crc32(
                F.concat_ws(
                    "|",
                    F.spark_partition_id(),
                    F.monotonically_increasing_id(),
                )
            )
            % n_salts
        ).cast("int"),
    )
    partials = salted.groupBy(key, "_salt").agg(
        F.count(F.lit(1)).alias("_n"),
        F.expr(
            f"SUM(CAST({value} AS DECIMAL(18,6)))"
        ).alias("_s"),
    )
    return partials.groupBy(key).agg(
        F.sum("_n").alias("n"),
        F.expr("CAST(SUM(_s) AS DOUBLE)").alias("sum_value"),
    )


def salted_distinct_count(
    df: DataFrame, key: str, value: str, n_salts: int = 16
) -> DataFrame:
    """Exact COUNT(DISTINCT value) per key: salt BY VALUE HASH so every
    distinct value lands in exactly one (key, salt) partial; partial
    distinct counts then sum exactly."""
    salted = df.withColumn(
        "_salt", (F.crc32(F.col(value).cast("string")) % n_salts).cast("int")
    )
    partials = salted.groupBy(key, "_salt").agg(
        F.countDistinct(value).alias("_d")
    )
    return partials.groupBy(key).agg(F.sum("_d").alias("n_distinct"))


from pyspark.sql import SparkSession  # noqa: E402

from ..catalog import EVENTS_US_CTE, table  # noqa: E402
from ..registry import query  # noqa: E402
from .parity import sort_bounded  # noqa: E402


@query(
    "q_salted_agg",
    f"""
    WITH {EVENTS_US_CTE}
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events_us GROUP BY event_type ORDER BY event_type
    """,
)
def q_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted two-phase aggregation over the hot event_type keys — must
    equal the plain aggregate exactly (the oracle computes the unsalted
    form; any salt-phase bug shows as a value mismatch)."""
    ev = table(spark, sf_dir, "events")
    return salted_agg(ev, "event_type", "value").transform(
        sort_bounded, "event_type"
    )


@query(
    "q_salted_distinct",
    f"""
    WITH {EVENTS_US_CTE}
    SELECT event_type, COUNT(DISTINCT user_id) AS n_distinct
    FROM events_us GROUP BY event_type ORDER BY event_type
    """,
)
def q_salted_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted exact distinct-count per hot key (salt by value hash →
    partial distincts are disjoint and sum exactly)."""
    ev = table(spark, sf_dir, "events")
    return salted_distinct_count(ev, "event_type", "user_id").transform(
        sort_bounded, "event_type"
    )


def salted_join(
    fact: DataFrame, dim: DataFrame, key: str, n_salts: int = 8
) -> DataFrame:
    """Salt-and-replicate join for hot keys: fact rows get a row-unique
    salt in [0, S); the (small) build side is replicated S× carrying
    every salt; the join key becomes (key, salt), spreading one hot
    key's probe rows over S reducers. Result ≡ the plain join.

    This is the MANUAL form of what AQE skew-splitting does to a
    sort-merge join (plan-tested elsewhere) — still needed when the
    skewed join feeds a same-key aggregation AQE cannot split, or when
    the engine must pre-partition by (key, salt) for a downstream
    stage. Build-side replication cost is S× a small dim — the standard
    trade."""
    salted = fact.withColumn(
        "_salt",
        (
            F.crc32(
                F.concat_ws(
                    "|",
                    F.spark_partition_id(),
                    F.monotonically_increasing_id(),
                )
            )
            % n_salts
        ).cast("int"),
    )
    rep = dim.withColumn(
        "_salt", F.explode(F.expr(f"sequence(0, {n_salts - 1})"))
    ).withColumn("_salt", F.col("_salt").cast("int"))
    return salted.hint("shuffle_hash").join(rep, [key, "_salt"]).drop("_salt")


@query(
    "q_salted_join",
    f"""
    WITH {EVENTS_US_CTE},
    dim AS (
        SELECT event_type, CAST(len(event_type) AS BIGINT) AS weight
        FROM (SELECT DISTINCT event_type FROM events_us) d)
    SELECT e.event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(FLOOR(e.value * 1000) AS BIGINT) * d.weight)
                AS BIGINT) AS weighted_sum
    FROM events_us e JOIN dim d ON e.event_type = d.event_type
    GROUP BY e.event_type ORDER BY e.event_type
    """,
)
def q_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted join of the event fact (hot event_type keys) against a
    per-type weight dim, then a weighted rollup — must equal the plain
    join+aggregate exactly (fixed-point value milli-units; any
    salting/replication bug shows as a count or sum mismatch)."""
    ev = table(spark, sf_dir, "events")
    dim = (
        ev.select("event_type")
        .distinct()
        .withColumn("weight", F.length("event_type").cast("long"))
    )
    joined = salted_join(ev, dim, "event_type")
    return (
        joined.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.expr("CAST(FLOOR(value * 1000) AS BIGINT)")
                * F.col("weight")
            )
            .cast("long")
            .alias("weighted_sum"),
        )
        .transform(sort_bounded, "event_type")
    )


# ---------------------------------------------------------------------------
# Skew diagnosis — the report that DECIDES when the salting operators
# above are worth their cost: per-key row shares and top-k
# concentration over the hot-keyed event stream, in exact ppm integer
# arithmetic so the report is engine-portable.
# ---------------------------------------------------------------------------

@query(
    "q_skew_diagnosis",
    f"""
    WITH {EVENTS_US_CTE},
    counts AS (
        SELECT event_type, COUNT(*) AS n FROM events_us GROUP BY event_type),
    tot AS (SELECT SUM(n) AS total, COUNT(*) AS n_keys FROM counts),
    ranked AS (
        SELECT event_type, n,
               ROW_NUMBER() OVER (ORDER BY n DESC, event_type) AS rk
        FROM counts)
    SELECT rk, event_type, CAST(n AS BIGINT) AS n,
           CAST(n * 1000000 // total AS BIGINT) AS share_ppm,
           CAST(SUM(n) OVER (ORDER BY rk) * 1000000 // total AS BIGINT)
               AS cum_share_ppm,
           CAST(n * n_keys * 100 // total AS BIGINT) AS x_mean_pct
    FROM ranked CROSS JOIN tot
    ORDER BY rk
    """,
)
def q_skew_diagnosis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key report over the event stream: per-key row count, share
    (ppm), cumulative share by rank, and count-vs-mean ratio (100 =
    perfectly uniform) — the diagnosis that justifies salting/AQE skew
    handling before paying for it. Integer ppm/DIV arithmetic keeps
    every figure engine-exact.

    100 TB shape: one partial-aggregated groupBy over the keys, a
    broadcast scalar total, and a window over the (tiny) distinct-key
    table — the corpus is scanned once, the analysis runs on key
    cardinality."""
    ev = table(spark, sf_dir, "events")
    counts = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    tot = counts.agg(
        F.sum("n").alias("total"), F.count(F.lit(1)).alias("n_keys")
    )
    ranked = counts.withColumn(
        "rk",
        F.expr("ROW_NUMBER() OVER (ORDER BY n DESC, event_type)"),
    )
    return (
        ranked.crossJoin(F.broadcast(tot))
        .select(
            "rk",
            "event_type",
            F.col("n").cast("bigint").alias("n"),
            F.expr("CAST(n * 1000000 DIV total AS BIGINT)").alias(
                "share_ppm"
            ),
            # integer DIV end-to-end: a double division truncated to
            # bigint can land one off the oracle's exact // result
            F.expr(
                "CAST(SUM(n) OVER (ORDER BY rk ROWS BETWEEN UNBOUNDED"
                " PRECEDING AND CURRENT ROW) * 1000000 DIV total AS BIGINT)"
            ).alias("cum_share_ppm"),
            F.expr("CAST(n * n_keys * 100 DIV total AS BIGINT)").alias(
                "x_mean_pct"
            ),
        )
        .orderBy("rk")
    )


# ---------------------------------------------------------------------------
# Hot-key split join — the third skew idiom next to salting and AQE
# splitting: PARTITION THE WORKLOAD BY KEY TEMPERATURE. Hot keys
# (identified by a cheap count) join via broadcast of their dimension
# rows; the long cold tail joins via the normal shuffle; union the
# halves. The result is EXACTLY the plain join — which is what the
# oracle hashes — but no reducer ever owns a hot key's full row set.
# ---------------------------------------------------------------------------

_HOT_K = 3  # number of keys treated as hot


@query(
    "q_hotkey_split_join",
    f"""
    WITH joined AS (
        SELECT e.event_type, e.value, u.user_id
        FROM events e JOIN (
            SELECT DISTINCT user_id FROM events WHERE user_id % 5 <> 4
        ) u ON e.user_id = u.user_id)
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
    FROM joined
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def q_hotkey_split_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join events to an eligible-user dimension with the hot/cold
    split: the {_HOT_K} highest-frequency user_ids join through a
    broadcast of THEIR dimension rows (map-side, no shuffle of the hot
    rows), everything else through the regular shuffle join; the
    unioned rollup must hash-match the plain join the oracle runs.
    The split/broadcast/union plumbing is the operator under test —
    at 100 TB this is the manual fallback when a hot key is too big
    even for one AQE-split reducer."""
    ev = table(spark, sf_dir, "events")
    dim = ev.select("user_id").distinct().where(F.col("user_id") % 5 != 4)
    hot_keys = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), "user_id")
        .limit(_HOT_K)
        .select("user_id")
    )
    hot_dim = dim.join(F.broadcast(hot_keys), "user_id")
    cold_dim = dim.join(F.broadcast(hot_keys), "user_id", "left_anti")
    ev_hot = ev.join(F.broadcast(hot_keys), "user_id")
    ev_cold = ev.join(F.broadcast(hot_keys), "user_id", "left_anti")
    joined = ev_hot.join(F.broadcast(hot_dim), "user_id").unionByName(
        ev_cold.join(cold_dim, "user_id")
    )
    return (
        joined.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("user_id").alias("n_users"),
            F.expr(
                "CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)"
            ).alias("value_sum"),
        )
        .transform(sort_bounded, "event_type")
    )


# ---------------------------------------------------------------------------
# Join-size estimation — the CBO move: predict an equi-join's output
# cardinality from per-key frequency statistics ALONE (sum over keys of
# c_left * c_right), then prove the prediction exact against the real
# join. This is the statistics machinery behind ANALYZE TABLE /
# spark.sql.cbo.enabled, expressed as a first-class operator.
# ---------------------------------------------------------------------------

@query(
    "q_join_size_estimate",
    f"""
    WITH {EVENTS_US_CTE},
    lc AS (
        SELECT user_id, COUNT(*) AS c FROM events_us
        WHERE event_type = 'click' GROUP BY user_id),
    rc AS (
        SELECT user_id, COUNT(*) AS c FROM events_us
        WHERE event_type = 'view' GROUP BY user_id),
    pred AS (
        SELECT SUM(lc.c * rc.c) AS predicted_rows,
               COUNT(*) AS n_shared_keys,
               MAX(lc.c * rc.c) AS max_key_pairs
        FROM lc JOIN rc USING (user_id)),
    act AS (
        SELECT COUNT(*) AS actual_rows
        FROM (SELECT user_id FROM events_us WHERE event_type = 'click') a
        JOIN (SELECT user_id FROM events_us WHERE event_type = 'view') b
        USING (user_id)),
    sides AS (
        SELECT SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                   AS n_left,
               SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                   AS n_right
        FROM events_us)
    SELECT CAST(s.n_left AS BIGINT) AS n_left,
           CAST(s.n_right AS BIGINT) AS n_right,
           CAST(p.n_shared_keys AS BIGINT) AS n_shared_keys,
           CAST(p.max_key_pairs AS BIGINT) AS max_key_pairs,
           CAST(p.predicted_rows AS BIGINT) AS predicted_rows,
           CAST(a.actual_rows AS BIGINT) AS actual_rows,
           CAST(p.predicted_rows = a.actual_rows AS INT) AS estimate_exact
    FROM pred p CROSS JOIN act a CROSS JOIN sides s
    """,
)
def q_join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistics-only join cardinality prediction for clicks ⋈ views
    on user_id — sum over shared keys of c_l · c_r — validated exact
    against the materialized join's COUNT(*). The stats pass is two
    hash-aggs over key counts (tiny vs the join itself: this is WHY
    optimizers estimate before joining); the validation join never
    materializes rows, only a partial-count. At scale the per-key
    histogram doubles as the skew detector feeding q_salted_join."""
    ev = table(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select("user_id")
    views = ev.where(F.col("event_type") == "view").select("user_id")
    lc = clicks.groupBy("user_id").agg(F.count(F.lit(1)).alias("cl"))
    rc = views.groupBy("user_id").agg(F.count(F.lit(1)).alias("cr"))
    pred = (
        lc.join(rc, "user_id")
        .agg(
            F.sum(F.col("cl") * F.col("cr")).alias("predicted_rows"),
            F.count(F.lit(1)).alias("n_shared_keys"),
            F.max(F.col("cl") * F.col("cr")).alias("max_key_pairs"),
        )
    )
    act = clicks.join(views, "user_id").agg(
        F.count(F.lit(1)).alias("actual_rows")
    )
    sides = ev.agg(
        F.sum(
            F.when(F.col("event_type") == "click", 1).otherwise(0)
        ).alias("n_left"),
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias(
            "n_right"
        ),
    )
    return (
        sides.crossJoin(F.broadcast(pred))
        .crossJoin(F.broadcast(act))
        .select(
            F.col("n_left").cast("bigint"),
            F.col("n_right").cast("bigint"),
            F.col("n_shared_keys").cast("bigint"),
            F.col("max_key_pairs").cast("bigint"),
            F.col("predicted_rows").cast("bigint"),
            F.col("actual_rows").cast("bigint"),
            (F.col("predicted_rows") == F.col("actual_rows"))
            .cast("int")
            .alias("estimate_exact"),
        )
    )
