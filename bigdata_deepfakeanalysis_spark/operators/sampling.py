"""Deterministic per-group sampling (SURVEY §2.4 A7/A8, §2.6, §2.2 P7).

The reference caps every group before quadratic analysis (seeded
``rng.choice`` — ``src/analyze_embedding_with_tsne.py:106-110`` etc.,
SURVEY X5). The engine's scheme is rank-over-md5(seed|key): fully
distributed (one window per group, no collect), deterministic across
engines and cluster sizes, and oracle-exact — FIXTURES.md mandates the
same scheme on the DuckDB side instead of engine-native rand().

At 100 TB: a per-group window over a hash is a single shuffle on the
group key; skewed groups are handled by AQE. No global sort.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..registry import query
from .fixtures import GROUPED_EMBEDDINGS_CTE, grouped_embeddings
from .parity import sort_bounded


def seeded_rank(group_col: str, key_col: str, seed: int = 42) -> Column:
    """row_number within group, ordered by md5(seed|key) then key."""
    h = F.md5(F.concat_ws("|", F.lit(str(seed)), F.col(key_col).cast("string")))
    w = Window.partitionBy(group_col).orderBy(h, F.col(key_col))
    return F.row_number().over(w)


def cap_per_group(
    df: DataFrame, group_col: str, key_col: str, cap: int, seed: int = 42
) -> DataFrame:
    """A7 — seeded cap-sample: keep <= cap rows per group, deterministic."""
    return (
        df.withColumn("_rk", seeded_rank(group_col, key_col, seed))
        .where(F.col("_rk") <= cap)
        .drop("_rk")
    )


def _seeded_rank_sql(group: str, key: str, seed: int = 42) -> str:
    return (
        f"ROW_NUMBER() OVER (PARTITION BY {group} ORDER BY "
        f"md5('{seed}' || '|' || CAST({key} AS VARCHAR)), {key})"
    )


@query(
    "q_seeded_cap_sample",
    f"""
    WITH {GROUPED_EMBEDDINGS_CTE.strip()},
    ranked AS (
        SELECT "group", image_key,
               {_seeded_rank_sql('"group"', "image_key")} AS rk
        FROM grouped_embeddings)
    SELECT "group", image_key, rk
    FROM ranked WHERE rk <= 50
    ORDER BY "group", rk
    """,
)
def q_seeded_cap_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 — 50-per-group seeded sample of the grouped embeddings."""
    df = grouped_embeddings(spark, sf_dir)
    return (
        df.withColumn("rk", seeded_rank("group", "image_key"))
        .where(F.col("rk") <= 50)
        .select("group", "image_key", "rk")
    )


@query(
    "q_seeded_sample_deterministic",
    f"""
    WITH {GROUPED_EMBEDDINGS_CTE.strip()},
    ranked AS (
        SELECT "group", image_key,
               {_seeded_rank_sql('"group"', "image_key")} AS rk
        FROM grouped_embeddings),
    a AS (SELECT "group", image_key FROM ranked WHERE rk <= 25),
    b AS (SELECT "group", image_key FROM ranked WHERE rk <= 25)
    SELECT a."group", COUNT(*) AS n_stable
    FROM a JOIN b ON a."group" = b."group" AND a.image_key = b.image_key
    GROUP BY a."group"
    ORDER BY a."group"
    """,
)
def q_seeded_sample_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Determinism test as a query (SURVEY §5.2): sampling twice with the
    same seed selects the identical set — the join count equals the cap."""
    a = cap_per_group(grouped_embeddings(spark, sf_dir), "group", "image_key", 25)
    b = cap_per_group(grouped_embeddings(spark, sf_dir), "group", "image_key", 25)
    return (
        a.select("group", "image_key")
        .join(b.select("group", "image_key"), ["group", "image_key"])
        .groupBy("group")
        .agg(F.count(F.lit(1)).alias("n_stable"))
    )


@query(
    "q_first_n_per_group",
    f"""
    WITH {GROUPED_EMBEDDINGS_CTE.strip()},
    ranked AS (
        SELECT "group", image_key,
               ROW_NUMBER() OVER (PARTITION BY "group" ORDER BY image_key) AS rk
        FROM grouped_embeddings)
    SELECT "group", image_key, rk
    FROM ranked WHERE rk <= 10
    ORDER BY "group", rk
    """,
)
def q_first_n_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 — first 10 per group in sorted-listing order."""
    df = grouped_embeddings(spark, sf_dir)
    w = Window.partitionBy("group").orderBy("image_key")
    return (
        df.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 10)
        .select("group", "image_key", "rk")
    )


@query(
    "q_group_counts_guard",
    f"""
    WITH {GROUPED_EMBEDDINGS_CTE.strip()}
    SELECT "group", COUNT(*) AS n
    FROM grouped_embeddings
    GROUP BY "group"
    HAVING COUNT(*) >= 3
    ORDER BY "group"
    """,
)
def q_group_counts_guard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 + P7 — per-group counts with the reference's n>=3 minimum guard
    (``src/analyze_embedding_with_tsne.py:113-114``)."""
    return (
        grouped_embeddings(spark, sf_dir)
        .groupBy("group")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") >= 3)
        .transform(sort_bounded, "group")
    )


# ---------------------------------------------------------------------------
# Stratified train/val/test split — the training-mix op every data
# pipeline needs: deterministic per-label proportional assignment via
# the same rank-over-md5 scheme (no engine rand(), so both engines
# agree row-for-row). One window shuffle on the label; scale-safe.
# ---------------------------------------------------------------------------

def stratified_split(
    df: DataFrame,
    label_col: str,
    key_col: str,
    train_frac: float = 0.8,
    val_frac: float = 0.1,
    seed: int = 42,
) -> DataFrame:
    """Assign train/val/test per label by seeded-rank position within
    the label's row count: first train_frac → train, next val_frac →
    val, rest → test. Exact row counts per label are deterministic
    (floor arithmetic), unlike randomSplit's Bernoulli draw."""
    n_w = Window.partitionBy(label_col)
    rk = seeded_rank(label_col, key_col, seed)
    n = F.count(F.lit(1)).over(n_w)
    split = (
        F.when(rk <= F.floor(n * train_frac), "train")
        .when(rk <= F.floor(n * train_frac) + F.floor(n * val_frac), "val")
        .otherwise("test")
    )
    return df.withColumn("split", split)


@query(
    "q_stratified_split",
    f"""
    WITH ranked AS (
        SELECT label, vec_id,
               {_seeded_rank_sql("label", "vec_id")} AS rk,
               COUNT(*) OVER (PARTITION BY label) AS n
        FROM embeddings),
    assigned AS (
        SELECT label, vec_id,
               CASE WHEN rk <= FLOOR(n * 0.8) THEN 'train'
                    WHEN rk <= FLOOR(n * 0.8) + FLOOR(n * 0.1) THEN 'val'
                    ELSE 'test' END AS split
        FROM ranked)
    SELECT label, split, COUNT(*) AS n_rows, MIN(vec_id) AS min_key
    FROM assigned GROUP BY label, split ORDER BY label, split
    """,
)
def q_stratified_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """80/10/10 stratified split of embeddings by label; per-(label,
    split) counts + a deterministic witness key."""
    from ..catalog import table

    emb = table(spark, sf_dir, "embeddings").select("label", "vec_id")
    out = stratified_split(emb, "label", "vec_id")
    return (
        out.groupBy("label", "split")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("vec_id").alias("min_key"),
        )
    )


# ---------------------------------------------------------------------------
# Hash-Bernoulli sampling — the ZERO-shuffle sampling primitive. The
# rank-over-md5 scheme above gives exact per-group counts but pays a
# window shuffle; when an approximate fraction is acceptable (corpus
# profiling, quality spot-checks, eval-set carving at 100 TB), a pure
# hash-bucket FILTER does it with no shuffle at all, fully pushed into
# the scan stage, deterministic across engines/cluster sizes, and
# stable under re-runs AND under corpus growth (a row's membership
# never changes when other rows arrive — the property that makes it
# the idiom for consistent train/holdout carving across snapshots).
# ---------------------------------------------------------------------------

@query(
    "q_hash_bernoulli_sample",
    """
    WITH flagged AS (
        SELECT o_orderpriority, o_orderkey,
               (('0x' || substr(md5('42' || '|' ||
                   CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT) % 100 < 10
                   AS sampled
        FROM orders)
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_total,
           CAST(COUNT(*) FILTER (WHERE sampled) AS BIGINT) AS n_sampled,
           CAST(MIN(CASE WHEN sampled THEN o_orderkey END) AS BIGINT)
               AS min_sampled_key,
           CAST(COUNT(*) FILTER (WHERE sampled) * 1000000
                // COUNT(*) AS BIGINT) AS rate_ppm
    FROM flagged
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def q_hash_bernoulli_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10% hash-Bernoulli sample of orders, audited per priority class:
    realized counts, a witness key, and the realized rate in ppm
    (integer DIV so both engines agree exactly). The sample is the
    ``sampled`` flag: a row-local md5-bucket predicate the optimizer
    keeps inside the scan stage (as a filter it is the whole sample);
    this query adds the rate audit (one aggregation) on top. Unlike ``TABLESAMPLE``/``df.sample`` the selection is
    deterministic, engine-independent, and append-stable."""
    from ..catalog import table

    orders = table(spark, sf_dir, "orders")
    flagged = orders.select(
        "o_orderpriority",
        "o_orderkey",
        (
            F.expr(
                "CAST(conv(substr(md5(concat('42', '|', "
                "CAST(o_orderkey AS STRING))), 1, 8), 16, 10) AS BIGINT) % 100"
            )
            < 10
        ).alias("sampled"),
    )
    return (
        flagged.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.count_if("sampled").alias("n_sampled"),
            F.min(F.when(F.col("sampled"), F.col("o_orderkey")))
            .cast("bigint")
            .alias("min_sampled_key"),
            F.expr(
                "CAST(count_if(sampled) * 1000000 DIV COUNT(*) AS BIGINT)"
            ).alias("rate_ppm"),
        )
        .transform(sort_bounded, "o_orderpriority")
    )


# ---------------------------------------------------------------------------
# Weighted sampling without replacement (Efraimidis & Spirakis 2006):
# each row draws key = -ln(u)/w (u uniform from the seeded md5, w its
# weight) and the k SMALLEST keys per group are the sample — provably
# equivalent to sequential weighted draws without replacement. The
# 100 TB shape is the same as the cap sample: one window shuffle on
# the group key (or TakeOrderedAndProject for a global sample), no
# rand(), identical draws on any cluster size or engine.
# ---------------------------------------------------------------------------

_WS_U = (
    "(CAST(conv(substr(md5(concat('es42', '|', CAST({key} AS STRING))),"
    " 1, 8), 16, 10) AS BIGINT) + 1) / CAST(4294967296 AS DOUBLE)"
)
_WS_U_SQL = (
    "((('0x' || substr(md5('es42' || '|' || CAST({key} AS VARCHAR)), 1, 8))"
    "::BIGINT + 1) / CAST(4294967296 AS DOUBLE))"
)


def weighted_sample(
    df: DataFrame, group_col: str, key_col: str, weight_col: str, k: int
) -> DataFrame:
    """k-per-group weighted sample: adds ``es_key`` and keeps the k
    rows with the smallest -ln(u)/w per group (higher weight => smaller
    key => more likely sampled). Weights must be > 0."""
    u = _WS_U.format(key=key_col)
    key = F.expr(f"-ln({u}) / {weight_col}")
    w = Window.partitionBy(group_col).orderBy(key.asc(), F.col(key_col))
    return (
        df.withColumn("es_key", key)
        .withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") <= k)
        .withColumnRenamed("_rk", "rk")
    )


@query(
    "q_weighted_sample",
    f"""
    WITH keyed AS (
        SELECT o_orderpriority, o_orderkey, o_totalprice,
               -ln({_WS_U_SQL.format(key="o_orderkey")}) / o_totalprice
                   AS es_key
        FROM orders),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                     ORDER BY es_key, o_orderkey) AS rk
        FROM keyed)
    SELECT o_orderpriority, CAST(rk AS BIGINT) AS rk,
           CAST(o_orderkey AS BIGINT) AS o_orderkey, o_totalprice
    FROM ranked WHERE rk <= 20
    ORDER BY o_orderpriority, rk
    """,
)
def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20-per-priority weighted sample of orders, weight =
    o_totalprice (big orders proportionally likelier): the
    quality-weighted / temperature-style corpus subsampling primitive,
    as exact engine-replayable draws. -ln(u) parity: LN of the same
    dyadic-rational u is bit-identical across engines (proven by the
    PSI/PMI oracles); the division by the parquet double is one IEEE
    op. u is (h+1)/2^32 so u in (0,1] and ln never sees 0."""
    from ..catalog import table

    orders = table(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_orderkey", "o_totalprice"
    )
    out = weighted_sample(
        orders, "o_orderpriority", "o_orderkey", "o_totalprice", 20
    )
    return (
        out.select(
            "o_orderpriority",
            F.col("rk").cast("bigint").alias("rk"),
            F.col("o_orderkey").cast("bigint").alias("o_orderkey"),
            "o_totalprice",
        )
    )


# ---------------------------------------------------------------------------
# Sample-bias audit — the QA step after any sampling: does the
# hash-Bernoulli sample's categorical distribution match the
# population's? Chi-square goodness-of-fit of sampled counts against
# expected-from-population, all integer-derived; the statistic plus a
# conservative threshold flag are driver-hashed.
# ---------------------------------------------------------------------------

@query(
    "q_sample_bias_audit",
    """
    WITH flagged AS (
        SELECT o_orderpriority AS cat,
               (('0x' || substr(md5('42' || '|' ||
                   CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT) % 100 < 10
                   AS sampled
        FROM orders),
    per_cat AS (
        SELECT cat, COUNT(*) AS n_pop,
               COUNT(*) FILTER (WHERE sampled) AS n_samp
        FROM flagged GROUP BY cat),
    tot AS (
        SELECT SUM(n_pop) AS t_pop, SUM(n_samp) AS t_samp FROM per_cat),
    terms AS (
        SELECT p.cat, p.n_pop, p.n_samp,
               CAST(p.n_pop AS DOUBLE) * t.t_samp / t.t_pop AS expected
        FROM per_cat p CROSS JOIN tot t)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_categories,
           CAST(SUM(n_samp) AS BIGINT) AS n_sampled,
           CAST(SUM(CAST((n_samp - expected) * (n_samp - expected)
                         / expected AS DECIMAL(18,9))) AS DOUBLE)
               AS chi2,
           CAST(SUM(CAST((n_samp - expected) * (n_samp - expected)
                         / expected AS DECIMAL(18,9))) AS DOUBLE)
               < 3.0 * (COUNT(*) - 1) AS unbiased_3x_dof
    FROM terms
    """,
)
def q_sample_bias_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Goodness-of-fit audit of the 10% hash-Bernoulli sample against
    the population's priority distribution: chi2 with expected counts
    proportional to population shares, plus a conservative
    chi2 < 3*dof health flag (a deterministic hash sample over a
    hash-uncorrelated category passes comfortably; a correlated or
    buggy sampler trips it). Composes q_hash_bernoulli_sample's
    selection with q_chi2_independence's machinery."""
    from ..catalog import table

    orders = table(spark, sf_dir, "orders")
    flagged = orders.select(
        F.col("o_orderpriority").alias("cat"),
        (
            F.expr(
                "CAST(conv(substr(md5(concat('42', '|', "
                "CAST(o_orderkey AS STRING))), 1, 8), 16, 10) AS BIGINT) % 100"
            )
            < 10
        ).alias("sampled"),
    )
    per_cat = flagged.groupBy("cat").agg(
        F.count(F.lit(1)).alias("n_pop"),
        F.count_if("sampled").alias("n_samp"),
    )
    from pyspark.sql.window import Window

    w = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    terms = per_cat.select(
        "cat",
        "n_pop",
        "n_samp",
        (
            F.col("n_pop").cast("double")
            * F.sum("n_samp").over(w)
            / F.sum("n_pop").over(w)
        ).alias("expected"),
    )
    chi2 = (
        "CAST(SUM(CAST((n_samp - expected) * (n_samp - expected)"
        " / expected AS DECIMAL(18,9))) AS DOUBLE)"
    )
    return terms.agg(
        F.count(F.lit(1)).alias("n_categories"),
        F.sum("n_samp").cast("bigint").alias("n_sampled"),
        F.expr(chi2).alias("chi2"),
        F.expr(f"{chi2} < 3.0 * (COUNT(*) - 1)").alias("unbiased_3x_dof"),
    )


# ---------------------------------------------------------------------------
# Approximate query processing by deterministic sampling — the
# "answer from 10% of the data" pattern with its error made visible:
# a seeded hash-Bernoulli sample estimates the lineitem quantity
# total/mean, reported next to the exact values with the realized
# relative error in ppm. Because the sample is hash-deterministic,
# every column (including the estimates) is exactly reproducible.
# ---------------------------------------------------------------------------

@query(
    "q_sample_estimate",
    """
    WITH flagged AS (
        SELECT l_quantity,
               (('0x' || substr(md5('7' || '|' ||
                   CAST(l_orderkey AS VARCHAR) || '|' ||
                   CAST(l_linenumber AS VARCHAR)), 1, 8))::BIGINT)
               % 100 < 10 AS sampled
        FROM lineitem),
    agg AS (
        SELECT COUNT(*) AS n_total,
               COUNT(*) FILTER (WHERE sampled) AS n_sampled,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                   AS true_sum,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)))
                        FILTER (WHERE sampled) AS DOUBLE) AS samp_sum
        FROM flagged)
    SELECT CAST(n_total AS BIGINT) AS n_total,
           CAST(n_sampled AS BIGINT) AS n_sampled,
           true_sum,
           CAST(CAST(samp_sum * 10.0 AS DECIMAL(24,6)) AS DOUBLE)
               AS est_sum,
           CAST(CAST(FLOOR(abs(samp_sum * 10.0 - true_sum)
                           / true_sum * 1000000) AS BIGINT) AS BIGINT)
               AS rel_err_ppm,
           CAST(CAST(true_sum / n_total AS DECIMAL(18,9)) AS DOUBLE)
               AS true_mean,
           CAST(CAST(samp_sum / n_sampled AS DECIMAL(18,9)) AS DOUBLE)
               AS est_mean
    FROM agg
    """,
)
def q_sample_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AQP scorecard: 10% seeded hash-Bernoulli sample of lineitem,
    Horvitz-Thompson scaled quantity total and sample mean next to the
    exact answers and the realized error in ppm. One scan, one
    aggregate (the sample predicate is a row-local md5 — no second
    pass, no shuffle); sums DECIMAL-routed, estimates deterministic
    because the sample is."""
    from ..catalog import table

    li = table(spark, sf_dir, "lineitem")
    flagged = li.select(
        "l_quantity",
        F.expr(
            "CAST(conv(substr(md5(concat('7', '|',"
            " CAST(l_orderkey AS STRING), '|',"
            " CAST(l_linenumber AS STRING))), 1, 8), 16, 10) AS BIGINT)"
            " % 100 < 10"
        ).alias("sampled"),
    )
    agg = flagged.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.count_if(F.col("sampled")).alias("n_sampled"),
        F.expr(
            "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)"
        ).alias("true_sum"),
        F.expr(
            "CAST(SUM(CASE WHEN sampled THEN"
            " CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE)"
        ).alias("samp_sum"),
    )
    return agg.select(
        F.col("n_total").cast("bigint"),
        F.col("n_sampled").cast("bigint"),
        "true_sum",
        F.expr(
            "CAST(CAST(samp_sum * 10.0 AS DECIMAL(24,6)) AS DOUBLE)"
        ).alias("est_sum"),
        F.expr(
            "CAST(FLOOR(abs(samp_sum * 10.0 - true_sum)"
            " / true_sum * 1000000) AS BIGINT)"
        ).alias("rel_err_ppm"),
        F.expr(
            "CAST(CAST(true_sum / n_total AS DECIMAL(18,9)) AS DOUBLE)"
        ).alias("true_mean"),
        F.expr(
            "CAST(CAST(samp_sum / n_sampled AS DECIMAL(18,9)) AS DOUBLE)"
        ).alias("est_mean"),
    )


# ---------------------------------------------------------------------------
# Bootstrap confidence interval — B=100 deterministic half-sample
# replicates in ONE fact-table pass: each order hashes once (md5 ->
# four 32-bit words = 128 independent membership bits), replicate b
# sums ride conditional aggregates on bit b, and the single agg row
# unpivots to B rows for the rank readout. The first cut cross-joined
# orders x reps (60M md5 at sf0.1, 13.6 s); this form is 1 md5/row.
# ---------------------------------------------------------------------------

_BOOT_B = 100


@query(
    "q_bootstrap_ci",
    f"""
    WITH reps AS (
        SELECT UNNEST(range(0, {_BOOT_B})) AS b),
    sampled AS (
        SELECT r.b,
               CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                   AS cents
        FROM orders o CROSS JOIN reps r
        WHERE ((('0x' || substr(md5(CAST(o.o_orderkey AS VARCHAR)),
                 1 + 8 * (r.b // 32), 8))::BIGINT >> (r.b % 32)) & 1) = 1),
    means AS (
        SELECT b,
               CAST(SUM(cents) AS DOUBLE) / (COUNT(*) * 100) AS mean_b
        FROM sampled GROUP BY b),
    ranked AS (
        SELECT b, mean_b,
               ROW_NUMBER() OVER (ORDER BY mean_b, b) AS rnk
        FROM means),
    point AS (
        SELECT COUNT(*) AS n,
               CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS DOUBLE) / (COUNT(*) * 100)
                   AS point_mean
        FROM orders)
    SELECT CAST(p.n AS BIGINT) AS n,
           p.point_mean,
           MAX(CASE WHEN r.rnk = 3 THEN r.mean_b END) AS ci_lo,
           MAX(CASE WHEN r.rnk = {_BOOT_B - 2} THEN r.mean_b END) AS ci_hi,
           CAST({_BOOT_B} AS INT) AS n_reps
    FROM ranked r CROSS JOIN point p
    GROUP BY p.n, p.point_mean
    """,
)
def q_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """95% bootstrap CI for mean order value, one pass over the fact
    table: md5(orderkey) yields 128 independent bits; replicate b's
    membership is bit (b % 32) of word (b // 32), so B=100
    half-sample replicate sums/counts are 2B conditional aggregates
    over a single scan — no replica of the facts ever materializes
    (the oracle keeps the semantically-identical explode form; at
    100 TB the conditional-agg form is the only viable one). The
    single agg row unpivots via ``stack`` to B rows; each replicate
    mean is ONE IEEE division of exact BIGINTs (cents / (n*100)), so
    ranks and the CI hash exactly cross-engine."""
    from ..catalog import table

    o = table(spark, sf_dir, "orders")
    proj = o.select(
        F.expr(
            "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"
        ).alias("cents"),
        *[
            F.expr(
                "CAST(conv(substr(md5(CAST(o_orderkey AS STRING)), "
                f"{1 + 8 * j}, 8), 16, 10) AS BIGINT)"
            ).alias(f"w{j}")
            for j in range(4)
        ],
    )
    aggs = []
    for b in range(_BOOT_B):
        j, s = divmod(b, 32)
        cond = f"((w{j} >> {s}) & 1) = 1"
        aggs.append(
            F.expr(f"SUM(CASE WHEN {cond} THEN cents END)").alias(f"s{b}")
        )
        aggs.append(
            F.expr(f"SUM(CASE WHEN {cond} THEN 1 ELSE 0 END)").alias(f"c{b}")
        )
    aggs.append(F.sum("cents").alias("s_all"))
    aggs.append(F.count(F.lit(1)).alias("n_all"))
    one = proj.agg(*aggs)
    stack_args = ", ".join(f"{b}, s{b}, c{b}" for b in range(_BOOT_B))
    reps = one.select(
        "n_all",
        "s_all",
        F.expr(
            f"stack({_BOOT_B}, {stack_args}) AS (b, s_b, c_b)"
        ),
    ).select(
        "n_all",
        "s_all",
        "b",
        F.expr("CAST(s_b AS DOUBLE) / (c_b * 100)").alias("mean_b"),
    )
    ranked = reps.withColumn(
        "rnk", F.row_number().over(Window.orderBy("mean_b", "b"))
    )
    return (
        ranked.groupBy("n_all", "s_all")
        .agg(
            F.max(F.when(F.col("rnk") == 3, F.col("mean_b"))).alias("ci_lo"),
            F.max(
                F.when(F.col("rnk") == _BOOT_B - 2, F.col("mean_b"))
            ).alias("ci_hi"),
        )
        .select(
            F.col("n_all").cast("bigint").alias("n"),
            F.expr(
                "CAST(s_all AS DOUBLE) / (n_all * 100)"
            ).alias("point_mean"),
            "ci_lo",
            "ci_hi",
            F.lit(_BOOT_B).cast("int").alias("n_reps"),
        )
    )


# ---------------------------------------------------------------------------
# Differentially-private count release — per-segment counts plus
# seeded Laplace(1/eps) noise (inverse-CDF from the engine's md5
# uniform), released as floor-fixed-point so the cross-engine hash is
# exact. Together with q_k_anonymity this is the privacy surface a
# training-data release pipeline runs before publishing statistics.
# ---------------------------------------------------------------------------

@query(
    "q_dp_count_release",
    """
    WITH counts AS (
        SELECT c_mktsegment AS segment, COUNT(*) AS n_true
        FROM customer GROUP BY c_mktsegment),
    noised AS (
        SELECT segment, n_true,
               (CAST(('0x' || substr(md5('dp1|' || segment), 1, 8))::BIGINT
                     AS DOUBLE) / 4294967296.0) - 0.5 AS u
        FROM counts)
    SELECT segment,
           CAST(n_true AS BIGINT) AS n_true,
           CAST(FLOOR((CAST(n_true AS DOUBLE)
                - (CASE WHEN u < 0 THEN -1.0 ELSE 1.0 END)
                  * ln(1.0 - 2.0 * abs(u))) * 1000000.0) AS BIGINT)
               AS noisy_count_micro,
           CAST(1000 AS INT) AS eps_milli
    FROM noised ORDER BY segment
    """,
)
def q_dp_count_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laplace-mechanism count release (eps=1): per-segment customer
    counts plus inverse-CDF Laplace noise from a seeded md5 uniform —
    u = h/2^32 - 0.5, noise = -sign(u)·ln(1-2|u|) — deterministic,
    identical in both engines (division by 2^32 is exact, ln matches
    bit-for-bit here), released floor-fixed-point at 1e6. One hash agg
    + row-local noise: the privacy layer adds zero shuffles."""
    from ..catalog import table

    c = table(spark, sf_dir, "customer")
    counts = c.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count(F.lit(1)).alias("n_true")
    )
    noised = counts.withColumn(
        "u",
        F.expr(
            "CAST(conv(substr(md5(concat('dp1|', segment)), 1, 8), 16, 10)"
            " AS DOUBLE) / 4294967296.0 - 0.5"
        ),
    )
    return noised.select(
        "segment",
        F.col("n_true").cast("bigint"),
        F.expr(
            "CAST(FLOOR((CAST(n_true AS DOUBLE)"
            " - (CASE WHEN u < 0 THEN -1.0 ELSE 1.0 END)"
            "   * ln(1.0 - 2.0 * abs(u))) * 1000000.0) AS BIGINT)"
        ).alias("noisy_count_micro"),
        F.lit(1000).cast("int").alias("eps_milli"),
    ).transform(sort_bounded, "segment")


# ---------------------------------------------------------------------------
# Largest-remainder quota apportionment — split a fixed budget of
# sampling slots across sources proportionally (Hamilton's method):
# floor quotas first, then the leftover slots go to the largest
# fractional remainders with a deterministic tie-break. The integer
# allocator behind every fixed-size training-mixture draw; all
# arithmetic is exact cross-engine.
# ---------------------------------------------------------------------------

_LR_BUDGET = 1000


@query(
    "q_largest_remainder",
    f"""
    WITH per_src AS (
        SELECT source, COUNT(*) AS cnt FROM documents GROUP BY source),
    quota AS (
        SELECT source, cnt,
               CAST(cnt * {_LR_BUDGET} // SUM(cnt) OVER () AS BIGINT)
                   AS base_slots,
               CAST(cnt * {_LR_BUDGET} % SUM(cnt) OVER () AS BIGINT)
                   AS rem
        FROM per_src),
    ranked AS (
        SELECT source, cnt, base_slots,
               ROW_NUMBER() OVER (ORDER BY rem DESC, source) AS rk,
               {_LR_BUDGET} - SUM(base_slots) OVER () AS leftover
        FROM quota)
    SELECT source,
           CAST(cnt AS BIGINT) AS cnt,
           base_slots,
           CAST(base_slots + CASE WHEN rk <= leftover THEN 1 ELSE 0 END
                AS BIGINT) AS alloc_slots
    FROM ranked ORDER BY source
    """,
)
def q_largest_remainder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamilton largest-remainder apportionment of a 1000-slot sample
    budget across document sources: integer floor quotas
    (cnt*B DIV total), leftover slots to the largest remainders with
    (remainder DESC, source) tie-break — sum(alloc) == B exactly, no
    floating point anywhere. One 20-row rollup; every window runs
    post-agg over the source list, so the allocator is free at any
    fact scale."""
    from ..catalog import table
    from pyspark.sql.window import Window

    docs = table(spark, sf_dir, "documents")
    per_src = docs.groupBy("source").agg(F.count(F.lit(1)).alias("cnt"))
    w_all = Window.partitionBy()
    quota = per_src.select(
        "source",
        "cnt",
        F.expr(
            f"CAST(cnt * {_LR_BUDGET} DIV SUM(cnt)"
            " OVER () AS BIGINT)"
        ).alias("base_slots"),
        F.expr(
            f"CAST(cnt * {_LR_BUDGET} % SUM(cnt) OVER () AS BIGINT)"
        ).alias("rem"),
    )
    ranked = quota.select(
        "source",
        "cnt",
        "base_slots",
        F.row_number()
        .over(Window.orderBy(F.desc("rem"), "source"))
        .alias("rk"),
        (F.lit(_LR_BUDGET) - F.sum("base_slots").over(w_all)).alias(
            "leftover"
        ),
    )
    return ranked.select(
        "source",
        F.col("cnt").cast("bigint").alias("cnt"),
        "base_slots",
        (
            F.col("base_slots")
            + F.when(F.col("rk") <= F.col("leftover"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("alloc_slots"),
    ).orderBy("source")


# ---------------------------------------------------------------------------
# Stratified k-fold assignment audit — deterministic 5-fold split
# (md5 of doc_id, the engine's seeded-hash idiom) with the per-fold
# per-language balance matrix a CV harness checks before training:
# counts plus each language's within-fold share in ppm. Fold
# assignment is row-local; the audit is one rollup.
# ---------------------------------------------------------------------------

_KFOLD_K = 5


@query(
    "q_stratified_kfold",
    f"""
    WITH folded AS (
        SELECT lang,
               (('0x' || substr(md5('fold|' || CAST(doc_id AS VARCHAR)),
                 1, 8))::BIGINT) % {_KFOLD_K} AS fold
        FROM documents),
    cell AS (
        SELECT fold, lang, COUNT(*) AS n
        FROM folded GROUP BY fold, lang)
    SELECT CAST(fold AS INT) AS fold, lang, CAST(n AS BIGINT) AS n,
           CAST(SUM(n) OVER (PARTITION BY fold) AS BIGINT) AS fold_total,
           CAST(n * 1000000 // SUM(n) OVER (PARTITION BY fold) AS BIGINT)
               AS share_ppm
    FROM cell ORDER BY fold, lang
    """,
)
def q_stratified_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-fold CV assignment audit: fold = md5(doc_id) % 5 (append-
    stable, engine-independent, never rand()), then the fold × lang
    balance matrix with within-fold shares in integer ppm. At scale
    the assignment adds one row-local expression to the scan; the
    audit shuffles once to at most K·|langs| cells, and the share
    windows run over those cells."""
    from ..catalog import table

    docs = table(spark, sf_dir, "documents")
    folded = docs.select(
        "lang",
        (
            F.expr(
                "CAST(conv(substr(md5(concat('fold|',"
                " CAST(doc_id AS STRING))), 1, 8), 16, 10) AS BIGINT)"
            )
            % _KFOLD_K
        ).alias("fold"),
    )
    cell = folded.groupBy("fold", "lang").agg(F.count(F.lit(1)).alias("n"))
    return cell.select(
        F.col("fold").cast("int").alias("fold"),
        "lang",
        F.col("n").cast("bigint").alias("n"),
        F.expr(
            "CAST(SUM(n) OVER (PARTITION BY fold) AS BIGINT)"
        ).alias("fold_total"),
        F.expr(
            "CAST(n * 1000000 DIV SUM(n) OVER (PARTITION BY fold)"
            " AS BIGINT)"
        ).alias("share_ppm"),
    )


# ---------------------------------------------------------------------------
# Neyman optimal stratified allocation — allocate a sample budget
# across strata proportional to N_h * sigma_h (minimum-variance
# design), not just N_h. Variances come from one pass of exact
# integer/DECIMAL moments; IEEE sqrt is correctly rounded so sigma is
# bit-identical cross-engine; weights floor to fixed point BEFORE the
# ratio so the final allocation is pure integer math.
# ---------------------------------------------------------------------------

_NEY_BUDGET = 1000


@query(
    "q_neyman_allocation",
    f"""
    WITH cents AS (
        SELECT c.c_mktsegment AS segment,
               CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS c
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
    mom AS (
        SELECT segment, COUNT(*) AS n,
               SUM(c) AS s1,
               SUM(CAST(c AS DECIMAL(38,0)) * c) AS s2
        FROM cents GROUP BY segment),
    sig AS (
        SELECT segment, n,
               sqrt(CAST(n * s2 - CAST(s1 AS DECIMAL(38,0)) * s1
                         AS DOUBLE)) / n AS sigma_c,
               CAST(floor(n * (sqrt(CAST(n * s2
                        - CAST(s1 AS DECIMAL(38,0)) * s1 AS DOUBLE)) / n))
                    AS BIGINT) AS w_fp
        FROM mom)
    SELECT segment,
           CAST(n AS BIGINT) AS n_pop,
           CAST(floor(sigma_c) AS BIGINT) AS sigma_c_floor,
           w_fp,
           CAST(w_fp * {_NEY_BUDGET} // SUM(w_fp) OVER () AS BIGINT)
               AS neyman_alloc,
           CAST(n * {_NEY_BUDGET} // SUM(n) OVER () AS BIGINT)
               AS proportional_alloc
    FROM sig ORDER BY segment
    """,
)
def q_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman allocation of a 1000-draw budget across market
    segments: stratum weight w = N·σ from one pass of exact moments
    (the variance cancellation N·S2 − S1² stays in DECIMAL — the
    q_ols_elasticity lesson), σ via IEEE-correctly-rounded sqrt,
    weights floored to integers before the DIV ratio so allocations
    hash exactly. The proportional column shows what naive
    allocation would do — the delta is the variance the optimal
    design saves. One fact join + one 5-row window."""
    from ..catalog import table

    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    cents = o.join(c, o.o_custkey == c.c_custkey).select(
        F.col("c_mktsegment").alias("segment"),
        F.expr(
            "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"
        ).alias("c"),
    )
    mom = cents.groupBy("segment").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").alias("s1"),
        F.expr("SUM(CAST(c AS DECIMAL(38,0)) * c)").alias("s2"),
    )
    sig = mom.select(
        "segment",
        "n",
        F.expr(
            "sqrt(CAST(n * s2 - CAST(s1 AS DECIMAL(38,0)) * s1"
            " AS DOUBLE)) / n"
        ).alias("sigma_c"),
        F.expr(
            "CAST(floor(n * (sqrt(CAST(n * s2"
            " - CAST(s1 AS DECIMAL(38,0)) * s1 AS DOUBLE)) / n))"
            " AS BIGINT)"
        ).alias("w_fp"),
    )
    return sig.select(
        "segment",
        F.col("n").cast("bigint").alias("n_pop"),
        F.expr("CAST(floor(sigma_c) AS BIGINT)").alias("sigma_c_floor"),
        "w_fp",
        F.expr(
            f"CAST(w_fp * {_NEY_BUDGET} DIV SUM(w_fp) OVER ()"
            " AS BIGINT)"
        ).alias("neyman_alloc"),
        F.expr(
            f"CAST(n * {_NEY_BUDGET} DIV SUM(n) OVER () AS BIGINT)"
        ).alias("proportional_alloc"),
    ).orderBy("segment")


# ---------------------------------------------------------------------------
# Effective sample size — the diagnostic for any importance-weighted
# estimate: ESS = (Σw)² / Σw² tells you how many equal-weight samples
# your weighted set is actually worth. Exact integer moments in
# cents; per segment plus ESS/n efficiency in ppm.
# ---------------------------------------------------------------------------

@query(
    "q_effective_sample_size",
    """
    WITH w AS (
        SELECT c_mktsegment AS segment,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                   AS wt
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
    mom AS (
        SELECT segment, COUNT(*) AS n,
               SUM(wt) AS s1,
               SUM(CAST(wt AS DECIMAL(38,0)) * wt) AS s2
        FROM w GROUP BY segment)
    SELECT segment,
           CAST(n AS BIGINT) AS n,
           CAST(floor(CAST(s1 AS DOUBLE) / s2 * s1) AS BIGINT)
               AS ess_floor,
           CAST(floor(CAST(s1 AS DOUBLE) / s2 * s1 / n * 1000000)
                AS BIGINT) AS efficiency_ppm
    FROM mom ORDER BY segment
    """,
)
def q_effective_sample_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kish effective sample size per segment with order value as the
    importance weight: ESS = S1²/S2 from one pass of exact integer/
    DECIMAL moments (the double chain is s1/s2*s1 — two operations on
    exact operands, then floor), and ESS/n in ppm as the efficiency
    of the weighting. Efficiency far below 1e6 warns that a weighted
    estimator (Horvitz-Thompson totals in q_sample_estimate, the
    q_weighted_sample draws) carries far less information than its
    row count suggests."""
    from ..catalog import table

    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    w = o.join(c, o.o_custkey == c.c_custkey).select(
        F.col("c_mktsegment").alias("segment"),
        F.expr(
            "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"
        ).alias("wt"),
    )
    mom = w.groupBy("segment").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("wt").alias("s1"),
        F.expr("SUM(CAST(wt AS DECIMAL(38,0)) * wt)").alias("s2"),
    )
    return mom.select(
        "segment",
        F.col("n").cast("bigint").alias("n"),
        F.expr(
            "CAST(floor(CAST(s1 AS DOUBLE) / s2 * s1) AS BIGINT)"
        ).alias("ess_floor"),
        F.expr(
            "CAST(floor(CAST(s1 AS DOUBLE) / s2 * s1 / n * 1000000)"
            " AS BIGINT)"
        ).alias("efficiency_ppm"),
    ).transform(sort_bounded, "segment")
