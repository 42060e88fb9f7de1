"""Alignment joins + set ops from the reference (SURVEY §2.3 J1/J2/J5,
§2.7 U1/U3).

The reference implements joins as dict/set intersections on the driver;
here they are first-class distributed equi-joins. The GAP side of J2 is
orders of magnitude smaller than raw tensors (X6: project-before-ship),
so it broadcasts; at 100 TB the join keys (group, stem) shuffle-hash
with AQE skew handling.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..registry import query
from .fixtures import (
    FEATUREMAPS_CTE,
    FM_C,
    FM_H,
    FM_W,
    GROUPED_EMBEDDINGS_CTE,
    featuremaps,
    grouped_embeddings,
)
from .grouping import stem_from_key
from .parity import sort_bounded
from .sampling import _seeded_rank_sql, seeded_rank

_HW = FM_H * FM_W


# ---------------------------------------------------------------------------
# J1 — group-alignment join with per-side caps
# ---------------------------------------------------------------------------

@query(
    "q_group_align_join",
    f"""
    WITH {GROUPED_EMBEDDINGS_CTE.strip()},
    side_a AS (
        SELECT "group", image_key AS key,
               {_seeded_rank_sql('"group"', "image_key")} AS rk
        FROM grouped_embeddings),
    side_b AS (
        SELECT "group", image_key AS key,
               {_seeded_rank_sql('"group"', "image_key", 43)} AS rk
        FROM grouped_embeddings WHERE vec_id % 5 != 0),
    caps AS (
        SELECT ca."group", LEAST(ca.cnt_a, cb.cnt_b, 60) AS n
        FROM (SELECT "group", MAX(rk) AS cnt_a FROM side_a GROUP BY 1) ca
        JOIN (SELECT "group", MAX(rk) AS cnt_b FROM side_b GROUP BY 1) cb
          ON ca."group" = cb."group")
    SELECT s."group", s.side, s.key
    FROM (
        SELECT 'A' AS side, "group", key, rk FROM side_a
        UNION ALL
        SELECT 'B' AS side, "group", key, rk FROM side_b) s
    JOIN caps c ON s."group" = c."group"
    WHERE s.rk <= c.n
    ORDER BY s."group", s.side, s.key
    """,
)
def q_group_align_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 — align two per-group collections: n = min(|A|, |B|, cap) per
    group, seeded-subsample both sides to n
    (``src/compare_embeddings_vs_features.py:202-221``; independent
    per-side seeds, pairing not preserved — faithful to the reference)."""
    base = grouped_embeddings(spark, sf_dir)
    side_a = base.select(
        "group", F.col("image_key").alias("key")
    ).withColumn("rk", seeded_rank("group", "key", 42))
    side_b = (
        base.where(F.col("vec_id") % 5 != 0)
        .select("group", F.col("image_key").alias("key"))
        .withColumn("rk", seeded_rank("group", "key", 43))
    )
    caps = (
        side_a.groupBy("group")
        .agg(F.max("rk").alias("cnt_a"))
        .join(side_b.groupBy("group").agg(F.max("rk").alias("cnt_b")), "group")
        .select(
            "group", F.least("cnt_a", "cnt_b", F.lit(60)).alias("n")
        )
    )
    both = side_a.select(F.lit("A").alias("side"), "group", "key", "rk").unionByName(
        side_b.select(F.lit("B").alias("side"), "group", "key", "rk")
    )
    return (
        both.join(F.broadcast(caps), "group")
        .where(F.col("rk") <= F.col("n"))
        .select("group", "side", "key")
    )


# ---------------------------------------------------------------------------
# J2 — record-level stem join + array concat (checksummed for the oracle)
# ---------------------------------------------------------------------------

@query(
    "q_stem_join_concat",
    f"""
    WITH {GROUPED_EMBEDDINGS_CTE.strip()},
    {FEATUREMAPS_CTE.strip().replace("featuremaps AS", "featuremaps_t AS")},
    emb AS (
        SELECT "group",
               regexp_replace(image_key, '\\.[^.]*$', '') AS stem,
               len(vector) AS emb_dim,
               CAST(SUM(CAST(CAST(vector[pos + 1] AS DOUBLE) AS DECIMAL(12,9)))
                    AS DOUBLE) AS emb_sum
        FROM grouped_embeddings, (SELECT UNNEST(range(0, 64)) AS pos)
        WHERE vec_id < 100
        GROUP BY 1, 2, len(vector)),
    gap AS (
        SELECT "group", stem, {FM_C} AS gap_dim,
               CAST(SUM(CAST(CAST(data[pos + 1] AS DOUBLE) AS DECIMAL(12,9))) AS DOUBLE)
                   / {_HW} AS gap_sum
        FROM featuremaps_t, (SELECT UNNEST(range(0, {FM_C * _HW})) AS pos)
        WHERE stage = 'stage1' AND vec_id < 100
        GROUP BY "group", stem)
    SELECT e."group", e.stem,
           e.emb_dim + g.gap_dim AS concat_dim,
           e.emb_sum + g.gap_sum AS concat_sum
    FROM emb e JOIN gap g ON e."group" = g."group" AND e.stem = g.stem
    ORDER BY e."group", e.stem
    """,
)
def q_stem_join_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 — inner join embeddings to stage1-GAP features on (group, stem),
    horizontal concat. Output is the concat's dimension + decimal-exact
    element checksum (arrays themselves are float-formatting-unsafe to
    hash across engines; ``F.concat`` of the two arrays over the same
    join gives the real concatenated vector)."""
    emb = (
        grouped_embeddings(spark, sf_dir)
        .where(F.col("vec_id") < 100)
        .select(
            "group",
            stem_from_key(F.col("image_key")).alias("stem"),
            F.size("vector").alias("emb_dim"),
            F.explode("vector").alias("v"),
        )
        .groupBy("group", "stem", "emb_dim")
        .agg(
            F.expr("CAST(SUM(CAST(v AS DECIMAL(12,9))) AS DOUBLE)").alias(
                "emb_sum"
            )
        )
    )
    gap = (
        featuremaps(spark, sf_dir)
        .where((F.col("stage") == "stage1") & (F.col("vec_id") < 100))
        .select("group", "stem", F.explode("data").alias("v"))
        .groupBy("group", "stem")
        .agg(
            F.lit(FM_C).alias("gap_dim"),
            (
                F.expr("CAST(SUM(CAST(v AS DECIMAL(12,9))) AS DOUBLE)") / _HW
            ).alias("gap_sum"),
        )
    )
    return (
        emb.join(gap, ["group", "stem"])
        .select(
            "group",
            "stem",
            (F.col("emb_dim") + F.col("gap_dim")).alias("concat_dim"),
            (F.col("emb_sum") + F.col("gap_sum")).alias("concat_sum"),
        )
    )


# ---------------------------------------------------------------------------
# J5 — pairwise group cross-join (CKA / pair plots)
# ---------------------------------------------------------------------------

@query(
    "q_pairwise_groups",
    f"""
    WITH {GROUPED_EMBEDDINGS_CTE.strip()},
    groups AS (SELECT DISTINCT "group" FROM grouped_embeddings)
    SELECT a."group" AS g1, b."group" AS g2
    FROM groups a, groups b
    WHERE a."group" < b."group"
    ORDER BY g1, g2
    """,
)
def q_pairwise_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5 — all unordered group pairs (``src/compare_xception_
    featuremaps.py:139-160``); tiny cardinality, plain cross join."""
    groups = grouped_embeddings(spark, sf_dir).select("group").distinct()
    a = groups.select(F.col("group").alias("g1"))
    b = groups.select(F.col("group").alias("g2"))
    return (
        a.crossJoin(b)
        .where(F.col("g1") < F.col("g2"))
        .transform(sort_bounded, "g1", "g2")
    )


# ---------------------------------------------------------------------------
# U1 / U3 — union with provenance, key intersection
# ---------------------------------------------------------------------------

@query(
    "q_union_provenance",
    f"""
    WITH {GROUPED_EMBEDDINGS_CTE.strip()},
    real_side AS (
        SELECT 'REAL/' || image_key AS key FROM grouped_embeddings
        WHERE vec_id % 2 = 0),
    fake_side AS (
        SELECT 'FAKE/' || image_key AS key FROM grouped_embeddings
        WHERE vec_id % 2 = 1)
    SELECT split_part(key, '/', 1) AS label, COUNT(*) AS n,
           MIN(key) AS first_key
    FROM (SELECT key FROM real_side UNION ALL SELECT key FROM fake_side) u
    GROUP BY 1
    ORDER BY label
    """,
)
def q_union_provenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1 — merged REAL ∪ FAKE with label-prefixed keys
    (``src/extract_embedding_multiple.py:183``)."""
    base = grouped_embeddings(spark, sf_dir)
    real = base.where(F.col("vec_id") % 2 == 0).select(
        F.concat(F.lit("REAL/"), F.col("image_key")).alias("key")
    )
    fake = base.where(F.col("vec_id") % 2 == 1).select(
        F.concat(F.lit("FAKE/"), F.col("image_key")).alias("key")
    )
    return (
        real.unionByName(fake)
        .groupBy(F.substring_index("key", "/", 1).alias("label"))
        .agg(F.count(F.lit(1)).alias("n"), F.min("key").alias("first_key"))
    )


@query(
    "q_intersect_stems",
    f"""
    WITH {GROUPED_EMBEDDINGS_CTE.strip()},
    a AS (SELECT regexp_replace(image_key, '\\.[^.]*$', '') AS stem
          FROM grouped_embeddings WHERE vec_id % 2 = 0),
    b AS (SELECT regexp_replace(image_key, '\\.[^.]*$', '') AS stem
          FROM grouped_embeddings WHERE vec_id % 3 = 0)
    SELECT stem FROM (SELECT stem FROM a INTERSECT SELECT stem FROM b) i
    ORDER BY stem
    """,
)
def q_intersect_stems(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U3 — stem-set intersection (``src/combined_embedding_features_
    comprations.py:199-205``) as a distributed INTERSECT."""
    base = grouped_embeddings(spark, sf_dir).select(
        stem_from_key(F.col("image_key")).alias("stem"), "vec_id"
    )
    a = base.where(F.col("vec_id") % 2 == 0).select("stem")
    b = base.where(F.col("vec_id") % 3 == 0).select("stem")
    return a.intersect(b)


# ---------------------------------------------------------------------------
# Null-aware anti join: NOT IN's three-valued logic vs NOT EXISTS —
# the correctness trap (one NULL in the subquery empties a NOT IN
# result) AND a distinct physical operator (Spark's null-aware anti
# join carries the isnull disjunct ordinary LeftAnti lacks).
# ---------------------------------------------------------------------------

_NAAJ_SQL = """
    WITH returned AS (
        SELECT DISTINCT l_partkey FROM {lineitem}
        WHERE l_returnflag = 'R'),
    poisoned AS (
        SELECT l_partkey FROM returned
        UNION ALL SELECT CAST(NULL AS BIGINT)),
    base AS (
        SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n_parts
        FROM {part} GROUP BY p_brand),
    not_in AS (
        SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n_not_in
        FROM {part}
        WHERE p_partkey NOT IN (SELECT l_partkey FROM returned)
        GROUP BY p_brand),
    not_exists AS (
        SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n_not_exists
        FROM {part} p
        WHERE NOT EXISTS (SELECT 1 FROM returned r
                          WHERE r.l_partkey = p.p_partkey)
        GROUP BY p_brand),
    poisoned_cnt AS (
        SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n_not_in_poisoned
        FROM {part}
        WHERE p_partkey NOT IN (SELECT l_partkey FROM poisoned)
        GROUP BY p_brand)
    SELECT b.p_brand, b.n_parts,
           CAST(COALESCE(ni.n_not_in, 0) AS BIGINT) AS n_not_in,
           CAST(COALESCE(ne.n_not_exists, 0) AS BIGINT) AS n_not_exists,
           CAST(COALESCE(pc.n_not_in_poisoned, 0) AS BIGINT)
               AS n_not_in_poisoned
    FROM base b
    LEFT JOIN not_in ni ON b.p_brand = ni.p_brand
    LEFT JOIN not_exists ne ON b.p_brand = ne.p_brand
    LEFT JOIN poisoned_cnt pc ON b.p_brand = pc.p_brand{order}
    """


@query(
    "q_not_in_anti_join",
    _NAAJ_SQL.format(part="part", lineitem="lineitem",
                     order="\n    ORDER BY b.p_brand"),
)
def q_not_in_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand counts of parts never returned, computed three ways:
    ``NOT IN`` over a null-free subquery (Spark plans the null-aware
    anti join — LeftAnti whose condition keeps the ``OR isnull``
    disjunct), ``NOT EXISTS`` (plain LeftAnti; must agree exactly when
    the subquery is null-free), and ``NOT IN`` over the same subquery
    poisoned with one NULL — which by SQL three-valued logic yields
    ZERO rows for every brand. Both engines implement the standard, so
    all three columns hash-match; the poisoned column documents the
    trap that silently empties production backfills.

    Scale shape: the subquery side is DISTINCT-collapsed before the
    anti joins (broadcast at this cardinality); NOT EXISTS is the form
    to prefer at scale — null-aware anti join degenerates to a
    broadcast nested loop when the build side cannot broadcast."""
    from ..catalog import table

    table(spark, sf_dir, "part").createOrReplaceTempView("nj_part")
    table(spark, sf_dir, "lineitem").createOrReplaceTempView("nj_lineitem")
    return spark.sql(
        _NAAJ_SQL.format(part="nj_part", lineitem="nj_lineitem", order="")
    )


# ---------------------------------------------------------------------------
# Spatial grid-KNN join — the geohash/S2-cell idiom in integer-exact
# form: bucket points into grid cells, probe a point's own cell plus
# its 8 neighbors, take the nearest by (integer) squared distance.
# The spatial-join pattern without a single transcendental, so the
# oracle matches bit-for-bit.
# ---------------------------------------------------------------------------

_GRID = 64  # cell edge length in integer coordinate units


@query(
    "q_grid_knn_join",
    f"""
    WITH sites AS (
        SELECT s_suppkey AS site_id,
               CAST(('0x' || substr(md5('sx' || CAST(s_suppkey AS VARCHAR)),
                                    1, 3))::BIGINT % 1024 AS BIGINT) AS x,
               CAST(('0x' || substr(md5('sy' || CAST(s_suppkey AS VARCHAR)),
                                    1, 3))::BIGINT % 1024 AS BIGINT) AS y
        FROM supplier),
    pts AS (
        SELECT c_custkey AS pt_id,
               CAST(('0x' || substr(md5('cx' || CAST(c_custkey AS VARCHAR)),
                                    1, 3))::BIGINT % 1024 AS BIGINT) AS x,
               CAST(('0x' || substr(md5('cy' || CAST(c_custkey AS VARCHAR)),
                                    1, 3))::BIGINT % 1024 AS BIGINT) AS y
        FROM customer WHERE c_custkey % 17 = 0),
    site_cells AS (
        SELECT site_id, x, y, x // {_GRID} AS cx, y // {_GRID} AS cy
        FROM sites),
    probe_cells AS (
        SELECT pt_id, x, y,
               x // {_GRID} + dx AS cx, y // {_GRID} + dy AS cy
        FROM pts,
             (SELECT UNNEST([-1, 0, 1]) AS dx),
             (SELECT UNNEST([-1, 0, 1]) AS dy)),
    cand AS (
        SELECT p.pt_id, s.site_id,
               (p.x - s.x) * (p.x - s.x) + (p.y - s.y) * (p.y - s.y) AS d2
        FROM probe_cells p JOIN site_cells s
          ON p.cx = s.cx AND p.cy = s.cy),
    best AS (
        SELECT pt_id, site_id, d2,
               ROW_NUMBER() OVER (PARTITION BY pt_id
                                  ORDER BY d2, site_id) AS rk
        FROM cand)
    SELECT CAST(pt_id AS BIGINT) AS pt_id,
           CAST(site_id AS BIGINT) AS nearest_site,
           CAST(d2 AS BIGINT) AS dist2
    FROM best WHERE rk = 1 ORDER BY pt_id
    """,
)
def q_grid_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest supplier site per sampled customer point on a 1024x1024
    integer grid (md5-derived coordinates): bucket sites by
    {_GRID}-unit grid cell, probe each point's own cell PLUS its 8
    neighbors (any true nearest neighbor within one cell edge is
    guaranteed found — the geohash-style cell join), rank candidates
    by integer squared distance. At 100 TB the cell id is the
    partition key and a probe touches 9 cells instead of the planet —
    same shape as S2/H3/geohash joins, with integer arithmetic
    keeping it hash-exact (no haversine transcendentals to diverge
    across engines). Points with an empty 3x3 neighborhood are
    legitimately absent (a production system widens the ring)."""
    from ..catalog import table

    s = table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("site_id"),
        F.expr(
            "CAST(conv(substr(md5(concat('sx', CAST(s_suppkey AS STRING))),"
            " 1, 3), 16, 10) % 1024 AS BIGINT)"
        ).alias("x"),
        F.expr(
            "CAST(conv(substr(md5(concat('sy', CAST(s_suppkey AS STRING))),"
            " 1, 3), 16, 10) % 1024 AS BIGINT)"
        ).alias("y"),
    )
    c = (
        table(spark, sf_dir, "customer")
        .where(F.col("c_custkey") % 17 == 0)
        .select(
            F.col("c_custkey").alias("pt_id"),
            F.expr(
                "CAST(conv(substr(md5(concat('cx',"
                " CAST(c_custkey AS STRING))), 1, 3), 16, 10) % 1024"
                " AS BIGINT)"
            ).alias("x"),
            F.expr(
                "CAST(conv(substr(md5(concat('cy',"
                " CAST(c_custkey AS STRING))), 1, 3), 16, 10) % 1024"
                " AS BIGINT)"
            ).alias("y"),
        )
    )
    site_cells = s.withColumns(
        {"cx": F.expr(f"x DIV {_GRID}"), "cy": F.expr(f"y DIV {_GRID}")}
    )
    probe_cells = (
        c.withColumn(
            "d",
            F.explode(
                F.expr(
                    "flatten(transform(sequence(-1, 1), dx ->"
                    " transform(sequence(-1, 1), dy ->"
                    " struct(dx AS dx, dy AS dy))))"
                )
            ),
        )
        .select(
            "pt_id",
            "x",
            "y",
            (F.expr(f"x DIV {_GRID}") + F.col("d.dx")).alias("cx"),
            (F.expr(f"y DIV {_GRID}") + F.col("d.dy")).alias("cy"),
        )
    )
    cand = probe_cells.join(
        site_cells.select("site_id", F.col("x").alias("sx"),
                          F.col("y").alias("sy"), "cx", "cy"),
        ["cx", "cy"],
    ).select(
        "pt_id",
        "site_id",
        (
            (F.col("x") - F.col("sx")) * (F.col("x") - F.col("sx"))
            + (F.col("y") - F.col("sy")) * (F.col("y") - F.col("sy"))
        ).alias("d2"),
    )
    w = Window.partitionBy("pt_id").orderBy("d2", "site_id")
    return (
        cand.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select(
            F.col("pt_id").cast("bigint"),
            F.col("site_id").cast("bigint").alias("nearest_site"),
            F.col("d2").cast("bigint").alias("dist2"),
        )
    )


# ---------------------------------------------------------------------------
# Interval overlap join — two LARGE interval sets matched on
# [start, end] overlap with week-bucket blocking: each interval
# explodes to the O(span/bucket) buckets it covers, candidates meet
# only inside a shared bucket, the exact overlap predicate verifies,
# and a distinct collapses double-counted pairs that share two
# buckets. Never a cross join; fan-out bounded by the interval span.
# The one-large-side special case is q_range_join (broadcast bands);
# the point-event counterpart is q_max_concurrency's sweep line.
# ---------------------------------------------------------------------------

_IVL_ANCHOR = "1995-01-01"


@query(
    "q_interval_overlap_join",
    f"""
    WITH a AS (
        SELECT l_orderkey AS a_id,
               (CAST(l_shipdate AS DATE) - DATE '{_IVL_ANCHOR}') AS a_lo,
               (CAST(l_shipdate AS DATE) - DATE '{_IVL_ANCHOR}')
                   + (l_orderkey % 14) + 1 AS a_hi
        FROM lineitem WHERE l_orderkey % 50 = 0 AND l_linenumber = 1),
    b AS (
        SELECT o_orderkey AS b_id,
               (CAST(o_orderdate AS DATE) - DATE '{_IVL_ANCHOR}') AS b_lo,
               (CAST(o_orderdate AS DATE) - DATE '{_IVL_ANCHOR}') + 7 AS b_hi
        FROM orders WHERE o_orderkey % 7 = 0),
    pairs AS (
        SELECT DISTINCT a.a_id, b.b_id, b.b_lo
        FROM a JOIN b
          ON a.a_lo <= b.b_hi AND b.b_lo <= a.a_hi)
    SELECT CAST(b_lo // 28 AS INTEGER) AS period,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(COUNT(DISTINCT a_id) AS BIGINT) AS n_ship_intervals,
           CAST(COUNT(DISTINCT b_id) AS BIGINT) AS n_order_windows
    FROM pairs
    GROUP BY period
    ORDER BY period
    """,
)
def q_interval_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shipping intervals (shipdate + 1..14-day synthetic span, one
    line per 50th order) overlap-joined to order fulfilment windows
    (orderdate + 7d, every 7th order), rolled up per 28-day period.
    The engine joins via exploded week buckets + exact verify; the
    oracle runs the naive theta join — two formulations, one answer.
    Fan-out: <=3 buckets per A interval, 2-3 per B window."""
    from ..catalog import table

    anchor = F.lit(_IVL_ANCHOR)
    li = table(spark, sf_dir, "lineitem").where(
        (F.col("l_orderkey") % 50 == 0) & (F.col("l_linenumber") == 1)
    )
    a = li.select(
        F.col("l_orderkey").alias("a_id"),
        F.datediff(F.to_date("l_shipdate"), anchor).alias("a_lo"),
        (
            F.datediff(F.to_date("l_shipdate"), anchor)
            + (F.col("l_orderkey") % 14)
            + 1
        ).alias("a_hi"),
    )
    o = table(spark, sf_dir, "orders").where(F.col("o_orderkey") % 7 == 0)
    b = o.select(
        F.col("o_orderkey").alias("b_id"),
        F.datediff(F.to_date("o_orderdate"), anchor).alias("b_lo"),
        (F.datediff(F.to_date("o_orderdate"), anchor) + 7).alias("b_hi"),
    )
    a_buck = a.select(
        "a_id",
        "a_lo",
        "a_hi",
        F.explode(
            F.sequence(
                F.floor(F.col("a_lo") / 7), F.floor(F.col("a_hi") / 7)
            )
        ).alias("bucket"),
    )
    b_buck = b.select(
        "b_id",
        "b_lo",
        "b_hi",
        F.explode(
            F.sequence(
                F.floor(F.col("b_lo") / 7), F.floor(F.col("b_hi") / 7)
            )
        ).alias("bucket"),
    )
    pairs = (
        a_buck.join(b_buck, "bucket")
        .where(
            (F.col("a_lo") <= F.col("b_hi"))
            & (F.col("b_lo") <= F.col("a_hi"))
        )
        .select("a_id", "b_id", "b_lo")
        .distinct()
    )
    return (
        pairs.groupBy(
            F.floor(F.col("b_lo") / 28).cast("int").alias("period")
        )
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.countDistinct("a_id").alias("n_ship_intervals"),
            F.countDistinct("b_id").alias("n_order_windows"),
        )
    )


@query(
    "q_null_skew_shunt_join",
    """
    WITH o AS (
        SELECT CASE WHEN o_custkey % 11 = 0 THEN NULL
                    ELSE o_custkey END AS cust_n,
               o_totalprice
        FROM orders)
    SELECT COALESCE(c_mktsegment, '__unattributed__') AS segment,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(21,6))) AS DOUBLE)
               AS revenue
    FROM o LEFT JOIN customer ON cust_n = c_custkey
    GROUP BY segment
    ORDER BY segment
    """,
)
def q_null_skew_shunt_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-key shunt around a left outer join — the classic skew fix
    for null-heavy foreign keys: NULL join keys can never match, yet a
    naive LEFT JOIN shuffles every NULL row into ONE reducer (all NULLs
    hash alike), the worst possible hot key at 100 TB. The shunt splits
    the fact scan: non-null keys go through the (merge-hinted — at
    scale neither fact side broadcasts) join; NULL-key rows bypass it
    entirely and re-enter as a union with null-filled dimension
    columns. Results are identical to the naive plan by construction —
    which is exactly what the oracle checks by running the naive LEFT
    JOIN. The plan test asserts the NULL branch reaches the union
    without touching the join."""
    from ..catalog import table

    orders = table(spark, sf_dir, "orders").select(
        F.when(F.col("o_custkey") % 11 == 0, None)
        .otherwise(F.col("o_custkey"))
        .alias("cust_n"),
        "o_totalprice",
    )
    cust = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    matched = (
        orders.where(F.col("cust_n").isNotNull())
        .join(
            cust.hint("merge"),
            F.col("cust_n") == F.col("c_custkey"),
            "left",
        )
        .select("c_mktsegment", "o_totalprice")
    )
    shunted = orders.where(F.col("cust_n").isNull()).select(
        F.lit(None).cast("string").alias("c_mktsegment"), "o_totalprice"
    )
    return (
        matched.unionByName(shunted)
        .groupBy(
            F.coalesce("c_mktsegment", F.lit("__unattributed__")).alias(
                "segment"
            )
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.expr(
                "CAST(SUM(CAST(o_totalprice AS DECIMAL(21,6))) AS DOUBLE)"
            ).alias("revenue"),
        )
        .transform(sort_bounded, "segment")
    )
