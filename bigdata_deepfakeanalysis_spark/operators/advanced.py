"""Remaining SURVEY §2 line items: range / as-of joins (J6), validity
filters (P8), and the reference's map-shaped embedding-JSON source (S3).

Scale design: the range join broadcasts the tiny band table (a band
per row via a broadcast theta join — at scale Spark turns banded range
predicates into pruned broadcast joins); the as-of join is realized as
the distributed idiom — partition by key, order by time, forward-fill
with ``last(..., ignorenulls)`` — one shuffle on the key, no pairwise
time comparison. The JSON source reads map-shaped text through
``from_json`` + ``explode`` (the reference's ``{key: vector}`` files,
``src/analyze_embedding_with_tsne.py:37-57``).
"""

from __future__ import annotations

import json
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import EVENTS_US_CTE, table
from ..registry import query
from .parity import range_parts, sort_bounded

_FMT = "yyyy-MM-dd HH:mm:ss"
_FMT_DUCK = "%Y-%m-%d %H:%M:%S"


# ---------------------------------------------------------------------------
# J6 — range (theta) join
# ---------------------------------------------------------------------------

_BANDS = [(0.0, 50.0, "low"), (50.0, 200.0, "mid"), (200.0, 1e9, "high")]
_BANDS_SQL = ", ".join(f"({lo}, {hi}, '{name}')" for lo, hi, name in _BANDS)


@query(
    "q_range_join",
    f"""
    WITH {EVENTS_US_CTE},
    bands(lo, hi, band) AS (VALUES {_BANDS_SQL})
    SELECT b.band, e.event_type, COUNT(*) AS n
    FROM events_us e JOIN bands b ON e.value >= b.lo AND e.value < b.hi
    GROUP BY b.band, e.event_type
    ORDER BY band, event_type
    """,
)
def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6 — banded range join: events matched to value bands on an
    interval predicate (broadcast nested-loop over 3 rows — the
    degenerate-but-correct plan for tiny band tables)."""
    ev = table(spark, sf_dir, "events")
    bands = spark.createDataFrame(_BANDS, "lo double, hi double, band string")
    return (
        ev.join(
            F.broadcast(bands),
            (ev.value >= bands.lo) & (ev.value < bands.hi),
        )
        .groupBy("band", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# ---------------------------------------------------------------------------
# J6 — as-of join (forward-fill idiom)
# ---------------------------------------------------------------------------

@query(
    "q_asof_join",
    f"""
    WITH {EVENTS_US_CTE},
    filled AS (
        SELECT event_id, user_id, event_type, ts,
               last_value(CASE WHEN event_type = 'signup' THEN ts END
                          IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS UNBOUNDED PRECEDING) AS asof_signup
        FROM events_us)
    SELECT event_id, user_id,
           strftime(ts, '{_FMT_DUCK}') AS ts,
           strftime(asof_signup, '{_FMT_DUCK}') AS asof_signup_ts
    FROM filled
    WHERE event_type = 'purchase' AND event_id < 3000
    ORDER BY event_id
    """,
)
def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6 — as-of join: each purchase matched to the user's most recent
    signup at-or-before it. Distributed idiom: one shuffle on user_id,
    in-partition sort, forward-fill — never a pairwise time join."""
    ev = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = ev.withColumn(
        "asof_signup",
        F.last(
            F.when(F.col("event_type") == "signup", F.col("ts")), ignorenulls=True
        ).over(w),
    )
    return (
        filled.where(
            (F.col("event_type") == "purchase") & (F.col("event_id") < 3000)
        )
        .select(
            "event_id",
            "user_id",
            F.date_format("ts", _FMT).alias("ts"),
            F.date_format("asof_signup", _FMT).alias("asof_signup_ts"),
        )
    )


# ---------------------------------------------------------------------------
# P8 — validity / schema-guard filter
# ---------------------------------------------------------------------------

@query(
    "q_validity_filter",
    """
    WITH corrupted AS (
        SELECT vec_id, embedding FROM embeddings
        UNION ALL
        SELECT vec_id + 1000000, embedding[1:16] FROM embeddings
        WHERE vec_id % 7 = 0
        UNION ALL
        SELECT vec_id + 2000000, NULL FROM embeddings WHERE vec_id % 11 = 0)
    SELECT len(embedding) IS NOT NULL AND len(embedding) = 64 AS valid,
           COUNT(*) AS n,
           CAST(MIN(vec_id) AS BIGINT) AS min_vec_id
    FROM corrupted
    GROUP BY 1 ORDER BY valid
    """,
)
def q_validity_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8 — the reference's shape guards (``X.ndim != 2`` checks,
    ``src/analyze_embedding_with_tsne.py:51-53``) as a schema-residual
    filter: vectors must be non-null with exactly D=64 elements; a
    corrupted union (truncated + null rows) is split valid/invalid."""
    emb = table(spark, sf_dir, "embeddings")
    corrupted = (
        emb.select("vec_id", "embedding")
        .unionByName(
            emb.where(F.col("vec_id") % 7 == 0).select(
                (F.col("vec_id") + 1000000).alias("vec_id"),
                F.slice("embedding", 1, 16).alias("embedding"),
            )
        )
        .unionByName(
            emb.where(F.col("vec_id") % 11 == 0).select(
                (F.col("vec_id") + 2000000).alias("vec_id"),
                F.lit(None).cast("array<float>").alias("embedding"),
            )
        )
    )
    return (
        corrupted.withColumn(
            "valid",
            F.col("embedding").isNotNull() & (F.size("embedding") == 64),
        )
        .groupBy("valid")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("vec_id").cast("bigint").alias("min_vec_id"),
        )
    )


# ---------------------------------------------------------------------------
# S3 — map-shaped embedding-JSON source
# ---------------------------------------------------------------------------

_JSON_N = 20


def write_embedding_json(spark: SparkSession, sf_dir: str) -> Path:
    """Stage one reference-style embedding JSON file: a single object
    ``{image_key: [float × 64]}`` (``src/extract_embedding.py:134-138``).
    Deterministic; derived from the first _JSON_N vectors."""
    from ..catalog import staging_dir

    out = staging_dir("embjson") / "embeddings_resnet50.json"
    rows = (
        table(spark, sf_dir, "embeddings")
        .where(F.col("vec_id") < _JSON_N)
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
        .collect()
    )
    obj = {f"img_{r.vec_id}.png": list(r.v) for r in sorted(rows)}
    out.write_text(json.dumps(obj, sort_keys=True))
    return out


@query(
    "q_embedding_json_source",
    f"""
    SELECT 'img_' || CAST(vec_id AS VARCHAR) || '.png' AS image_key,
           CAST(len(embedding) AS BIGINT) AS dim,
           CAST(SUM(CAST(CAST(v AS DOUBLE) AS DECIMAL(12,9))) AS DOUBLE)
               AS vec_sum
    FROM embeddings, UNNEST(embedding) AS t(v)
    WHERE vec_id < {_JSON_N}
    GROUP BY vec_id, len(embedding)
    ORDER BY image_key
    """,
)
def q_embedding_json_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3 — parse the ``{{key: vector}}`` JSON through from_json(map) +
    explode; the oracle recomputes per-key dimension and decimal-exact
    sums from the parquet source, so any JSON round-trip corruption
    (precision, key mangling, dropped entries) surfaces as a mismatch."""
    path = write_embedding_json(spark, sf_dir)
    parsed = (
        spark.read.text(str(path))
        .select(
            F.explode(
                F.from_json(F.col("value"), "map<string, array<double>>")
            ).alias("image_key", "vector")
        )
    )
    return (
        parsed.select(
            "image_key",
            F.size("vector").cast("bigint").alias("dim"),
            F.explode("vector").alias("v"),
        )
        .groupBy("image_key", "dim")
        .agg(
            F.expr(
                "CAST(SUM(CAST(v AS DECIMAL(12,9))) AS DOUBLE)"
            ).alias("vec_sum")
        )
    )


# ---------------------------------------------------------------------------
# Time-series similarity search (cf. "Time Series Similarity Search for
# Streaming Data in Distributed Systems", EDBT 2019 — the distributed
# correlate-against-a-reference-series shape): bucket each user's event
# stream into a daily value series, then rank users by Pearson
# correlation with a reference user's series over their overlapping
# buckets. No reference-repo counterpart (image-only); north-star
# events-table extension.
# ---------------------------------------------------------------------------

_TS_BUCKET_US = 86400000000  # 1 day in microseconds
_TS_REF_USER = 1
_TS_MIN_OVERLAP = 15        # >= half the 29-day fixture span


@query(
    "q_ts_correlation_search",
    f"""
    WITH {EVENTS_US_CTE},
    series AS (
        SELECT user_id,
               epoch_us(ts) // {_TS_BUCKET_US} AS bucket,
               SUM(CAST(value AS DECIMAL(18,6))) AS v
        FROM events_us GROUP BY user_id, bucket),
    ref AS (SELECT bucket, v AS rv FROM series
            WHERE user_id = {_TS_REF_USER}),
    joined AS (
        SELECT s.user_id, s.v AS x, r.rv AS y
        FROM series s JOIN ref r USING (bucket)
        WHERE s.user_id <> {_TS_REF_USER}),
    agg AS (
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
               CAST(SUM(x * y) AS DOUBLE) AS sxy,
               CAST(SUM(x * x) AS DOUBLE) AS sxx,
               CAST(SUM(y * y) AS DOUBLE) AS syy
        FROM joined GROUP BY user_id)
    SELECT user_id, n,
           ROUND((sxy * n - sx * sy)
                 / sqrt((sxx * n - sx * sx) * (syy * n - sy * sy)),
                 9) AS corr
    FROM agg WHERE n >= {_TS_MIN_OVERLAP}
    ORDER BY corr DESC, user_id LIMIT 10
    """,
)
def q_ts_correlation_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 users whose daily activity series correlates most with
    user {_TS_REF_USER}'s, over ≥ {_TS_MIN_OVERLAP} co-observed days.

    Cross-engine exactness: bucket values are DECIMAL sums (exact,
    order-free), the five correlation sufficient statistics are DECIMAL
    products summed exactly, and only the final Pearson formula — one
    identical IEEE expression on both engines — runs in double.

    100 TB design: one bucket-level shuffle builds every user's series;
    the reference series (≤ hours-in-retention rows) broadcasts; the
    per-user sufficient statistics partial-aggregate map-side. The same
    skeleton scores ANY reference pattern — swap ``ref`` for a literal
    pattern relation to search for a shape instead of a user."""
    ev = table(spark, sf_dir, "events")
    series = ev.groupBy(
        "user_id",
        (F.unix_micros("ts") / _TS_BUCKET_US)
        .cast("long")
        .alias("bucket"),
    ).agg(F.expr("SUM(CAST(value AS DECIMAL(18,6)))").alias("v"))
    ref = series.where(F.col("user_id") == _TS_REF_USER).select(
        "bucket", F.col("v").alias("rv")
    )
    joined = (
        series.where(F.col("user_id") != _TS_REF_USER)
        .join(F.broadcast(ref), "bucket")
        .select("user_id", F.col("v").alias("x"), F.col("rv").alias("y"))
    )
    agg = joined.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.expr("CAST(SUM(x) AS DOUBLE)").alias("sx"),
        F.expr("CAST(SUM(y) AS DOUBLE)").alias("sy"),
        F.expr("CAST(SUM(x * y) AS DOUBLE)").alias("sxy"),
        F.expr("CAST(SUM(x * x) AS DOUBLE)").alias("sxx"),
        F.expr("CAST(SUM(y * y) AS DOUBLE)").alias("syy"),
    )
    return (
        agg.where(F.col("n") >= _TS_MIN_OVERLAP)
        .select(
            "user_id",
            "n",
            F.round(
                F.expr(
                    "(sxy * n - sx * sy)"
                    " / sqrt((sxx * n - sx * sx) * (syy * n - sy * sy))"
                ),
                9,
            ).alias("corr"),
        )
        .orderBy(F.desc("corr"), "user_id")
        .limit(10)
    )


_TS_M = 7  # pattern length: one week of daily buckets

# rising-trend probe pattern (1..7); Pearson against it scores how
# monotonically a user's activity week rises, scale/shift-free
_TS_PATTERN = list(range(1, _TS_M + 1))


def _ts_corr_terms(xs: list[str], ys: list[float]) -> str:
    """Pearson r of a FIXED-LENGTH window vs literal pattern as one
    deterministic left-associated double expression (identical text on
    both engines ⇒ identical IEEE evaluation order)."""
    n = len(xs)
    sx = " + ".join(xs)
    sy = repr(float(sum(ys)))
    sxy = " + ".join(f"{x} * {y!r}" for x, y in zip(xs, map(float, ys)))
    sxx = " + ".join(f"{x} * {x}" for x in xs)
    syy = repr(float(sum(y * y for y in ys)))
    return (
        f"(({sxy}) * {n} - ({sx}) * {sy})"
        f" / sqrt((({sxx}) * {n} - ({sx}) * ({sx}))"
        f" * ({syy} * {n} - {sy} * {sy}))"
    )


@query(
    "q_ts_pattern_match",
    f"""
    WITH {EVENTS_US_CTE},
    series AS (
        SELECT user_id,
               epoch_us(ts) // {_TS_BUCKET_US} AS bucket,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS v
        FROM events_us GROUP BY user_id, bucket),
    win AS (
        SELECT user_id, bucket AS start_bucket,
               {", ".join(
                   f"LEAD(v, {j}) OVER (PARTITION BY user_id ORDER BY bucket)"
                   f" AS x{j}" for j in range(_TS_M))},
               LEAD(bucket, {_TS_M - 1})
                   OVER (PARTITION BY user_id ORDER BY bucket) AS end_bucket
        FROM series),
    scored AS (
        SELECT user_id, start_bucket,
               ROUND({_ts_corr_terms([f"x{j}" for j in range(_TS_M)],
                                     _TS_PATTERN)}, 9) AS corr
        FROM win
        WHERE end_bucket = start_bucket + {_TS_M - 1})
    SELECT user_id, CAST(start_bucket AS BIGINT) AS start_bucket, corr
    FROM scored WHERE corr IS NOT NULL
    ORDER BY corr DESC, user_id, start_bucket LIMIT 10
    """,
)
def q_ts_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window subsequence matching: score every CONTIGUOUS
    7-day window of every user's daily series against a rising-trend
    pattern (Pearson r vs 1..7 — shift/scale-free, so it is the
    z-normalized subsequence match of the time-series-similarity
    literature), return the strongest matches corpus-wide. Windows with
    gaps (a missing day) are excluded by the end_bucket identity —
    LEAD counts rows, not days.

    100 TB design: one bucket-level shuffle builds the series, one
    user-partitioned window sort forms every subsequence WITHOUT
    materializing m-fold copies (LEAD reads forward in the sorted
    partition), and the scoring is row-local arithmetic. Top-10 is
    TakeOrdered. The pattern is a literal; searching for another shape
    recompiles the expression, not the pipeline."""
    ev = table(spark, sf_dir, "events")
    series = ev.groupBy(
        "user_id",
        (F.unix_micros("ts") / _TS_BUCKET_US).cast("long").alias("bucket"),
    ).agg(
        F.expr("CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)").alias("v")
    )
    w = Window.partitionBy("user_id").orderBy("bucket")
    win = series.select(
        "user_id",
        F.col("bucket").alias("start_bucket"),
        *[F.lead("v", j).over(w).alias(f"x{j}") for j in range(_TS_M)],
        F.lead("bucket", _TS_M - 1).over(w).alias("end_bucket"),
    )
    corr = _ts_corr_terms([f"x{j}" for j in range(_TS_M)], _TS_PATTERN)
    return (
        win.where(F.col("end_bucket") == F.col("start_bucket") + (_TS_M - 1))
        .select(
            "user_id",
            F.col("start_bucket").cast("bigint").alias("start_bucket"),
            F.round(F.expr(corr), 9).alias("corr"),
        )
        .where(F.col("corr").isNotNull())
        .orderBy(F.desc("corr"), "user_id", "start_bucket")
        .limit(10)
    )


@query(
    "q_cohort_retention",
    f"""
    WITH {EVENTS_US_CTE},
    firsts AS (
        SELECT user_id,
               MIN(epoch_us(ts) // {7 * 86400000000}) AS cohort_week
        FROM events_us GROUP BY user_id),
    activity AS (
        SELECT DISTINCT e.user_id, f.cohort_week,
               (epoch_us(e.ts) // {7 * 86400000000}) - f.cohort_week
                   AS week_offset
        FROM events_us e JOIN firsts f USING (user_id)),
    cohort_sizes AS (
        SELECT cohort_week, COUNT(*) AS cohort_n FROM firsts
        GROUP BY cohort_week)
    SELECT CAST(a.cohort_week AS BIGINT) AS cohort_week,
           CAST(a.week_offset AS BIGINT) AS week_offset,
           CAST(COUNT(*) AS BIGINT) AS active_users,
           CAST(s.cohort_n AS BIGINT) AS cohort_n,
           ROUND(COUNT(*) * 1.0 / s.cohort_n, 9) AS retention
    FROM activity a JOIN cohort_sizes s USING (cohort_week)
    GROUP BY a.cohort_week, a.week_offset, s.cohort_n
    ORDER BY cohort_week, week_offset
    """,
)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-seen week, each
    cohort's share of users still active N weeks later — the standard
    product-analytics rollup over the event stream.

    100 TB design: the first-seen table is ONE user-level aggregate
    (users ≪ events, so the size THRESHOLD elects a broadcast while
    it fits and a shuffle join when the user base outgrows it —
    late-r9: the forced hint was removed, since user counts scale
    with the corpus), activity dedup is per (user, week) BEFORE the
    cohort rollup so the wide table never carries event-grain rows
    past the first shuffle, and the cohort-week-keyed sizes (a
    time-bounded domain) keep their broadcast hint."""
    ev = table(spark, sf_dir, "events")
    week = (F.unix_micros("ts") / (7 * 86400000000)).cast("long")
    firsts = ev.groupBy("user_id").agg(F.min(week).alias("cohort_week"))
    activity = (
        ev.select("user_id", week.alias("week"))
        .join(firsts, "user_id")
        .select(
            "user_id",
            "cohort_week",
            (F.col("week") - F.col("cohort_week")).alias("week_offset"),
        )
        .distinct()
    )
    sizes = firsts.groupBy("cohort_week").agg(
        F.count(F.lit(1)).alias("cohort_n")
    )
    return (
        activity.groupBy("cohort_week", "week_offset")
        .agg(F.count(F.lit(1)).alias("active_users"))
        .join(F.broadcast(sizes), "cohort_week")
        .select(
            F.col("cohort_week").cast("bigint").alias("cohort_week"),
            F.col("week_offset").cast("bigint").alias("week_offset"),
            F.col("active_users").cast("bigint").alias("active_users"),
            F.col("cohort_n").cast("bigint").alias("cohort_n"),
            F.round(
                F.col("active_users") * 1.0 / F.col("cohort_n"), 9
            ).alias("retention"),
        )
    )


@query(
    "q_event_funnel",
    f"""
    WITH {EVENTS_US_CTE},
    s1 AS (SELECT user_id, MIN(epoch_us(ts)) AS t1 FROM events_us
           WHERE event_type = 'signup' GROUP BY user_id),
    s2 AS (SELECT e.user_id, MIN(epoch_us(e.ts)) AS t2
           FROM events_us e JOIN s1 USING (user_id)
           WHERE e.event_type = 'click' AND epoch_us(e.ts) >= s1.t1
           GROUP BY e.user_id),
    s3 AS (SELECT e.user_id, MIN(epoch_us(e.ts)) AS t3
           FROM events_us e JOIN s2 USING (user_id)
           WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= s2.t2
           GROUP BY e.user_id),
    counts AS (
        SELECT 1 AS step, 'signup' AS step_name,
               CAST(COUNT(*) AS BIGINT) AS n_users FROM s1
        UNION ALL
        SELECT 2, 'click_after_signup', CAST(COUNT(*) AS BIGINT) FROM s2
        UNION ALL
        SELECT 3, 'purchase_after_click', CAST(COUNT(*) AS BIGINT) FROM s3)
    SELECT step, step_name, n_users,
           ROUND(n_users * 1.0
                 / FIRST_VALUE(n_users) OVER (ORDER BY step), 9)
               AS conv_from_start
    FROM counts ORDER BY step
    """,
)
def q_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel: users who signed up, then clicked at
    or after their first signup, then purchased at or after that first
    qualifying click — per-step user counts and conversion from the
    funnel top. Order-dependence is the point: a click BEFORE signup
    does not advance the funnel (plain per-type counts would).

    100 TB design: each stage is one conditional aggregate joined to
    the previous stage's user-level (small) output — the event table
    is scanned per stage with a pushed event_type filter and never
    shuffled at event grain; stage outputs are user-level and
    broadcastable."""
    ev = table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("us")
    )
    s1 = (
        ev.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("us").alias("t1"))
    )
    s2 = (
        ev.where(F.col("event_type") == "click")
        .join(s1, "user_id")
        .where(F.col("us") >= F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("us").alias("t2"))
    )
    s3 = (
        ev.where(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .where(F.col("us") >= F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("us").alias("t3"))
    )
    counts = None
    for step, name, df in (
        (1, "signup", s1),
        (2, "click_after_signup", s2),
        (3, "purchase_after_click", s3),
    ):
        row = df.agg(
            F.lit(step).alias("step"),
            F.lit(name).alias("step_name"),
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
        )
        counts = row if counts is None else counts.unionByName(row)
    w = Window.orderBy("step")
    return (
        counts.withColumn(
            "conv_from_start",
            F.round(
                F.col("n_users") * 1.0 / F.first("n_users").over(w), 9
            ),
        )
        .orderBy("step")
    )


# ---------------------------------------------------------------------------
# CDC upsert (MERGE INTO shape): apply a change batch (insert / update /
# delete ops with per-key sequence numbers) to a snapshot — the
# lakehouse incremental-maintenance primitive behind Delta/Iceberg
# MERGE and every periodically re-crawled corpus. Latest-wins within
# the batch (a key can carry several changes; the highest seq applies).
#
# Scale shape: the change batch is orders of magnitude smaller than the
# snapshot, so the merge is latest-wins window over the CHANGES only
# (tiny shuffle) → broadcast anti-join to drop superseded snapshot rows
# (the 100 TB snapshot scan stays shuffle-free) → union the applied
# upserts. Never a full-outer join — Spark cannot broadcast full-outer,
# so the naive MERGE formulation forces a sort-merge shuffle of the
# whole snapshot.
# ---------------------------------------------------------------------------


@query(
    "q_cdc_upsert",
    """
    WITH changes AS (
        SELECT doc_id AS key, lang, text || ' [rev2]' AS text,
               'U' AS op, 1 AS seq
        FROM documents WHERE doc_id % 10 = 0
        UNION ALL
        SELECT doc_id, lang, text || ' [rev3]', 'U', 2
        FROM documents WHERE doc_id % 20 = 0
        UNION ALL
        SELECT doc_id, lang, CAST(NULL AS VARCHAR), 'D', 1
        FROM documents WHERE doc_id % 10 = 1
        UNION ALL
        SELECT doc_id + 100000, lang, 'new ' || text, 'I', 1
        FROM documents WHERE doc_id % 25 = 0),
    latest AS (
        SELECT key, lang, text, op FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY key
                                         ORDER BY seq DESC) AS rk
            FROM changes) s
        WHERE rk = 1),
    kept AS (
        SELECT d.doc_id, d.lang, len(d.text) AS n_chars,
               'kept' AS status
        FROM documents d
        WHERE NOT EXISTS (SELECT 1 FROM latest l WHERE l.key = d.doc_id)),
    applied AS (
        SELECT key AS doc_id, lang, len(text) AS n_chars,
               CASE WHEN op = 'I' THEN 'inserted'
                    ELSE 'updated' END AS status
        FROM latest WHERE op <> 'D')
    SELECT doc_id, lang, n_chars, status FROM kept
    UNION ALL
    SELECT doc_id, lang, n_chars, status FROM applied
    ORDER BY doc_id
    """,
)
def q_cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply a deterministic CDC batch to the documents snapshot:
    every %10 key gets an update (a %20 subset gets a SECOND update —
    latest-wins must pick seq 2), every %10+1 key is deleted, and %25
    keys re-arrive as inserts under new ids. Emits the next snapshot
    (doc_id, lang, n_chars, status ∈ kept/updated/inserted); deletes
    and superseded revisions appear nowhere."""
    docs = table(spark, sf_dir, "documents")
    did = F.col("doc_id")

    def ch(cond, key, text, op, seq):
        return docs.where(cond).select(
            key.alias("key"),
            "lang",
            text.alias("text"),
            F.lit(op).alias("op"),
            F.lit(seq).alias("seq"),
        )

    changes = (
        ch(did % 10 == 0, did, F.concat("text", F.lit(" [rev2]")), "U", 1)
        .unionByName(
            ch(did % 20 == 0, did, F.concat("text", F.lit(" [rev3]")), "U", 2)
        )
        .unionByName(
            ch(did % 10 == 1, did, F.lit(None).cast("string"), "D", 1)
        )
        .unionByName(
            ch(
                did % 25 == 0,
                did + 100000,
                F.concat(F.lit("new "), "text"),
                "I",
                1,
            )
        )
    )
    w = Window.partitionBy("key").orderBy(F.desc("seq"))
    latest = (
        changes.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .drop("rk", "seq")
    )
    kept = docs.join(
        latest.select("key"),
        docs.doc_id == F.col("key"),
        "left_anti",
    ).select(
        "doc_id",
        "lang",
        F.length("text").cast("long").alias("n_chars"),
        F.lit("kept").alias("status"),
    )
    applied = latest.where(F.col("op") != "D").select(
        F.col("key").alias("doc_id"),
        "lang",
        F.length("text").cast("long").alias("n_chars"),
        F.when(F.col("op") == "I", "inserted")
        .otherwise("updated")
        .alias("status"),
    )
    return kept.unionByName(applied)


# ---------------------------------------------------------------------------
# Batch sessionization (gaps-and-islands with explicit session ids):
# the batch twin of the streaming session_window — assigns a stable
# per-user session id via "new-session flag → running sum", then rolls
# sessions up. One shuffle (partition by user), two window passes over
# it (LAG then cumulative SUM share the same partitioning — Spark
# plans them in a single Window stage pair without a second Exchange).
# ---------------------------------------------------------------------------

_GAP_US = 30 * 60 * 1000000  # 30-minute inactivity gap


@query(
    "q_sessionize_events",
    f"""
    WITH {EVENTS_US_CTE},
    seq AS (
        SELECT user_id, epoch_ns(ts)//1000 AS us
        FROM events_us WHERE user_id < 50),
    flagged AS (
        SELECT user_id, us,
               CASE WHEN us - LAG(us) OVER w > {_GAP_US}
                    OR LAG(us) OVER w IS NULL THEN 1 ELSE 0 END AS new_s
        FROM seq
        WINDOW w AS (PARTITION BY user_id ORDER BY us)),
    sess AS (
        SELECT user_id, us,
               SUM(new_s) OVER (PARTITION BY user_id ORDER BY us
                    ROWS UNBOUNDED PRECEDING) AS session_id
        FROM flagged)
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           COUNT(*) AS n_events,
           CAST(MAX(us) - MIN(us) AS BIGINT) AS dur_us
    FROM sess GROUP BY user_id, session_id
    ORDER BY user_id, session_id
    """,
)
def q_sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(user, session) event counts and durations under a 30-minute
    inactivity gap, session ids from the gaps-and-islands running sum
    (users < 50 to bound the report)."""
    ev = table(spark, sf_dir, "events")
    seq = ev.where(F.col("user_id") < 50).select(
        "user_id", F.unix_micros("ts").alias("us")
    )
    w = Window.partitionBy("user_id").orderBy("us")
    wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    lag = F.lag("us").over(w)
    flagged = seq.withColumn(
        "new_s",
        F.when(lag.isNull() | (F.col("us") - lag > _GAP_US), 1).otherwise(0),
    )
    sess = flagged.withColumn(
        "session_id", F.sum("new_s").over(wcum).cast("long")
    )
    return (
        sess.groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.max("us") - F.min("us")).cast("long").alias("dur_us"),
        )
    )


# ---------------------------------------------------------------------------
# Snapshot time travel — lakehouse MVCC reads from a file manifest.
# A table format (Delta/Iceberg/Hudi) is at heart a manifest of
# (file, added_snapshot, removed_snapshot) rows; "read table AS OF S"
# is a manifest filter, never a data rewrite. This operator derives a
# 4-snapshot history over the orders table and reconstructs every
# snapshot's state from one manifest join.
# ---------------------------------------------------------------------------

_TT_FILES = 12
_TT_SNAPSHOTS = 4


@query(
    "q_snapshot_time_travel",
    f"""
    WITH data AS (
        SELECT o_orderkey % {_TT_FILES} AS file_id, o_totalprice
        FROM orders),
    manifest AS (
        SELECT file_id,
               (file_id % 3) + 1 AS added_snap,
               CASE WHEN file_id % 4 = 0 THEN 3 ELSE NULL END
                   AS removed_snap
        FROM (SELECT UNNEST(range(0, {_TT_FILES})) AS file_id)),
    snaps AS (SELECT UNNEST(range(1, {_TT_SNAPSHOTS} + 1)) AS snapshot),
    visible AS (
        SELECT s.snapshot, m.file_id
        FROM snaps s JOIN manifest m
          ON m.added_snap <= s.snapshot
         AND (m.removed_snap IS NULL OR m.removed_snap > s.snapshot))
    SELECT v.snapshot,
           CAST(COUNT(DISTINCT v.file_id) AS BIGINT) AS n_files,
           CAST(COUNT(d.o_totalprice) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(d.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS total_price
    FROM visible v JOIN data d ON d.file_id = v.file_id
    GROUP BY v.snapshot ORDER BY v.snapshot
    """,
)
def q_snapshot_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reconstruct the orders table's state AS OF each of 4 snapshots
    from an MVCC file manifest (files added across snapshots 1-3, a
    delete at snapshot 3 retires every 4th file): per-snapshot visible
    file count, row count, decimal-exact revenue. Snapshot semantics —
    a later snapshot sees adds and deletes, an earlier one sees
    neither — fall out of the (added, removed] interval filter, the
    exact mechanism behind Delta/Iceberg time travel.

    100 TB design: the manifest is KB-sized and broadcasts; the data
    scan reads each live file ONCE per snapshot it serves via the
    manifest join (in a real table format the join is file PRUNING at
    planning time — the engine never opens dead files; here file_id is
    the partition-key analog)."""
    orders = table(spark, sf_dir, "orders")
    data = orders.select(
        (F.col("o_orderkey") % _TT_FILES).alias("file_id"), "o_totalprice"
    )
    manifest = spark.range(_TT_FILES).select(
        F.col("id").alias("file_id"),
        ((F.col("id") % 3) + 1).alias("added_snap"),
        F.when(F.col("id") % 4 == 0, F.lit(3))
        .otherwise(F.lit(None).cast("long"))
        .alias("removed_snap"),
    )
    snaps = spark.range(1, _TT_SNAPSHOTS + 1).select(
        F.col("id").alias("snapshot")
    )
    visible = snaps.join(
        manifest,
        (F.col("added_snap") <= F.col("snapshot"))
        & (
            F.col("removed_snap").isNull()
            | (F.col("removed_snap") > F.col("snapshot"))
        ),
    ).select("snapshot", "file_id")
    return (
        data.join(visible, "file_id")
        .groupBy("snapshot")
        .agg(
            F.countDistinct("file_id").alias("n_files"),
            F.count("o_totalprice").alias("n_rows"),
            F.expr(
                "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)"
            ).alias("total_price"),
        )
    )


# ---------------------------------------------------------------------------
# SCD Type-2 temporal dimension join — enrich facts with the dimension
# VERSION that was valid at event time. The classic warehouse join
# (distinct from q_asof_join's forward-fill: here the dimension carries
# explicit [valid_from, valid_to) intervals and a fact outside every
# interval gets NULL, not the last value).
# ---------------------------------------------------------------------------

@query(
    "q_scd2_join",
    """
    WITH dim AS (
        SELECT c_custkey AS key, v AS version,
               DATE '1995-01-01' + INTERVAL ((v - 1) * 730) DAY AS valid_from,
               CASE WHEN v < ((c_custkey % 3) + 1)
                    THEN DATE '1995-01-01' + INTERVAL (v * 730) DAY
                    ELSE DATE '9999-01-01' END AS valid_to,
               c_mktsegment || '_v' || CAST(v AS VARCHAR) AS segment
        FROM customer,
             (SELECT UNNEST(range(1, 4)) AS v)
        WHERE v <= (c_custkey % 3) + 1),
    facts AS (
        SELECT o_orderkey, o_custkey, CAST(o_orderdate AS DATE) AS d,
               o_totalprice
        FROM orders WHERE o_orderkey % 97 = 0)
    SELECT f.o_orderkey, f.o_custkey,
           strftime(f.d, '%Y-%m-%d') AS order_date,
           d.version, d.segment,
           f.o_totalprice AS price
    FROM facts f LEFT JOIN dim d
      ON d.key = f.o_custkey
     AND f.d >= d.valid_from AND f.d < d.valid_to
    ORDER BY o_orderkey
    """,
)
def q_scd2_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension Type 2 join: each customer carries
    1-3 historical versions with [valid_from, valid_to) intervals
    (730-day epochs from 1995, last version open-ended); every sampled
    order picks up the version valid on its order date via
    key-equality + interval containment. LEFT so a fact predating
    every version surfaces as NULL rather than vanishing — the
    auditability property warehouse pipelines rely on.

    100 TB shape: equi-join on the customer key does the heavy
    lifting (hash join, dimension broadcast here); the interval
    predicate is a residual filter on the matched pairs — never a
    range cross-join, because SCD2 guarantees at most a handful of
    versions per key."""
    cust = table(spark, sf_dir, "customer")
    dim = (
        cust.select(
            F.col("c_custkey").alias("key"),
            "c_mktsegment",
            F.explode(
                F.sequence(F.lit(1), (F.col("c_custkey") % 3 + 1).cast("int"))
            ).alias("version"),
        )
        .select(
            "key",
            "version",
            F.expr(
                "date_add(DATE '1995-01-01', (version - 1) * 730)"
            ).alias("valid_from"),
            F.expr(
                "CASE WHEN version < (key % 3) + 1"
                " THEN date_add(DATE '1995-01-01', version * 730)"
                " ELSE DATE '9999-01-01' END"
            ).alias("valid_to"),
            F.concat(
                "c_mktsegment", F.lit("_v"), F.col("version").cast("string")
            ).alias("segment"),
        )
    )
    facts = (
        table(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") % 97 == 0)
        .select(
            "o_orderkey",
            "o_custkey",
            F.col("o_orderdate").cast("date").alias("d"),
            "o_totalprice",
        )
    )
    return (
        facts.join(
            dim,
            (F.col("key") == F.col("o_custkey"))
            & (F.col("d") >= F.col("valid_from"))
            & (F.col("d") < F.col("valid_to")),
            "left",
        )
        .select(
            "o_orderkey",
            "o_custkey",
            F.date_format("d", "yyyy-MM-dd").alias("order_date"),
            "version",
            "segment",
            F.col("o_totalprice").alias("price"),
        )
    )


# ---------------------------------------------------------------------------
# Global row numbering WITHOUT a single-partition window — the
# two-pass offset idiom: a naive ROW_NUMBER() OVER (ORDER BY ...)
# funnels the entire table through ONE partition; the scalable form
# range-partitions on the sort key, ranks locally, and adds broadcast
# per-partition offsets. Output is identical; the plan never
# serializes the corpus through one task.
# ---------------------------------------------------------------------------

@query(
    "q_global_rownum",
    """
    WITH numbered AS (
        SELECT l_orderkey, l_linenumber,
               ROW_NUMBER() OVER (ORDER BY l_orderkey, l_linenumber) AS rn
        FROM lineitem)
    SELECT CAST(rn % 5000 AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(rn) AS BIGINT) AS rn_sum,
           CAST(MIN(rn) AS BIGINT) AS rn_min,
           CAST(MAX(rn) AS BIGINT) AS rn_max,
           CAST(SUM(l_orderkey) AS BIGINT) AS key_sum
    FROM numbered GROUP BY bucket ORDER BY bucket LIMIT 40
    """,
)
def q_global_rownum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense global row numbers over (l_orderkey, l_linenumber) order,
    computed scalably: range-repartition on the sort key, rank WITHIN
    each partition (window partitioned by spark_partition_id — never a
    global single-partition window), then add each partition's
    broadcast cumulative offset. The rollup checksums (per rn%5000
    bucket) are order-derived, so any numbering error — a gap, a
    duplicate, a misordered partition boundary — breaks the hash.

    The oracle computes the same numbers with the naive global window;
    at 100 TB only the two-pass form survives (the per-partition
    counts are a few KB driver-side; everything else stays
    distributed)."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber"
    )
    parted = li.repartitionByRange(
        range_parts(li), "l_orderkey", "l_linenumber"
    )
    with_pid = parted.withColumn("_pid", F.spark_partition_id())
    # per-partition counts -> cumulative offsets (tiny, one narrow agg)
    offsets = (
        with_pid.groupBy("_pid")
        .agg(F.count(F.lit(1)).alias("_n"))
        .withColumn(
            "_offset",
            F.expr(
                "COALESCE(SUM(_n) OVER (ORDER BY _pid ROWS BETWEEN"
                " UNBOUNDED PRECEDING AND 1 PRECEDING), 0)"
            ),
        )
        .select("_pid", "_offset")
    )
    w_local = Window.partitionBy("_pid").orderBy("l_orderkey", "l_linenumber")
    numbered = (
        with_pid.withColumn("_local_rn", F.row_number().over(w_local))
        .join(F.broadcast(offsets), "_pid")
        .withColumn("rn", F.col("_local_rn") + F.col("_offset"))
    )
    return (
        numbered.groupBy((F.col("rn") % 5000).cast("bigint").alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("rn").cast("bigint").alias("rn_sum"),
            F.min("rn").cast("bigint").alias("rn_min"),
            F.max("rn").cast("bigint").alias("rn_max"),
            F.sum("l_orderkey").cast("bigint").alias("key_sum"),
        )
        .orderBy("bucket")
        .limit(40)
    )


# ---------------------------------------------------------------------------
# Native batch session_window — the same 30-minute sessionization as
# q_sessionize_events, but through Spark's built-in session_window
# aggregation (the operator Structured Streaming shares) instead of
# the hand-rolled gaps-and-islands window. The oracle still computes
# sessions by gaps-and-islands — two different algorithms, one answer.
# ---------------------------------------------------------------------------

@query(
    "q_session_window_native",
    f"""
    WITH {EVENTS_US_CTE},
    seq AS (
        SELECT user_id, epoch_ns(ts)//1000 AS us
        FROM events_us WHERE user_id < 40),
    flagged AS (
        SELECT user_id, us,
               CASE WHEN us - LAG(us) OVER (PARTITION BY user_id
                                            ORDER BY us) > {_GAP_US}
                    OR LAG(us) OVER (PARTITION BY user_id
                                     ORDER BY us) IS NULL
                    THEN 1 ELSE 0 END AS new_s
        FROM seq),
    sess AS (
        SELECT user_id, us,
               SUM(new_s) OVER (PARTITION BY user_id ORDER BY us
                                ROWS UNBOUNDED PRECEDING) AS sid
        FROM flagged)
    SELECT user_id,
           strftime(make_timestamp(MIN(us)), '%Y-%m-%d %H:%M:%S')
               AS session_start,
           strftime(make_timestamp(MAX(us) + {_GAP_US}),
                    '%Y-%m-%d %H:%M:%S') AS session_end,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM sess GROUP BY user_id, sid
    ORDER BY user_id, session_start
    """,
)
def q_session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization through the NATIVE ``session_window`` aggregate
    (dynamic-gap session merging inside the engine — the exact
    operator Structured Streaming's session windows use, exercised
    here in batch): per (user, session) start, end (last event +
    30-min gap, Spark's session_window.end convention, which the
    oracle mirrors), and event count. The oracle derives the identical
    sessions by gaps-and-islands — two algorithms, one answer.

    100 TB shape: one shuffle on user_id; session merging is local to
    each key's sorted run, no self-join."""
    ev = table(spark, sf_dir, "events").where(F.col("user_id") < 40)
    # the catalog already normalizes the INT64-nanos column to a
    # microsecond TIMESTAMP named ts
    return (
        ev.select("user_id", F.col("ts").alias("t"))
        .groupBy(
            "user_id",
            F.session_window("t", f"{_GAP_US // 1000000} seconds"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.date_format("session_window.start", "yyyy-MM-dd HH:mm:ss")
            .alias("session_start"),
            F.date_format("session_window.end", "yyyy-MM-dd HH:mm:ss")
            .alias("session_end"),
            "n_events",
        )
    )


# ---------------------------------------------------------------------------
# Shared basket artifacts (r12) — q_frequent_triples,
# q_association_rules and q_itemitem_cf each rebuilt the identical
# distinct-(order, part) table AND its full (p1 < p2, count)
# co-occurrence rollup (the triples query twice over); one bench pass
# paid ~3x for one candidate set. Materialize both ONCE per
# (session, sf_dir) and share them — the lsh_pairs_cached shape
# (VERDICT r8 task 4): one candidate generation, many readouts. The
# co table is UNthresholded so every consumer's support cut is a
# filter over the checkpoint; results are identical by construction
# (same dataflow, same counts) and every consumer's oracle recomputes
# its own set in SQL. Dead-session entries are unpersisted like
# dedup._PAIRS_CACHE. q_frequent_pairs intentionally does NOT consume
# this: its row-local basket-explode pair generation is itself the
# operator under test (the no-self-join 100 TB story its docstring
# documents).
# ---------------------------------------------------------------------------

_BASKET_CACHE: dict[tuple, DataFrame] = {}


def _basket_cached(spark: SparkSession, sf_dir: str, what: str) -> DataFrame:
    import os

    app_id = spark.sparkContext.applicationId
    for stale in [kk for kk in _BASKET_CACHE if kk[0] != app_id]:
        try:
            _BASKET_CACHE.pop(stale).unpersist()
        except Exception:
            pass  # dead JVM handle — dropping the reference is enough
    key = (app_id, os.path.realpath(str(sf_dir)), what)
    cached = _BASKET_CACHE.get(key)
    if cached is not None:
        return cached
    if what == "items":
        li = table(spark, sf_dir, "lineitem")
        df = (
            li.select(
                F.col("l_orderkey").alias("o"),
                F.col("l_partkey").alias("p"),
            )
            .distinct()
            .localCheckpoint(eager=True)
        )
    else:  # "co": full co-occurrence counts, no support threshold
        b = _basket_cached(spark, sf_dir, "items")
        b1 = b.select("o", F.col("p").alias("pa"))
        b2 = b.select(F.col("o").alias("o2"), F.col("p").alias("pb"))
        df = (
            b1.join(
                b2,
                (F.col("o") == F.col("o2")) & (F.col("pa") < F.col("pb")),
            )
            .groupBy(F.col("pa").alias("p1"), F.col("pb").alias("p2"))
            .agg(F.count(F.lit(1)).alias("c"))
            .localCheckpoint(eager=True)
        )
    return _BASKET_CACHE.setdefault(key, df)


def basket_items_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (order, part) basket rows, checkpointed once per
    (session, sf_dir)."""
    return _basket_cached(spark, sf_dir, "items")


def basket_co_counts_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full (p1 < p2, c) basket co-occurrence counts, checkpointed once
    per (session, sf_dir); consumers apply their own support cut."""
    return _basket_cached(spark, sf_dir, "co")


# ---------------------------------------------------------------------------
# Frequent co-ordered pairs (market-basket support/lift) — the
# association-rules primitive over order baskets. Baskets are small
# (TPC-H orders hold <= 7 lines), so pair GENERATION is row-local
# (combinations inside the collected basket array — no self-join of
# the item stream); only the support counts shuffle.
# ---------------------------------------------------------------------------

_MB_MIN_SUPPORT = 3


@query(
    "q_frequent_pairs",
    f"""
    WITH baskets AS (
        SELECT l_orderkey, list_sort(list(DISTINCT l_partkey)) AS items
        FROM lineitem GROUP BY l_orderkey),
    n_baskets AS (SELECT COUNT(*) AS nb FROM baskets),
    pairs AS (
        SELECT items[i] AS part_a, items[j] AS part_b
        FROM baskets,
             UNNEST(range(1, len(items) + 1)) AS t1(i),
             UNNEST(range(1, len(items) + 1)) AS t2(j)
        WHERE i < j),
    pair_support AS (
        SELECT part_a, part_b, COUNT(*) AS support
        FROM pairs GROUP BY part_a, part_b
        HAVING COUNT(*) >= {_MB_MIN_SUPPORT}),
    item_support AS (
        SELECT part, COUNT(*) AS item_sup FROM (
            SELECT l_orderkey, l_partkey AS part FROM lineitem
            GROUP BY l_orderkey, l_partkey)
        GROUP BY part)
    SELECT p.part_a, p.part_b, CAST(p.support AS BIGINT) AS support,
           ROUND(CAST(p.support AS DOUBLE) * nb
                 / (CAST(sa.item_sup AS DOUBLE) * sb.item_sup), 9) AS lift
    FROM pair_support p
    JOIN item_support sa ON p.part_a = sa.part
    JOIN item_support sb ON p.part_b = sb.part
    CROSS JOIN n_baskets
    ORDER BY support DESC, part_a, part_b LIMIT 30
    """,
)
def q_frequent_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top co-ordered part pairs with support >= {_MB_MIN_SUPPORT} and
    exact lift (support·N / (sup_a·sup_b)) — the association-rules
    primitive. Pair generation is ROW-LOCAL: each order's distinct
    sorted part list expands to its own combinations inside the row (a
    flatten/transform HOF over the basket array), so the quadratic
    step is bounded by basket size squared, never a self-join of the
    item stream; the only shuffles are the basket collect and the
    support counts (both partial-aggregated). Lift is one fixed IEEE
    expression over exact integer counts, rounded 1e-9."""
    li = table(spark, sf_dir, "lineitem")
    baskets = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("items")
    )
    nb = baskets.agg(F.count(F.lit(1)).alias("nb"))
    pairs = baskets.select(
        F.explode(
            F.expr(
                """flatten(transform(items, (x, i) ->
                     transform(slice(items, i + 2, size(items)),
                               y -> struct(x AS part_a, y AS part_b))))"""
            )
        ).alias("p")
    ).select("p.part_a", "p.part_b")
    pair_support = (
        pairs.groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("support"))
        .where(F.col("support") >= _MB_MIN_SUPPORT)
    )
    item_support = (
        li.select("l_orderkey", F.col("l_partkey").alias("part"))
        .distinct()
        .groupBy("part")
        .agg(F.count(F.lit(1)).alias("item_sup"))
    )
    sa = item_support.select(
        F.col("part").alias("part_a"), F.col("item_sup").alias("sup_a")
    )
    sb = item_support.select(
        F.col("part").alias("part_b"), F.col("item_sup").alias("sup_b")
    )
    return (
        pair_support.join(sa, "part_a")
        .join(sb, "part_b")
        .crossJoin(F.broadcast(nb))
        .select(
            "part_a",
            "part_b",
            F.col("support").cast("bigint").alias("support"),
            F.round(
                F.col("support").cast("double")
                * F.col("nb")
                / (F.col("sup_a").cast("double") * F.col("sup_b")),
                9,
            ).alias("lift"),
        )
        .orderBy(F.desc("support"), "part_a", "part_b")
        .limit(30)
    )


# ---------------------------------------------------------------------------
# Global dictionary encoding — dense integer ids for a string column,
# built WITHOUT a single-partition window (the q_global_rownum two-pass
# idiom over the distinct-value table) and applied back to the corpus.
# The column-store/feature-store primitive: orderable, joinable,
# shuffle-narrow codes instead of strings.
# ---------------------------------------------------------------------------

@query(
    "q_dictionary_encode",
    """
    WITH dict AS (
        SELECT term, ROW_NUMBER() OVER (ORDER BY term) - 1 AS code
        FROM (SELECT DISTINCT UNNEST(string_split(text, ' ')) AS term
              FROM documents WHERE doc_id < 200)),
    encoded AS (
        SELECT doc_id, code
        FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS term
              FROM documents WHERE doc_id < 200) t
        JOIN dict USING (term))
    SELECT CAST(doc_id % 20 AS BIGINT) AS doc_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(code) AS BIGINT) AS code_sum,
           CAST(MIN(code) AS BIGINT) AS code_min,
           CAST(MAX(code) AS BIGINT) AS code_max
    FROM encoded GROUP BY doc_bucket ORDER BY doc_bucket
    """,
)
def q_dictionary_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global dense-id dictionary over the token vocabulary (ids 0..V-1
    in lexicographic order), built with the scalable two-pass idiom —
    range-partition the distinct terms, rank locally by partition id,
    add broadcast cumulative offsets (never ROW_NUMBER over one
    partition) — then applied back to the token stream by a dictionary
    join. Checksums over the encoded stream (sum/min/max of codes per
    doc bucket) pin both the id assignment AND the application join;
    the oracle builds the same dictionary with the naive global
    window."""
    docs = table(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    tokens = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    )
    terms = tokens.select("term").distinct()
    parted = terms.repartitionByRange(range_parts(terms), "term").withColumn(
        "_pid", F.spark_partition_id()
    )
    offsets = (
        parted.groupBy("_pid")
        .agg(F.count(F.lit(1)).alias("_n"))
        .withColumn(
            "_offset",
            F.expr(
                "COALESCE(SUM(_n) OVER (ORDER BY _pid ROWS BETWEEN"
                " UNBOUNDED PRECEDING AND 1 PRECEDING), 0)"
            ),
        )
        .select("_pid", "_offset")
    )
    w_local = Window.partitionBy("_pid").orderBy("term")
    dictionary = (
        parted.withColumn("_rn", F.row_number().over(w_local))
        .join(F.broadcast(offsets), "_pid")
        .select(
            "term", (F.col("_rn") - 1 + F.col("_offset")).alias("code")
        )
    )
    encoded = tokens.join(dictionary, "term")
    return (
        encoded.groupBy((F.col("doc_id") % 20).alias("doc_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("code").cast("bigint").alias("code_sum"),
            F.min("code").cast("bigint").alias("code_min"),
            F.max("code").cast("bigint").alias("code_max"),
        )
    )


# ---------------------------------------------------------------------------
# First/last-touch attribution — which channel opened and which closed
# each converting journey: first_value/last_value over the pre-purchase
# event window, the marketing-attribution primitive.
# ---------------------------------------------------------------------------

@query(
    "q_touch_attribution",
    f"""
    WITH {EVENTS_US_CTE},
    purchases AS (
        SELECT user_id, MIN(epoch_ns(ts)//1000) AS first_purchase_us
        FROM events_us WHERE event_type = 'purchase'
        GROUP BY user_id),
    pre AS (
        SELECT e.user_id, e.event_type, epoch_ns(e.ts)//1000 AS us,
               e.event_id
        FROM events_us e JOIN purchases p ON e.user_id = p.user_id
        WHERE epoch_ns(e.ts)//1000 < p.first_purchase_us
          AND e.event_type IN ('click', 'view', 'signup')),
    touched AS (
        SELECT user_id,
               first_value(event_type)
                   OVER (PARTITION BY user_id ORDER BY us, event_id)
                   AS first_touch,
               last_value(event_type)
                   OVER (PARTITION BY user_id ORDER BY us, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND UNBOUNDED FOLLOWING) AS last_touch
        FROM pre)
    SELECT first_touch, last_touch,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM touched
    GROUP BY first_touch, last_touch
    ORDER BY first_touch, last_touch
    """,
)
def q_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch x last-touch attribution matrix over converting
    users: for each user with a purchase, the earliest and latest
    engagement channel (click/view/signup) strictly before their first
    purchase, then user counts per (opener, closer) pair. One shuffle
    on user_id; both touches come from the same sorted window pass."""
    ev = table(spark, sf_dir, "events")
    base = ev.select(
        "user_id", "event_type", "event_id",
        F.col("ts_ns").alias("ns"),
    ).withColumn("us", F.expr("CAST(ns DIV 1000 AS BIGINT)"))
    purchases = (
        base.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("us").alias("first_purchase_us"))
    )
    pre = (
        base.join(purchases, "user_id")
        .where(
            (F.col("us") < F.col("first_purchase_us"))
            & F.col("event_type").isin("click", "view", "signup")
        )
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    touched = pre.select(
        "user_id",
        F.first("event_type").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ).alias("first_touch"),
        F.last("event_type").over(
            w.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("last_touch"),
    )
    return (
        touched.groupBy("first_touch", "last_touch")
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


# ---------------------------------------------------------------------------
# Interval max-concurrency (sweep line) — peak simultaneous open
# intervals per lane: the occupancy/scheduling primitive (max open
# sessions, concurrent jobs, overlapping reservations), computed as
# +1/-1 events and a running sum — never an interval self-join.
# ---------------------------------------------------------------------------

@query(
    "q_max_concurrency",
    """
    WITH intervals AS (
        SELECT o_orderpriority AS lane,
               CAST(o_orderdate AS DATE) AS s,
               CAST(o_orderdate AS DATE)
                   + INTERVAL ((o_orderkey % 30) + 1) DAY AS e
        FROM orders),
    ev AS (
        SELECT lane, s AS t, 1 AS delta FROM intervals
        UNION ALL
        SELECT lane, CAST(e AS DATE), -1 FROM intervals),
    swept AS (
        SELECT lane, t,
               SUM(delta) OVER (PARTITION BY lane
                                ORDER BY t, delta
                                ROWS UNBOUNDED PRECEDING) AS open_now
        FROM ev),
    peak AS (
        SELECT lane, MAX(open_now) AS max_open FROM swept GROUP BY lane)
    SELECT p.lane, CAST(p.max_open AS BIGINT) AS max_open,
           strftime(MIN(s.t), '%Y-%m-%d') AS first_peak_date
    FROM peak p JOIN swept s
      ON s.lane = p.lane AND s.open_now = p.max_open
    GROUP BY p.lane, p.max_open
    ORDER BY p.lane
    """,
)
def q_max_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak simultaneous open orders per priority lane ([start, end)
    intervals with deterministic durations): sweep line — explode each
    interval into a +1 start and a -1 end event, running sum per lane
    ordered by (time, delta) so closures at time t apply before opens
    (half-open semantics), max + earliest peak date. One shuffle on
    the lane; the per-lane cumsum replaces the O(n²) interval
    self-join a naive overlap count would run."""
    orders = table(spark, sf_dir, "orders")
    iv = orders.select(
        F.col("o_orderpriority").alias("lane"),
        F.col("o_orderdate").cast("date").alias("s"),
        F.expr(
            "date_add(CAST(o_orderdate AS DATE),"
            " CAST((o_orderkey % 30) + 1 AS INT))"
        ).alias("e"),
    )
    ev = iv.select("lane", F.col("s").alias("t"), F.lit(1).alias("delta")) \
        .unionAll(
            iv.select("lane", F.col("e").alias("t"),
                      F.lit(-1).alias("delta"))
        )
    # r12: the former peak-then-join-back form evaluated the whole
    # swept cumsum subplan TWICE (once under the per-lane MAX
    # aggregate, once as the join probe side — two window sorts over
    # the full event list). The per-lane peak is itself a window over
    # the SAME partitioning, so both ride one Exchange + one Sort and
    # the argmax becomes a row-local filter (guide §2.4 "window
    # functions partitioned by the same key ... do not need a second
    # shuffle"; interleaved A/B in OPTIMIZATION_r13.md §9, row
    # ab_maxconc.py).
    swept = ev.select(
        "lane",
        "t",
        F.expr(
            "SUM(delta) OVER (PARTITION BY lane ORDER BY t, delta"
            " ROWS UNBOUNDED PRECEDING)"
        ).alias("open_now"),
    ).withColumn(
        "max_open",
        F.max("open_now").over(Window.partitionBy("lane")),
    )
    return (
        swept.where(F.col("open_now") == F.col("max_open"))
        .groupBy("lane", "max_open")
        .agg(F.date_format(F.min("t"), "yyyy-MM-dd").alias("first_peak_date"))
        .select(
            "lane",
            F.col("max_open").cast("bigint").alias("max_open"),
            "first_peak_date",
        )
    )


# ---------------------------------------------------------------------------
# Merge overlapping intervals — collapse each lane's interval set into
# maximal disjoint spans (coverage windows, outage consolidation,
# availability math): the islands idiom on intervals, one window pass.
# ---------------------------------------------------------------------------

@query(
    "q_merge_intervals",
    """
    WITH intervals AS (
        SELECT o_orderpriority AS lane,
               CAST(o_orderdate AS DATE) AS s,
               CAST(CAST(o_orderdate AS DATE)
                    + INTERVAL ((o_orderkey % 30) + 1) DAY AS DATE) AS e
        FROM orders WHERE o_orderkey % 5 = 0),
    flagged AS (
        SELECT lane, s, e,
               CASE WHEN s > MAX(e) OVER (PARTITION BY lane
                                          ORDER BY s, e
                                          ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND 1 PRECEDING)
                    OR MAX(e) OVER (PARTITION BY lane ORDER BY s, e
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING) IS NULL
                    THEN 1 ELSE 0 END AS new_span
        FROM intervals),
    grouped AS (
        SELECT lane, s, e,
               SUM(new_span) OVER (PARTITION BY lane ORDER BY s, e
                                   ROWS UNBOUNDED PRECEDING) AS span_id
        FROM flagged),
    merged AS (
        SELECT lane, span_id,
               MIN(s) AS span_start, MAX(e) AS span_end,
               COUNT(*) AS n_intervals
        FROM grouped GROUP BY lane, span_id)
    SELECT lane,
           CAST(COUNT(*) AS BIGINT) AS n_spans,
           CAST(SUM(n_intervals) AS BIGINT) AS n_intervals,
           CAST(MAX(n_intervals) AS BIGINT) AS largest_span_intervals,
           CAST(SUM(span_end - span_start) AS BIGINT) AS covered_days,
           strftime(MIN(span_start), '%Y-%m-%d') AS first_start
    FROM merged GROUP BY lane ORDER BY lane
    """,
)
def q_merge_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collapse each priority lane's order intervals into maximal
    disjoint coverage spans: an interval starts a new span exactly
    when its start exceeds the running MAX(end) of everything before
    it (sorted by start — the classic merge-intervals invariant),
    islands numbered by the cumulative new-span flag, then per-lane
    span statistics and total covered days. One sort-window pass per
    lane — the O(n log n) shape; no interval self-join."""
    orders = table(spark, sf_dir, "orders")
    iv = orders.where(F.col("o_orderkey") % 5 == 0).select(
        F.col("o_orderpriority").alias("lane"),
        F.col("o_orderdate").cast("date").alias("s"),
        F.expr(
            "date_add(CAST(o_orderdate AS DATE),"
            " CAST((o_orderkey % 30) + 1 AS INT))"
        ).alias("e"),
    )
    prev_max_end = (
        "MAX(e) OVER (PARTITION BY lane ORDER BY s, e"
        " ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)"
    )
    flagged = iv.withColumn(
        "new_span",
        F.expr(
            f"CASE WHEN s > {prev_max_end} OR {prev_max_end} IS NULL"
            f" THEN 1 ELSE 0 END"
        ),
    )
    grouped = flagged.withColumn(
        "span_id",
        F.expr(
            "SUM(new_span) OVER (PARTITION BY lane ORDER BY s, e"
            " ROWS UNBOUNDED PRECEDING)"
        ),
    )
    merged = grouped.groupBy("lane", "span_id").agg(
        F.min("s").alias("span_start"),
        F.max("e").alias("span_end"),
        F.count(F.lit(1)).alias("n_intervals"),
    )
    return (
        merged.groupBy("lane")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum("n_intervals").cast("bigint").alias("n_intervals"),
            F.max("n_intervals")
            .cast("bigint")
            .alias("largest_span_intervals"),
            F.sum(F.datediff("span_end", "span_start"))
            .cast("bigint")
            .alias("covered_days"),
            F.date_format(F.min("span_start"), "yyyy-MM-dd").alias(
                "first_start"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Late-arriving dimension — the warehouse pattern for facts that land
# before their dimension rows: resolve what's resolvable, park the
# rest under a well-known Unknown member, and report the backlog a
# backfill job will reconcile.
# ---------------------------------------------------------------------------

@query(
    "q_late_arriving_dim",
    """
    WITH dim AS (
        -- dimension snapshot missing every 13th customer: those rows
        -- "haven't arrived yet"
        SELECT c_custkey, c_mktsegment FROM customer
        WHERE c_custkey % 13 <> 0),
    enriched AS (
        SELECT o.o_orderkey, o.o_totalprice,
               COALESCE(d.c_mktsegment, 'UNKNOWN') AS segment,
               d.c_custkey IS NULL AS pending
        FROM orders o LEFT JOIN dim d ON o.o_custkey = d.c_custkey)
    SELECT segment,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CASE WHEN pending THEN 1 ELSE 0 END) AS BIGINT)
               AS n_pending,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS revenue
    FROM enriched GROUP BY segment ORDER BY segment
    """,
)
def q_late_arriving_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Early-arriving facts against a dimension snapshot that is
    missing every 13th customer: a LEFT join parks unresolved facts
    under the UNKNOWN member instead of dropping them (the inner-join
    bug silently loses revenue), and the pending count per segment is
    the backlog a dimension backfill reconciles. Decimal-exact revenue
    so the UNKNOWN bucket's total is audit-grade."""
    dim = (
        table(spark, sf_dir, "customer")
        .where(F.col("c_custkey") % 13 != 0)
        .select("c_custkey", "c_mktsegment")
    )
    orders = table(spark, sf_dir, "orders")
    enriched = orders.join(
        dim, F.col("o_custkey") == F.col("c_custkey"), "left"
    ).select(
        F.coalesce("c_mktsegment", F.lit("UNKNOWN")).alias("segment"),
        F.col("c_custkey").isNull().alias("pending"),
        "o_totalprice",
    )
    return (
        enriched.groupBy("segment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("pending").cast("long")).alias("n_pending"),
            F.expr(
                "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)"
            ).alias("revenue"),
        )
        .transform(sort_bounded, "segment")
    )


# ---------------------------------------------------------------------------
# Time-series gap fill by linear interpolation — the numeric companion
# to q_date_spine's zero-fill: build the complete per-entity hourly
# spine, carry the bracketing observations in with two ignorenulls
# window fills (the as-of idiom, both directions), and lerp the gaps.
# Scale shape: one groupBy to hourly grain, one row-explode for the
# spine, two windows PARTITIONED BY user — no global sort, no join
# per gap.
# ---------------------------------------------------------------------------

@query(
    "q_linear_interpolation",
    f"""
    WITH {EVENTS_US_CTE},
    obs AS (
        SELECT user_id,
               (CAST(ts AS DATE) - DATE '2024-01-01') * 24
                   + CAST(strftime(ts, '%H') AS INTEGER) AS h,
               CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
                   / COUNT(value) AS v
        FROM events_us WHERE user_id < 10
        GROUP BY user_id, h),
    bounds AS (SELECT MIN(h) AS h0, MAX(h) AS h1 FROM obs),
    spine AS (
        SELECT u.user_id, gs.h
        FROM (SELECT DISTINCT user_id FROM obs) u
        CROSS JOIN (SELECT UNNEST(generate_series(h0, h1)) AS h
                    FROM bounds) gs),
    joined AS (
        SELECT s.user_id, s.h, o.v
        FROM spine s LEFT JOIN obs o
          ON s.user_id = o.user_id AND s.h = o.h),
    filled AS (
        SELECT user_id, h, v,
               last_value(v IGNORE NULLS) OVER w_prev AS pv,
               last_value(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS)
                   OVER w_prev AS ph,
               first_value(v IGNORE NULLS) OVER w_next AS nv,
               first_value(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS)
                   OVER w_next AS nh
        FROM joined
        WINDOW w_prev AS (PARTITION BY user_id ORDER BY h
                          ROWS UNBOUNDED PRECEDING),
               w_next AS (PARTITION BY user_id ORDER BY h
                          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)),
    classified AS (
        SELECT user_id, h,
               CASE WHEN v IS NOT NULL THEN 'observed'
                    WHEN pv IS NOT NULL AND nv IS NOT NULL
                        THEN 'interpolated'
                    ELSE 'edge' END AS kind,
               CASE WHEN v IS NOT NULL THEN v
                    WHEN pv IS NOT NULL AND nv IS NOT NULL
                        THEN pv + (nv - pv) * (CAST(h - ph AS DOUBLE)
                                               / (nh - ph))
                    ELSE NULL END AS fv
        FROM filled)
    SELECT CAST(user_id AS BIGINT) AS user_id,
           CAST(COUNT(*) AS BIGINT) AS n_hours,
           CAST(COUNT(*) FILTER (WHERE kind = 'observed') AS BIGINT)
               AS n_observed,
           CAST(COUNT(*) FILTER (WHERE kind = 'interpolated') AS BIGINT)
               AS n_interpolated,
           CAST(COUNT(*) FILTER (WHERE kind = 'edge') AS BIGINT) AS n_edge,
           CAST(SUM(CAST(floor(fv * 1000000) AS BIGINT)) AS BIGINT)
               AS fill_checksum_fp
    FROM classified
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def q_linear_interpolation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly gap fill for the first 10 users' event values: hours with
    no events get the linear interpolation between the bracketing
    observed hours (edges stay null and are counted, not invented).
    Parity: hourly means are DECIMAL-routed and the lerp is the same
    IEEE ops on bit-identical doubles in both engines; the checksum is
    FIXED-POINT (sum of floor(fv*1e6) as BIGINT) because casting an
    arbitrary double to DECIMAL is NOT cross-engine stable — Spark
    rounds the shortest decimal repr (BigDecimal.valueOf) where DuckDB
    rounds the exact binary value, so any double whose shortest repr
    ends in '5' one digit past the scale flips (r5 finding; the
    parquet money columns never hit this because they carry only two
    decimals)."""
    ev = table(spark, sf_dir, "events").where(F.col("user_id") < 10)
    obs = (
        ev.select(
            "user_id",
            (
                F.datediff(F.to_date("ts"), F.lit("2024-01-01")) * 24
                + F.hour("ts")
            ).alias("h"),
            "value",
        )
        .groupBy("user_id", "h")
        .agg(
            F.expr(
                "CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)"
                " / COUNT(value)"
            ).alias("v")
        )
    )
    bounds = obs.agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
    spine = (
        obs.select("user_id")
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .select(
            "user_id",
            F.explode(F.sequence(F.col("h0"), F.col("h1"))).alias("h"),
        )
    )
    joined = spine.join(obs, ["user_id", "h"], "left")
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_next = (
        Window.partitionBy("user_id")
        .orderBy("h")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    filled = joined.select(
        "user_id",
        "h",
        "v",
        F.last("v", ignorenulls=True).over(w_prev).alias("pv"),
        F.last(
            F.when(F.col("v").isNotNull(), F.col("h")), ignorenulls=True
        )
        .over(w_prev)
        .alias("ph"),
        F.first("v", ignorenulls=True).over(w_next).alias("nv"),
        F.first(
            F.when(F.col("v").isNotNull(), F.col("h")), ignorenulls=True
        )
        .over(w_next)
        .alias("nh"),
    )
    has_both = F.col("pv").isNotNull() & F.col("nv").isNotNull()
    classified = filled.select(
        "user_id",
        "h",
        F.when(F.col("v").isNotNull(), "observed")
        .when(has_both, "interpolated")
        .otherwise("edge")
        .alias("kind"),
        F.when(F.col("v").isNotNull(), F.col("v"))
        .when(
            has_both,
            F.col("pv")
            + (F.col("nv") - F.col("pv"))
            * (
                (F.col("h") - F.col("ph")).cast("double")
                / (F.col("nh") - F.col("ph"))
            ),
        )
        .alias("fv"),
    )
    return (
        classified.groupBy(F.col("user_id").cast("bigint").alias("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_hours"),
            F.count_if(F.col("kind") == "observed").alias("n_observed"),
            F.count_if(F.col("kind") == "interpolated").alias(
                "n_interpolated"
            ),
            F.count_if(F.col("kind") == "edge").alias("n_edge"),
            F.expr(
                "CAST(SUM(CAST(floor(fv * 1000000) AS BIGINT)) AS BIGINT)"
            ).alias("fill_checksum_fp"),
        )
    )


# ---------------------------------------------------------------------------
# Session path mining — the clickstream-pattern query over the
# sessionization primitive: consecutive event-type transitions inside
# a session (30-min inactivity break), ranked by frequency. The
# bigram build is one lag window per user; no per-session collect, no
# explode of whole paths — transitions stream out of the window
# directly, so path mining costs the same shuffle sessionization
# already pays.
# ---------------------------------------------------------------------------

_PATH_GAP_MIN = 30


@query(
    "q_session_path_ngrams",
    f"""
    WITH {EVENTS_US_CTE},
    ev AS (
        SELECT user_id, event_type, ts, event_id
        FROM events_us WHERE user_id < 200),
    lagged AS (
        SELECT user_id, event_type, ts,
               LAG(event_type) OVER w AS prev_type,
               LAG(ts) OVER w AS prev_ts
        FROM ev
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    transitions AS (
        SELECT prev_type || ' -> ' || event_type AS path
        FROM lagged
        WHERE prev_type IS NOT NULL
          AND epoch_ns(ts) // 1000 - epoch_ns(prev_ts) // 1000
              <= CAST({_PATH_GAP_MIN} AS BIGINT) * 60 * 1000000)
    SELECT path, CAST(COUNT(*) AS BIGINT) AS n
    FROM transitions
    GROUP BY path
    ORDER BY n DESC, path
    LIMIT 15
    """,
)
def q_session_path_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-15 within-session event-type transitions for the first 200
    users (session break = {_PATH_GAP_MIN} min inactivity, the same
    gap rule as q_sessionize_events). The product-analytics 'common
    paths' readout."""
    from pyspark.sql.window import Window

    ev = table(spark, sf_dir, "events").where(F.col("user_id") < 200)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lagged = ev.select(
        "user_id",
        "event_type",
        "ts",
        F.lag("event_type").over(w).alias("prev_type"),
        F.lag("ts").over(w).alias("prev_ts"),
    )
    transitions = lagged.where(
        F.col("prev_type").isNotNull()
        & (
            F.unix_micros(F.col("ts")) - F.unix_micros(F.col("prev_ts"))
            <= _PATH_GAP_MIN * 60 * 1_000_000
        )
    ).select(
        F.concat(
            F.col("prev_type"), F.lit(" -> "), F.col("event_type")
        ).alias("path")
    )
    return (
        transitions.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "path")
        .limit(15)
    )


# ---------------------------------------------------------------------------
# MERGE INTO emulation — the three-clause upsert (WHEN MATCHED UPDATE /
# WHEN MATCHED DELETE / WHEN NOT MATCHED INSERT) as one full-outer
# join + row-local CASE, the portable formulation for formats without
# a native MERGE (plain parquet; Delta/Iceberg run the identical plan
# under their MERGE syntax). Complements q_cdc_upsert (latest-wins
# semantics) with explicit per-clause actions and an action audit.
# ---------------------------------------------------------------------------

@query(
    "q_merge_into_emulation",
    """
    WITH base AS (
        SELECT o_orderkey AS k, o_orderstatus AS status,
               o_totalprice AS price
        FROM orders),
    changes AS (
        SELECT k, op, new_price FROM (
            SELECT o_orderkey AS k, 'D' AS op,
                   CAST(NULL AS DOUBLE) AS new_price
            FROM orders WHERE o_orderkey % 11 = 0
            UNION ALL
            SELECT o_orderkey, 'U', o_totalprice + 100.0
            FROM orders WHERE o_orderkey % 11 <> 0 AND o_orderkey % 7 = 0
            UNION ALL
            SELECT o_orderkey + 90000000, 'I', o_totalprice
            FROM orders WHERE o_orderkey % 13 = 0)),
    merged AS (
        SELECT COALESCE(b.k, c.k) AS k,
               CASE
                 WHEN c.op IS NULL THEN 'keep'
                 WHEN b.k IS NOT NULL AND c.op = 'D' THEN 'delete'
                 WHEN b.k IS NOT NULL AND c.op = 'U' THEN 'update'
                 WHEN b.k IS NULL AND c.op = 'I' THEN 'insert'
                 ELSE 'ignored'
               END AS action,
               CASE
                 WHEN c.op = 'U' THEN c.new_price
                 WHEN c.op = 'I' AND b.k IS NULL THEN c.new_price
                 ELSE b.price
               END AS price
        FROM base b FULL OUTER JOIN changes c ON b.k = c.k)
    SELECT action,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN action <> 'delete'
                    THEN CAST(price AS DECIMAL(18,2)) END) AS DOUBLE)
               AS surviving_price_sum
    FROM merged
    GROUP BY action
    ORDER BY action
    """,
)
def q_merge_into_emulation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply a mixed change batch (deletes on %11 keys, updates on %7,
    inserts re-keyed at +90M) to the orders base with MERGE-INTO
    semantics, reporting per-action counts and the DECIMAL-routed
    price mass that survives into the next snapshot. Unmatched
    non-insert changes land in 'ignored' rather than corrupting the
    table — the audit row a production MERGE job alerts on."""
    o = table(spark, sf_dir, "orders")
    base = o.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").alias("price"),
    )
    deletes = o.where(F.col("o_orderkey") % 11 == 0).select(
        F.col("o_orderkey").alias("k"),
        F.lit("D").alias("op"),
        F.lit(None).cast("double").alias("new_price"),
    )
    updates = o.where(
        (F.col("o_orderkey") % 11 != 0) & (F.col("o_orderkey") % 7 == 0)
    ).select(
        F.col("o_orderkey").alias("k"),
        F.lit("U").alias("op"),
        (F.col("o_totalprice") + 100.0).alias("new_price"),
    )
    inserts = o.where(F.col("o_orderkey") % 13 == 0).select(
        (F.col("o_orderkey") + 90000000).alias("k"),
        F.lit("I").alias("op"),
        F.col("o_totalprice").alias("new_price"),
    )
    changes = deletes.unionByName(updates).unionByName(inserts)
    b = base.alias("b")
    c = changes.alias("c")
    merged = b.join(c, F.col("b.k") == F.col("c.k"), "full_outer").select(
        F.coalesce(F.col("b.k"), F.col("c.k")).alias("k"),
        F.when(F.col("c.op").isNull(), "keep")
        .when(F.col("b.k").isNotNull() & (F.col("c.op") == "D"), "delete")
        .when(F.col("b.k").isNotNull() & (F.col("c.op") == "U"), "update")
        .when(F.col("b.k").isNull() & (F.col("c.op") == "I"), "insert")
        .otherwise("ignored")
        .alias("action"),
        F.when(F.col("c.op") == "U", F.col("c.new_price"))
        .when(
            (F.col("c.op") == "I") & F.col("b.k").isNull(),
            F.col("c.new_price"),
        )
        .otherwise(F.col("b.price"))
        .alias("price"),
    )
    return (
        merged.groupBy("action")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr(
                "CAST(SUM(CASE WHEN action <> 'delete'"
                " THEN CAST(price AS DECIMAL(18,2)) END) AS DOUBLE)"
            ).alias("surviving_price_sum"),
        )
    )


# ---------------------------------------------------------------------------
# Time-weighted average (TWAP) — irregularly-sampled telemetry means
# done right: each observation is weighted by how long it was the
# current value (interval to the next sample). One lead window per
# entity; the weighted sums stay in EXACT integers (fixed-point value
# x microsecond interval), so the statistic is engine-exact with no
# decimal routing at all.
# ---------------------------------------------------------------------------

@query(
    "q_time_weighted_avg",
    f"""
    WITH {EVENTS_US_CTE},
    ev AS (
        SELECT user_id, value, epoch_ns(ts) // 1000 AS t_us, event_id
        FROM events_us WHERE user_id < 50),
    stepped AS (
        SELECT user_id, value, t_us,
               LEAD(t_us) OVER (PARTITION BY user_id
                                ORDER BY t_us, event_id) AS next_us
        FROM ev),
    weighted AS (
        SELECT user_id,
               CAST(floor(value * 100) AS BIGINT) AS v_fp,
               next_us - t_us AS dt_us
        FROM stepped WHERE next_us IS NOT NULL)
    SELECT CAST(user_id AS BIGINT) AS user_id,
           CAST(COUNT(*) AS BIGINT) AS n_intervals,
           CAST(SUM(dt_us) AS BIGINT) AS span_us,
           CAST(SUM(v_fp * dt_us) AS BIGINT) AS vw_sum_fp,
           CAST(SUM(v_fp * dt_us) AS DOUBLE)
               / (100.0 * SUM(dt_us)) AS twap
    FROM weighted
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def q_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user TWAP of event values (first 50 users): value held
    until the next observation, weighted by the exact microsecond
    interval. v_fp = floor(value*100) keeps the weighted sum in
    BIGINT (both engines floor the identical double product); the
    single final division is one IEEE op. The trailing observation
    has no interval and is excluded — standard TWAP convention."""
    from pyspark.sql.window import Window

    ev = (
        table(spark, sf_dir, "events")
        .where(F.col("user_id") < 50)
        .select(
            "user_id",
            "value",
            F.unix_micros("ts").alias("t_us"),
            "event_id",
        )
    )
    w = Window.partitionBy("user_id").orderBy("t_us", "event_id")
    stepped = ev.select(
        "user_id",
        "value",
        "t_us",
        F.lead("t_us").over(w).alias("next_us"),
    )
    weighted = stepped.where(F.col("next_us").isNotNull()).select(
        "user_id",
        F.expr("CAST(floor(value * 100) AS BIGINT)").alias("v_fp"),
        (F.col("next_us") - F.col("t_us")).alias("dt_us"),
    )
    return (
        weighted.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_intervals"),
            F.sum("dt_us").cast("bigint").alias("span_us"),
            F.sum(F.col("v_fp") * F.col("dt_us"))
            .cast("bigint")
            .alias("vw_sum_fp"),
            (
                F.sum(F.col("v_fp") * F.col("dt_us")).cast("double")
                / (100.0 * F.sum("dt_us"))
            ).alias("twap"),
        )
        .select(
            F.col("user_id").cast("bigint").alias("user_id"),
            "n_intervals",
            "span_us",
            "vw_sum_fp",
            "twap",
        )
    )


# ---------------------------------------------------------------------------
# CUSUM changepoint scan — where did the level of a daily series
# shift? S_t = cumulative sum of (x_t - mean); the |S| peak marks the
# most likely changepoint (Page 1954). Deviations snap to DECIMAL
# before the cumulative window so every partial sum is exact; one
# window per series, partitioned by the series key.
# ---------------------------------------------------------------------------

@query(
    "q_cusum_changepoint",
    """
    WITH daily AS (
        SELECT o_orderpriority AS series,
               strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS day,
               COUNT(*) AS x
        FROM orders GROUP BY series, day),
    stats AS (
        SELECT series, CAST(SUM(x) AS DOUBLE) / COUNT(*) AS mu,
               COUNT(*) AS n_days
        FROM daily GROUP BY series),
    dev AS (
        SELECT d.series, d.day, s.n_days,
               CAST(d.x - s.mu AS DECIMAL(18,6)) AS dd
        FROM daily d JOIN stats s ON d.series = s.series),
    cusum AS (
        SELECT series, day, n_days,
               CAST(SUM(dd) OVER (PARTITION BY series ORDER BY day
                                  ROWS UNBOUNDED PRECEDING) AS DOUBLE)
                   AS s_t
        FROM dev),
    peak AS (
        SELECT series, day, n_days, s_t,
               ROW_NUMBER() OVER (PARTITION BY series
                                  ORDER BY ABS(s_t) DESC, day) AS rk
        FROM cusum)
    SELECT series,
           CAST(n_days AS BIGINT) AS n_days,
           day AS changepoint_day,
           ROUND(ABS(s_t), 6) AS max_abs_cusum
    FROM peak WHERE rk = 1
    ORDER BY series
    """,
)
def q_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority CUSUM scan over the daily order-count series: the
    day where |cumulative deviation from the series mean| peaks, with
    the peak magnitude. Deviations are DECIMAL(18,6)-snapped (both
    engines snap the identical double), so every prefix sum is exact
    and the argmax day is deterministic."""
    from pyspark.sql.window import Window

    o = table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.col("o_orderpriority").alias("series"),
        F.date_format(F.col("o_orderdate").cast("date"), "yyyy-MM-dd").alias(
            "day"
        ),
    ).agg(F.count(F.lit(1)).alias("x"))
    stats = daily.groupBy("series").agg(
        (F.sum("x").cast("double") / F.count(F.lit(1))).alias("mu"),
        F.count(F.lit(1)).alias("n_days"),
    )
    dev = daily.join(F.broadcast(stats), "series").select(
        "series",
        "day",
        "n_days",
        F.expr("CAST(x - mu AS DECIMAL(18,6))").alias("dd"),
    )
    w_cum = (
        Window.partitionBy("series")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cusum = dev.select(
        "series",
        "day",
        "n_days",
        F.sum("dd").over(w_cum).cast("double").alias("s_t"),
    )
    w_rk = Window.partitionBy("series").orderBy(
        F.desc(F.abs(F.col("s_t"))), "day"
    )
    peak = cusum.withColumn("rk", F.row_number().over(w_rk))
    return (
        peak.where(F.col("rk") == 1)
        .select(
            "series",
            F.col("n_days").cast("bigint").alias("n_days"),
            F.col("day").alias("changepoint_day"),
            F.round(F.abs(F.col("s_t")), 6).alias("max_abs_cusum"),
        )
    )


# ---------------------------------------------------------------------------
# Cohort LTV accumulation — the revenue companion to
# q_cohort_retention's activity matrix: per signup cohort (first-order
# quarter), the CUMULATIVE revenue per customer as the cohort ages.
# One first-order window, one rollup, one cumulative window over the
# tiny (cohort x age) grid.
# ---------------------------------------------------------------------------

@query(
    "q_cohort_ltv",
    """
    WITH firsts AS (
        SELECT o_custkey,
               MIN(CAST(o_orderdate AS DATE)) AS first_d
        FROM orders GROUP BY o_custkey),
    cohorted AS (
        SELECT o.o_custkey,
               strftime(date_trunc('quarter', f.first_d), '%Y-%m') AS cohort,
               (CAST(strftime(o.o_orderdate, '%Y') AS INTEGER) * 4
                + (CAST(strftime(o.o_orderdate, '%m') AS INTEGER) - 1) // 3)
               - (CAST(strftime(f.first_d, '%Y') AS INTEGER) * 4
                  + (CAST(strftime(f.first_d, '%m') AS INTEGER) - 1) // 3)
                   AS age_q,
               o.o_totalprice
        FROM orders o JOIN firsts f ON o.o_custkey = f.o_custkey),
    sizes AS (
        SELECT cohort, COUNT(DISTINCT o_custkey) AS cohort_size
        FROM cohorted GROUP BY cohort),
    grid AS (
        SELECT cohort, age_q,
               SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
        FROM cohorted GROUP BY cohort, age_q),
    cum AS (
        SELECT cohort, age_q,
               SUM(rev) OVER (PARTITION BY cohort ORDER BY age_q
                              ROWS UNBOUNDED PRECEDING) AS cum_rev
        FROM grid)
    SELECT c.cohort, CAST(c.age_q AS INTEGER) AS age_q,
           CAST(s.cohort_size AS BIGINT) AS cohort_size,
           CAST(CAST(c.cum_rev AS DECIMAL(18,2)) AS DOUBLE)
               / s.cohort_size AS ltv_per_customer
    FROM cum c JOIN sizes s ON c.cohort = s.cohort
    WHERE c.age_q <= 4
    ORDER BY c.cohort, c.age_q
    """,
)
def q_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative lifetime value per customer by signup-quarter cohort
    and cohort age (quarters since first order, ages 0-4): the
    LTV-curve readout product teams track next to retention. Revenue
    accumulates in DECIMAL through the cumulative window, divided
    once by the cohort size."""
    from pyspark.sql.window import Window

    o = table(spark, sf_dir, "orders")
    firsts = o.groupBy("o_custkey").agg(
        F.min(F.col("o_orderdate").cast("date")).alias("first_d")
    )
    qnum = lambda col: (  # noqa: E731 — quarter index arithmetic
        F.year(col) * 4 + ((F.month(col) - 1) / 3).cast("int")
    )
    cohorted = o.join(firsts, "o_custkey").select(
        "o_custkey",
        F.date_format(F.trunc(F.col("first_d"), "quarter"), "yyyy-MM").alias(
            "cohort"
        ),
        (qnum(F.col("o_orderdate")) - qnum(F.col("first_d"))).alias("age_q"),
        "o_totalprice",
    )
    sizes = cohorted.groupBy("cohort").agg(
        F.countDistinct("o_custkey").alias("cohort_size")
    )
    grid = cohorted.groupBy("cohort", "age_q").agg(
        F.expr("SUM(CAST(o_totalprice AS DECIMAL(18,2)))").alias("rev")
    )
    w = (
        Window.partitionBy("cohort")
        .orderBy("age_q")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = grid.select(
        "cohort", "age_q", F.sum("rev").over(w).alias("cum_rev")
    )
    return (
        cum.join(F.broadcast(sizes), "cohort")
        .where(F.col("age_q") <= 4)
        .select(
            "cohort",
            F.col("age_q").cast("int").alias("age_q"),
            F.col("cohort_size").cast("bigint").alias("cohort_size"),
            (
                F.expr("CAST(CAST(cum_rev AS DECIMAL(18,2)) AS DOUBLE)")
                / F.col("cohort_size")
            ).alias("ltv_per_customer"),
        )
    )


# ---------------------------------------------------------------------------
# Peak detection with prominence — local maxima of a daily series
# that stand out by at least P over the deeper of their flanking
# minima (a lag/lead neighborhood test; the alerting primitive for
# metric spikes). Row-local after one per-series window.
# ---------------------------------------------------------------------------

_PEAK_WIN = 3   # flank width (days each side)


@query(
    "q_peak_detection",
    f"""
    WITH daily AS (
        SELECT o_orderpriority AS series,
               strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS day,
               COUNT(*) AS x
        FROM orders GROUP BY series, day),
    flanked AS (
        SELECT series, day, x,
               MAX(x) OVER (PARTITION BY series ORDER BY day
                            ROWS BETWEEN {_PEAK_WIN} PRECEDING
                            AND 1 PRECEDING) AS max_before,
               MAX(x) OVER (PARTITION BY series ORDER BY day
                            ROWS BETWEEN 1 FOLLOWING
                            AND {_PEAK_WIN} FOLLOWING) AS max_after,
               MIN(x) OVER (PARTITION BY series ORDER BY day
                            ROWS BETWEEN {_PEAK_WIN} PRECEDING
                            AND 1 PRECEDING) AS min_before,
               MIN(x) OVER (PARTITION BY series ORDER BY day
                            ROWS BETWEEN 1 FOLLOWING
                            AND {_PEAK_WIN} FOLLOWING) AS min_after
        FROM daily),
    peaks AS (
        SELECT series, day, x,
               x - greatest(min_before, min_after) AS prominence
        FROM flanked
        WHERE max_before IS NOT NULL AND max_after IS NOT NULL
          AND x > max_before AND x > max_after),
    strong AS (SELECT * FROM peaks WHERE prominence >= 5)
    SELECT series,
           CAST(COUNT(*) AS BIGINT) AS n_peaks,
           CAST(MAX(prominence) AS BIGINT) AS max_prominence,
           MIN(CASE WHEN prominence = (SELECT MAX(p2.prominence)
                                       FROM strong p2
                                       WHERE p2.series = strong.series)
                    THEN day END) AS top_peak_day
    FROM strong
    GROUP BY series
    ORDER BY series
    """,
)
def q_peak_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prominent peaks in each priority's daily order-count series:
    strict local maxima over a +/-{_PEAK_WIN}-day neighborhood whose
    prominence (height over the deeper flanking minimum) reaches 5.
    Per series: the peak count, the strongest prominence, and the
    (earliest) day achieving it — all integer-exact."""
    from pyspark.sql.window import Window

    o = table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.col("o_orderpriority").alias("series"),
        F.date_format(F.col("o_orderdate").cast("date"), "yyyy-MM-dd").alias(
            "day"
        ),
    ).agg(F.count(F.lit(1)).alias("x"))
    wb = (
        Window.partitionBy("series")
        .orderBy("day")
        .rowsBetween(-_PEAK_WIN, -1)
    )
    wa = Window.partitionBy("series").orderBy("day").rowsBetween(1, _PEAK_WIN)
    flanked = daily.select(
        "series",
        "day",
        "x",
        F.max("x").over(wb).alias("max_before"),
        F.max("x").over(wa).alias("max_after"),
        F.min("x").over(wb).alias("min_before"),
        F.min("x").over(wa).alias("min_after"),
    )
    peaks = flanked.where(
        F.col("max_before").isNotNull()
        & F.col("max_after").isNotNull()
        & (F.col("x") > F.col("max_before"))
        & (F.col("x") > F.col("max_after"))
    ).select(
        "series",
        "day",
        "x",
        (
            F.col("x") - F.greatest(F.col("min_before"), F.col("min_after"))
        ).alias("prominence"),
    )
    strong = peaks.where(F.col("prominence") >= 5)
    return (
        strong.groupBy("series")
        .agg(
            F.count(F.lit(1)).alias("n_peaks"),
            F.max("prominence").cast("bigint").alias("max_prominence"),
            F.min_by(
                "day", F.struct(-F.col("prominence"), F.col("day"))
            ).alias("top_peak_day"),
        )
    )


# ---------------------------------------------------------------------------
# Rolling z-score anomalies — the streaming-adjacent alerting rule in
# batch form: each day scored against the trailing window's mean/std
# (computed from DECIMAL-exact rolling sum + sum-of-squares, so both
# engines see identical moments), flag |z| > threshold. One frame
# window per series.
# ---------------------------------------------------------------------------

_RZ_WIN = 14   # trailing days
_RZ_T = 2.5    # z threshold


@query(
    "q_rolling_zscore",
    f"""
    WITH daily AS (
        SELECT o_orderpriority AS series,
               strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS day,
               COUNT(*) AS x
        FROM orders GROUP BY series, day),
    rolled AS (
        SELECT series, day, x,
               COUNT(x) OVER w AS n,
               SUM(x) OVER w AS s,
               SUM(x * x) OVER w AS ss
        FROM daily
        WINDOW w AS (PARTITION BY series ORDER BY day
                     ROWS BETWEEN {_RZ_WIN} PRECEDING AND 1 PRECEDING)),
    scored AS (
        SELECT series, day, x, n,
               CAST(s AS DOUBLE) / n AS mu,
               sqrt(greatest(CAST(ss AS DOUBLE) / n
                    - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n),
                    1e-12)) AS sigma
        FROM rolled WHERE n >= {_RZ_WIN}),
    flagged AS (
        SELECT series, day, x,
               (x - mu) / sigma AS z
        FROM scored)
    SELECT series,
           CAST(COUNT(*) AS BIGINT) AS n_scored,
           CAST(COUNT(*) FILTER (WHERE abs(z) > {_RZ_T}) AS BIGINT)
               AS n_anomalies,
           ROUND(MAX(abs(z)), 6) AS max_abs_z,
           MIN(CASE WHEN abs(z) > {_RZ_T} THEN day END)
               AS first_anomaly_day
    FROM flagged
    GROUP BY series
    ORDER BY series
    """,
)
def q_rolling_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-{_RZ_WIN}-day z-scores of each priority's daily order
    count (window excludes the scored day — no self-contamination),
    anomaly = |z| > {_RZ_T}. Rolling moments come from integer SUM /
    SUM-of-squares over the frame, so mu/sigma are identical doubles
    in both engines; sigma floored at 1e-12 against constant windows."""
    from pyspark.sql.window import Window

    o = table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.col("o_orderpriority").alias("series"),
        F.date_format(F.col("o_orderdate").cast("date"), "yyyy-MM-dd").alias(
            "day"
        ),
    ).agg(F.count(F.lit(1)).alias("x"))
    w = (
        Window.partitionBy("series")
        .orderBy("day")
        .rowsBetween(-_RZ_WIN, -1)
    )
    rolled = daily.select(
        "series",
        "day",
        "x",
        F.count("x").over(w).alias("n"),
        F.sum("x").over(w).alias("s"),
        F.sum(F.col("x") * F.col("x")).over(w).alias("ss"),
    ).where(F.col("n") >= _RZ_WIN)
    scored = rolled.select(
        "series",
        "day",
        "x",
        F.expr(
            "(x - CAST(s AS DOUBLE) / n) / "
            "sqrt(greatest(CAST(ss AS DOUBLE) / n"
            " - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n), 1e-12))"
        ).alias("z"),
    )
    return (
        scored.groupBy("series")
        .agg(
            F.count(F.lit(1)).alias("n_scored"),
            F.count_if(F.abs(F.col("z")) > _RZ_T).alias("n_anomalies"),
            F.round(F.max(F.abs(F.col("z"))), 6).alias("max_abs_z"),
            F.min(
                F.when(F.abs(F.col("z")) > _RZ_T, F.col("day"))
            ).alias("first_anomaly_day"),
        )
    )


# ---------------------------------------------------------------------------
# OHLC candles — open/high/low/close per (series, hour): first/last
# are deterministic min_by/max_by over the in-bucket event order, so
# the whole candle set is one groupBy (no window, no sort) and fully
# hash-oracled.
# ---------------------------------------------------------------------------

@query(
    "q_ohlc_candles",
    f"""
    WITH {EVENTS_US_CTE},
    ev AS (
        SELECT event_type AS series,
               (CAST(ts AS DATE) - DATE '2024-01-01') * 24
                   + CAST(strftime(ts, '%H') AS INTEGER) AS hr,
               epoch_ns(ts) // 1000 AS t_us, event_id, value
        FROM events_us WHERE event_type IN ('click', 'purchase')),
    candles AS (
        SELECT series, hr,
               arg_min(value, lpad(CAST(t_us AS VARCHAR), 20, '0')
                               || '|' || lpad(CAST(event_id AS VARCHAR),
                                              12, '0')) AS open,
               MAX(value) AS high,
               MIN(value) AS low,
               arg_max(value, lpad(CAST(t_us AS VARCHAR), 20, '0')
                               || '|' || lpad(CAST(event_id AS VARCHAR),
                                              12, '0')) AS close,
               COUNT(*) AS n_ticks
        FROM ev GROUP BY series, hr)
    SELECT series, CAST(hr AS INTEGER) AS hr, open, high, low, close,
           CAST(n_ticks AS BIGINT) AS n_ticks
    FROM candles
    WHERE hr < 48
    ORDER BY series, hr
    """,
)
def q_ohlc_candles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC candles for click/purchase values (first 48 hours):
    open/close via min_by/max_by on a zero-padded (microsecond,
    event_id) string key (lexicographic == numeric; this DuckDB's
    arg_min takes no composite comparator) — deterministic even under
    identical timestamps — high/low as plain extrema, all from ONE
    aggregation pass."""
    ev = (
        table(spark, sf_dir, "events")
        .where(F.col("event_type").isin("click", "purchase"))
        .select(
            F.col("event_type").alias("series"),
            (
                F.datediff(F.to_date("ts"), F.lit("2024-01-01")) * 24
                + F.hour("ts")
            ).alias("hr"),
            F.unix_micros("ts").alias("t_us"),
            "event_id",
            "value",
        )
        .where(F.col("hr") < 48)
    )
    return (
        ev.groupBy("series", "hr")
        .agg(
            F.min_by("value", F.expr(
                "lpad(CAST(t_us AS STRING), 20, '0') || '|' ||"
                " lpad(CAST(event_id AS STRING), 12, '0')"
            )).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", F.expr(
                "lpad(CAST(t_us AS STRING), 20, '0') || '|' ||"
                " lpad(CAST(event_id AS STRING), 12, '0')"
            )).alias("close"),
            F.count(F.lit(1)).alias("n_ticks"),
        )
        .select(
            "series",
            F.col("hr").cast("int").alias("hr"),
            "open",
            "high",
            "low",
            "close",
            F.col("n_ticks").cast("bigint").alias("n_ticks"),
        )
    )


# ---------------------------------------------------------------------------
# Trailing-window distinct — "7-day active users per day": COUNT
# (DISTINCT) cannot ride a window frame, so the scalable idiom is to
# EXPLODE each (user, day) activity into the trailing days it covers
# and run a plain per-day distinct. Fan-out = window length; at
# 100 TB this is days x daily-active rows, each tiny — and the
# pre-distinct per (user, day) collapses the raw events first.
# ---------------------------------------------------------------------------

_TDU_WIN = 7


@query(
    "q_trailing_distinct_users",
    f"""
    WITH {EVENTS_US_CTE},
    active AS (
        SELECT DISTINCT user_id,
               (CAST(ts AS DATE) - DATE '2024-01-01') AS d
        FROM events_us),
    bounds AS (SELECT MAX(d) AS dmax FROM active),
    covered AS (
        SELECT a.user_id, a.d + x.i AS report_d
        FROM active a, (SELECT UNNEST(range(0, {_TDU_WIN})) AS i) x),
    counted AS (
        SELECT report_d,
               COUNT(DISTINCT user_id) AS active_{_TDU_WIN}d
        FROM covered, bounds
        WHERE report_d <= dmax AND report_d >= {_TDU_WIN - 1}
        GROUP BY report_d)
    SELECT CAST(report_d AS INTEGER) AS report_d,
           CAST(active_{_TDU_WIN}d AS BIGINT) AS active_{_TDU_WIN}d
    FROM counted
    ORDER BY report_d
    """,
)
def q_trailing_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{_TDU_WIN}-day trailing distinct active users per day: the
    (user, day) activity set explodes into the {_TDU_WIN} report days
    it contributes to, then one per-day COUNT(DISTINCT). Only
    complete windows are reported. The rolling-MAU/WAU readout that a
    naive DISTINCT-over-window cannot express."""
    ev = table(spark, sf_dir, "events")
    active = ev.select(
        "user_id",
        F.datediff(F.to_date("ts"), F.lit("2024-01-01")).alias("d"),
    ).distinct()
    dmax = active.agg(F.max("d").alias("dmax"))
    covered = active.select(
        "user_id",
        F.explode(
            F.sequence(F.col("d"), F.col("d") + (_TDU_WIN - 1))
        ).alias("report_d"),
    )
    return (
        covered.crossJoin(F.broadcast(dmax))
        .where(
            (F.col("report_d") <= F.col("dmax"))
            & (F.col("report_d") >= _TDU_WIN - 1)
        )
        .groupBy("report_d")
        .agg(F.countDistinct("user_id").alias(f"active_{_TDU_WIN}d"))
        .select(
            F.col("report_d").cast("int").alias("report_d"),
            F.col(f"active_{_TDU_WIN}d").cast("bigint"),
        )
    )


# ---------------------------------------------------------------------------
# Forecast backtest (seasonal-naive + MAPE/bias) — evaluate the
# simplest defensible forecaster over history: predict each month of
# the FINAL year as the mean of the same calendar month in all prior
# years, then score per series. Composes the seasonal-index machinery
# into the eval readout a forecasting pipeline gates models on.
# ---------------------------------------------------------------------------

@query(
    "q_forecast_backtest_mape",
    """
    WITH monthly AS (
        SELECT o_orderpriority AS series,
               CAST(strftime(o_orderdate, '%Y') AS INTEGER) AS yr,
               CAST(strftime(o_orderdate, '%m') AS INTEGER) AS mo,
               COUNT(*) AS actual
        FROM orders GROUP BY series, yr, mo),
    last_year AS (SELECT MAX(yr) AS y_test FROM monthly),
    train AS (
        SELECT m.series, m.mo,
               CAST(SUM(m.actual) AS DOUBLE) / COUNT(*) AS forecast
        FROM monthly m, last_year ly
        WHERE m.yr < ly.y_test
        GROUP BY m.series, m.mo),
    test AS (
        SELECT m.series, m.mo, m.actual
        FROM monthly m, last_year ly WHERE m.yr = ly.y_test),
    scored AS (
        SELECT t.series, t.mo, t.actual, f.forecast,
               ABS(t.actual - f.forecast) / t.actual AS ape,
               (f.forecast - t.actual) / t.actual AS bias
        FROM test t JOIN train f
          ON t.series = f.series AND t.mo = f.mo)
    SELECT series,
           CAST(COUNT(*) AS BIGINT) AS n_months,
           CAST(SUM(CAST(ape AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*)
               AS mape,
           CAST(SUM(CAST(bias AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*)
               AS mean_bias
    FROM scored
    GROUP BY series
    ORDER BY series
    """,
)
def q_forecast_backtest_mape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive backtest per priority series: each month of the
    final year predicted as the mean of the same month across prior
    years; per-series MAPE and mean bias (DECIMAL-routed means of
    ratios of exact integers). The eval half of a forecasting loop —
    one monthly rollup, one train/test split on the year, one join."""
    from pyspark.sql.window import Window  # noqa: F401 — symmetry w/ siblings

    o = table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.col("o_orderpriority").alias("series"),
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mo"),
    ).agg(F.count(F.lit(1)).alias("actual"))
    last_year = monthly.agg(F.max("yr").alias("y_test"))
    m = monthly.crossJoin(F.broadcast(last_year))
    train = (
        m.where(F.col("yr") < F.col("y_test"))
        .groupBy("series", "mo")
        .agg(
            (F.sum("actual").cast("double") / F.count(F.lit(1))).alias(
                "forecast"
            )
        )
    )
    test = m.where(F.col("yr") == F.col("y_test")).select(
        "series", "mo", "actual"
    )
    scored = test.join(train, ["series", "mo"]).select(
        "series",
        (
            F.abs(F.col("actual") - F.col("forecast")) / F.col("actual")
        ).alias("ape"),
        (
            (F.col("forecast") - F.col("actual")) / F.col("actual")
        ).alias("bias"),
    )
    return (
        scored.groupBy("series")
        .agg(
            F.count(F.lit(1)).alias("n_months"),
            F.expr(
                "CAST(SUM(CAST(ape AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*)"
            ).alias("mape"),
            F.expr(
                "CAST(SUM(CAST(bias AS DECIMAL(18,9))) AS DOUBLE)"
                " / COUNT(*)"
            ).alias("mean_bias"),
        )
        .transform(sort_bounded, "series")
    )


# ---------------------------------------------------------------------------
# Cumulative distinct (running reach) — distinct users ever seen, by
# day: COUNT(DISTINCT) can't accumulate across a window, but each
# user counts exactly once — on their FIRST day — so the running
# total is a cumsum over new-users-per-day. Two tiny aggregations;
# the first-seen idiom that also powers q_cohort_retention and
# q_ngram_novelty.
# ---------------------------------------------------------------------------

@query(
    "q_cumulative_distinct_users",
    f"""
    WITH {EVENTS_US_CTE},
    firsts AS (
        SELECT user_id,
               MIN((CAST(ts AS DATE) - DATE '2024-01-01')) AS first_d
        FROM events_us GROUP BY user_id),
    per_day AS (
        SELECT first_d AS d, COUNT(*) AS new_users
        FROM firsts GROUP BY first_d)
    SELECT CAST(d AS INTEGER) AS d,
           CAST(new_users AS BIGINT) AS new_users,
           CAST(SUM(new_users) OVER (ORDER BY d
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS total_reach
    FROM per_day
    ORDER BY d
    """,
)
def q_cumulative_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running distinct-user reach by day via first-seen attribution:
    per-user first activity day, new users per day, cumulative sum.
    The cumulative window runs over the tiny per-day rollup, never
    the event stream."""
    from pyspark.sql.window import Window

    ev = table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.datediff(F.to_date("ts"), F.lit("2024-01-01"))).alias(
            "first_d"
        )
    )
    per_day = firsts.groupBy(F.col("first_d").alias("d")).agg(
        F.count(F.lit(1)).alias("new_users")
    )
    w = Window.orderBy("d").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return per_day.select(
        F.col("d").cast("int").alias("d"),
        F.col("new_users").cast("bigint").alias("new_users"),
        F.sum("new_users").over(w).cast("bigint").alias("total_reach"),
    ).orderBy("d")


# ---------------------------------------------------------------------------
# Bounce rate — single-event sessions over total sessions, per day:
# the engagement-health readout on top of the sessionization
# primitive (30-min gap rule, same as q_sessionize_events). Session
# ids from one lag window + cumulative sum; everything after is a
# rollup.
# ---------------------------------------------------------------------------

@query(
    "q_bounce_rate",
    f"""
    WITH {EVENTS_US_CTE},
    ev AS (
        SELECT user_id, ts, event_id,
               epoch_ns(ts) // 1000 AS t_us,
               (CAST(ts AS DATE) - DATE '2024-01-01') AS d
        FROM events_us WHERE user_id < 200),
    lagged AS (
        SELECT user_id, d, t_us, event_id,
               CASE WHEN t_us - LAG(t_us) OVER w
                         > 30 * 60 * CAST(1000000 AS BIGINT)
                      OR LAG(t_us) OVER w IS NULL
                    THEN 1 ELSE 0 END AS is_new
        FROM ev
        WINDOW w AS (PARTITION BY user_id ORDER BY t_us, event_id)),
    sess AS (
        SELECT user_id, d, t_us,
               SUM(is_new) OVER (PARTITION BY user_id ORDER BY t_us,
                                 event_id ROWS UNBOUNDED PRECEDING)
                   AS sess_id
        FROM lagged),
    per_sess AS (
        SELECT user_id, sess_id,
               MIN(d) AS start_d,
               COUNT(*) AS n_events
        FROM sess GROUP BY user_id, sess_id)
    SELECT CAST(start_d AS INTEGER) AS d,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(COUNT(*) FILTER (WHERE n_events = 1) AS BIGINT)
               AS n_bounces,
           CAST(COUNT(*) FILTER (WHERE n_events = 1) * 1000000
                // COUNT(*) AS BIGINT) AS bounce_ppm
    FROM per_sess
    GROUP BY start_d
    ORDER BY d
    """,
)
def q_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily bounce rate for the first 200 users: sessions from the
    30-min-gap rule (lag + cumulative new-session flags), bounce =
    single-event session, rate in exact ppm keyed by the session's
    start day."""
    from pyspark.sql.window import Window

    ev = (
        table(spark, sf_dir, "events")
        .where(F.col("user_id") < 200)
        .select(
            "user_id",
            "event_id",
            F.unix_micros("ts").alias("t_us"),
            F.datediff(F.to_date("ts"), F.lit("2024-01-01")).alias("d"),
        )
    )
    w = Window.partitionBy("user_id").orderBy("t_us", "event_id")
    lagged = ev.select(
        "user_id",
        "d",
        "t_us",
        "event_id",
        F.when(
            F.lag("t_us").over(w).isNull()
            | (
                F.col("t_us") - F.lag("t_us").over(w)
                > 30 * 60 * 1_000_000
            ),
            1,
        )
        .otherwise(0)
        .alias("is_new"),
    )
    w_cum = (
        Window.partitionBy("user_id")
        .orderBy("t_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sess = lagged.select(
        "user_id",
        "d",
        "t_us",
        F.sum("is_new").over(w_cum).alias("sess_id"),
    )
    per_sess = sess.groupBy("user_id", "sess_id").agg(
        F.min("d").alias("start_d"),
        F.count(F.lit(1)).alias("n_events"),
    )
    return (
        per_sess.groupBy(F.col("start_d").cast("int").alias("d"))
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.count_if(F.col("n_events") == 1).alias("n_bounces"),
            F.expr(
                "CAST(count_if(n_events = 1) * 1000000 DIV COUNT(*)"
                " AS BIGINT)"
            ).alias("bounce_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Conversion latency — signup -> first subsequent purchase, the
# time-to-convert distribution behind activation dashboards: first
# signup per user, first purchase AFTER it (one min-aggregate each,
# no as-of scan), exact percentile summary of the latencies.
# ---------------------------------------------------------------------------

@query(
    "q_conversion_latency",
    f"""
    WITH {EVENTS_US_CTE},
    signups AS (
        SELECT user_id, MIN(epoch_ns(ts) // 1000) AS s_us
        FROM events_us WHERE event_type = 'signup' GROUP BY user_id),
    purchases AS (
        SELECT e.user_id, MIN(epoch_ns(e.ts) // 1000) AS p_us
        FROM events_us e JOIN signups s ON e.user_id = s.user_id
        WHERE e.event_type = 'purchase'
          AND epoch_ns(e.ts) // 1000 > s.s_us
        GROUP BY e.user_id),
    lat AS (
        SELECT s.user_id,
               (p.p_us - s.s_us) // 60000000 AS latency_min
        FROM signups s JOIN purchases p ON s.user_id = p.user_id)
    SELECT CAST((SELECT COUNT(*) FROM signups) AS BIGINT) AS n_signups,
           CAST(COUNT(*) AS BIGINT) AS n_converted,
           CAST(COUNT(*) * 1000000
                // (SELECT COUNT(*) FROM signups) AS BIGINT)
               AS conversion_ppm,
           ROUND(quantile_cont(latency_min, 0.50), 9) AS p50_latency_min,
           ROUND(quantile_cont(latency_min, 0.90), 9) AS p90_latency_min,
           CAST(MIN(latency_min) AS BIGINT) AS min_latency_min
    FROM lat
    """,
)
def q_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signup-to-first-purchase latency: conversion rate in exact ppm
    plus the exact p50/p90 of the minute-grain latency distribution.
    Two min-aggregates and one join — the window-free formulation of
    'first event after anchor'."""
    ev = table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("t_us")
    )
    signups = (
        ev.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("t_us").alias("s_us"))
    )
    purchases = (
        ev.where(F.col("event_type") == "purchase")
        .join(signups, "user_id")
        .where(F.col("t_us") > F.col("s_us"))
        .groupBy("user_id")
        .agg(F.min("t_us").alias("p_us"))
    )
    lat = signups.join(purchases, "user_id").select(
        "user_id",
        F.expr("(p_us - s_us) DIV 60000000").alias("latency_min"),
    )
    n_signups = signups.agg(F.count(F.lit(1)).alias("n_signups"))
    return (
        lat.agg(
            F.count(F.lit(1)).alias("n_converted"),
            F.round(
                F.expr("percentile(latency_min, 0.50)"), 9
            ).alias("p50_latency_min"),
            F.round(
                F.expr("percentile(latency_min, 0.90)"), 9
            ).alias("p90_latency_min"),
            F.min("latency_min").cast("bigint").alias("min_latency_min"),
        )
        .crossJoin(F.broadcast(n_signups))
        .select(
            F.col("n_signups").cast("bigint").alias("n_signups"),
            F.col("n_converted").cast("bigint").alias("n_converted"),
            F.expr(
                "CAST(n_converted * 1000000 DIV n_signups AS BIGINT)"
            ).alias("conversion_ppm"),
            "p50_latency_min",
            "p90_latency_min",
            "min_latency_min",
        )
    )


# ---------------------------------------------------------------------------
# Kaplan-Meier survival curve — the retention-analysis estimator:
# user "lifetime" = days between first and last event, right-censored
# for users still active in the final 14 days. S(t) steps only at
# churn days; the at-risk set is an exact integer cumsum, the log-
# survival a DECIMAL-routed cumsum of ln factors (order-free, immune
# to DuckDB's segment-tree window summation), exp applied once on
# identical doubles.
# ---------------------------------------------------------------------------

_KM_CENSOR_DAYS = 14


@query(
    "q_kaplan_meier",
    f"""
    WITH {EVENTS_US_CTE},
    spans AS (
        SELECT user_id,
               MIN(ts_ns // 1000) AS first_us,
               MAX(ts_ns // 1000) AS last_us
        FROM events_us GROUP BY user_id),
    gmax AS (SELECT MAX(last_us) AS g_us FROM spans),
    lives AS (
        SELECT (last_us - first_us) // 86400000000 AS dur,
               CASE WHEN last_us
                    < (SELECT g_us FROM gmax)
                      - {_KM_CENSOR_DAYS}::BIGINT * 86400000000
                    THEN 1 ELSE 0 END AS churned
        FROM spans),
    days AS (
        SELECT dur, SUM(churned) AS d,
               SUM(1 - churned) AS c
        FROM lives GROUP BY dur),
    risk AS (
        SELECT dur, d, c,
               (SELECT COUNT(*) FROM lives)
               - COALESCE(SUM(d + c) OVER
                   (ORDER BY dur
                    ROWS BETWEEN UNBOUNDED PRECEDING
                    AND 1 PRECEDING), 0) AS n
        FROM days),
    curve AS (
        SELECT dur, d, c, n,
               SUM(CASE WHEN d > 0 AND d < n THEN
                     CAST(ln(1.0 - CAST(d AS DOUBLE) / n)
                          AS DECIMAL(22,10))
                   ELSE CAST(0 AS DECIMAL(22,10)) END)
                 OVER (ORDER BY dur) AS log_surv
        FROM risk)
    SELECT CAST(dur AS BIGINT) AS t_day,
           CAST(n AS BIGINT) AS n_risk,
           CAST(d AS BIGINT) AS d_churned,
           CAST(c AS BIGINT) AS c_censored,
           CAST(log_surv AS DOUBLE) AS log_surv,
           CAST(CAST(exp(CAST(log_surv AS DOUBLE)) AS DECIMAL(18,9))
                AS DOUBLE) AS survival
    FROM curve WHERE d > 0 AND d < n
    ORDER BY t_day
    """,
)
def q_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier retention curve over user event lifetimes
    (right-censored at {_KM_CENSOR_DAYS} days before corpus end).
    One groupBy(user) + one groupBy(duration-day); the windows run
    over the duration-day series, whose cardinality is bounded by the
    calendar span, not the row count — the post-aggregation scale
    shape. The ln-factor cumsum routes through DECIMAL so the two
    engines' different window summation orders cannot drift."""
    ev = table(spark, sf_dir, "events").select(
        "user_id", F.unix_micros("ts").alias("t_us")
    )
    spans = ev.groupBy("user_id").agg(
        F.min("t_us").alias("first_us"), F.max("t_us").alias("last_us")
    )
    gmax = spans.agg(F.max("last_us").alias("g_us"))
    lives = spans.crossJoin(F.broadcast(gmax)).select(
        F.expr("(last_us - first_us) DIV 86400000000").alias("dur"),
        F.expr(
            f"CASE WHEN last_us < g_us"
            f" - CAST({_KM_CENSOR_DAYS} AS BIGINT) * 86400000000"
            f" THEN 1 ELSE 0 END"
        ).alias("churned"),
    )
    days = lives.groupBy("dur").agg(
        F.sum("churned").alias("d"),
        F.sum(F.lit(1) - F.col("churned")).alias("c"),
    )
    n_total = lives.agg(F.count(F.lit(1)).alias("n_total"))
    w_prev = (
        Window.orderBy("dur").rowsBetween(Window.unboundedPreceding, -1)
    )
    w_cum = Window.orderBy("dur").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    risk = (
        days.crossJoin(F.broadcast(n_total))
        .withColumn(
            "n",
            F.col("n_total")
            - F.coalesce(
                F.sum(F.col("d") + F.col("c")).over(w_prev), F.lit(0)
            ),
        )
    )
    curve = risk.withColumn(
        "log_surv",
        F.sum(
            F.expr(
                "CASE WHEN d > 0 AND d < n THEN"
                " CAST(ln(1.0 - CAST(d AS DOUBLE) / n) AS DECIMAL(22,10))"
                " ELSE CAST(0 AS DECIMAL(22,10)) END"
            )
        ).over(w_cum),
    )
    return (
        curve.where((F.col("d") > 0) & (F.col("d") < F.col("n")))
        .select(
            F.col("dur").cast("bigint").alias("t_day"),
            F.col("n").cast("bigint").alias("n_risk"),
            F.col("d").cast("bigint").alias("d_churned"),
            F.col("c").cast("bigint").alias("c_censored"),
            F.col("log_surv").cast("double").alias("log_surv"),
            F.expr(
                "CAST(CAST(exp(CAST(log_surv AS DOUBLE))"
                " AS DECIMAL(18,9)) AS DOUBLE)"
            ).alias("survival"),
        )
        .orderBy("t_day")
    )


# ---------------------------------------------------------------------------
# Autocorrelation function of daily revenue — the seasonality probe
# behind forecast-model selection: calendar-lag autocovariance at lags
# 1..7 over the daily order-revenue series. Daily totals are
# decimal-exact; the series is pre-scaled by a fixed 1e6 so deviation
# products stay in DECIMAL-safe magnitude; missing calendar days make
# it the gap-aware estimator (pairs at exact day offsets only).
# ---------------------------------------------------------------------------

_ACF_LAGS = list(range(1, 8))
_ACF_EPOCH = "1995-01-01"


@query(
    "q_acf_daily_revenue",
    f"""
    WITH daily AS (
        SELECT datediff('day', DATE '{_ACF_EPOCH}',
                        CAST(o_orderdate AS DATE)) AS d,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   / 1000000.0 AS x
        FROM orders GROUP BY d),
    m AS (
        SELECT CAST(SUM(CAST(x AS DECIMAL(24,12))) AS DOUBLE)
                   / COUNT(*) AS mean,
               COUNT(*) AS n_days
        FROM daily),
    dev AS (
        SELECT d, x - (SELECT mean FROM m) AS z FROM daily),
    s0 AS (
        SELECT CAST(SUM(CAST(z * z AS DECIMAL(24,9))) AS DOUBLE) AS den
        FROM dev),
    lags(lag) AS (VALUES {", ".join(f"({k})" for k in _ACF_LAGS)}),
    pairs AS (
        SELECT l.lag, a.z * b.z AS zz
        FROM dev a
        JOIN lags l ON TRUE
        JOIN dev b ON b.d = a.d + l.lag)
    SELECT CAST(p.lag AS INTEGER) AS lag,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(CAST(CAST(SUM(CAST(zz AS DECIMAL(24,9))) AS DOUBLE)
                     / (SELECT den FROM s0)
                     AS DECIMAL(18,9)) AS DOUBLE) AS acf
    FROM pairs p
    GROUP BY p.lag
    ORDER BY lag
    """,
)
def q_acf_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACF of daily order revenue at calendar lags 1-7. One shuffle
    (the day rollup); the lag self-join runs over the day-grain series
    (bounded by the calendar, not the fact table) against a broadcast
    7-row lag table. Deviation products route through DECIMAL(24,9)
    after a fixed 1e6 pre-scale keeps value*10^9 inside 2^53."""
    orders = table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.expr(
            f"datediff(CAST(o_orderdate AS DATE), DATE '{_ACF_EPOCH}')"
        ).alias("d")
    ).agg(
        F.expr(
            "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)"
            " / 1000000.0"
        ).alias("x")
    )
    m = daily.agg(
        F.expr(
            "CAST(SUM(CAST(x AS DECIMAL(24,12))) AS DOUBLE) / COUNT(*)"
        ).alias("mean"),
        F.count(F.lit(1)).alias("n_days"),
    )
    dev = daily.crossJoin(F.broadcast(m)).select(
        "d", (F.col("x") - F.col("mean")).alias("z")
    )
    dev = dev.localCheckpoint(eager=True)
    s0 = dev.agg(
        F.expr(
            "CAST(SUM(CAST(z * z AS DECIMAL(24,9))) AS DOUBLE)"
        ).alias("den")
    )
    lags = spark.createDataFrame([(k,) for k in _ACF_LAGS], "lag int")
    a = dev.alias("a")
    b = dev.select(
        F.col("d").alias("bd"), F.col("z").alias("bz")
    ).alias("b")
    pairs = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.col("bd") == F.col("d") + F.col("lag"))
        .select("lag", (F.col("z") * F.col("bz")).alias("zz"))
    )
    return (
        pairs.groupBy("lag")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.expr("SUM(CAST(zz AS DECIMAL(24,9)))").alias("s_lag"),
        )
        .crossJoin(F.broadcast(s0))
        .select(
            F.col("lag").cast("int"),
            F.col("n_pairs").cast("bigint"),
            F.expr(
                "CAST(CAST(CAST(s_lag AS DOUBLE) / den"
                " AS DECIMAL(18,9)) AS DOUBLE)"
            ).alias("acf"),
        )
    )


# ---------------------------------------------------------------------------
# Mutual information between order status and priority — the
# categorical-dependence audit (feature selection / leakage checks):
# exact joint and marginal counts, one ln per cell on identical
# doubles, DECIMAL-routed sums, normalized by sqrt(HX*HY) (IEEE sqrt
# is correctly rounded, hence bit-stable cross-engine).
# ---------------------------------------------------------------------------

@query(
    "q_mutual_information",
    """
    WITH joint AS (
        SELECT o_orderstatus AS s, o_orderpriority AS p, COUNT(*) AS c
        FROM orders GROUP BY s, p),
    mx AS (SELECT s, SUM(c) AS cx FROM joint GROUP BY s),
    my AS (SELECT p, SUM(c) AS cy FROM joint GROUP BY p),
    tot AS (SELECT SUM(c) AS n FROM joint),
    terms AS (
        SELECT j.c, mx.cx, my.cy, tot.n,
               CAST(j.c AS DOUBLE) / tot.n AS pxy,
               CAST(mx.cx AS DOUBLE) / tot.n AS px,
               CAST(my.cy AS DOUBLE) / tot.n AS py
        FROM joint j
        JOIN mx ON j.s = mx.s
        JOIN my ON j.p = my.p
        CROSS JOIN tot),
    mi AS (
        SELECT CAST(SUM(CAST(pxy * ln(pxy / (px * py))
                             AS DECIMAL(18,12))) AS DOUBLE) AS mi_nats,
               MAX(n) AS n
        FROM terms),
    hx AS (
        SELECT CAST(SUM(CAST(-(CAST(cx AS DOUBLE) / tot.n)
                    * ln(CAST(cx AS DOUBLE) / tot.n)
                    AS DECIMAL(18,12))) AS DOUBLE) AS h_status
        FROM mx CROSS JOIN tot),
    hy AS (
        SELECT CAST(SUM(CAST(-(CAST(cy AS DOUBLE) / tot.n)
                    * ln(CAST(cy AS DOUBLE) / tot.n)
                    AS DECIMAL(18,12))) AS DOUBLE) AS h_priority
        FROM my CROSS JOIN tot)
    SELECT CAST(mi.n AS BIGINT) AS n_orders,
           mi.mi_nats,
           hx.h_status,
           hy.h_priority,
           CAST(CAST(mi.mi_nats / sqrt(hx.h_status * hy.h_priority)
                AS DECIMAL(18,9)) AS DOUBLE) AS nmi
    FROM mi CROSS JOIN hx CROSS JOIN hy
    """,
)
def q_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MI(o_orderstatus; o_orderpriority) in nats plus both marginal
    entropies and sqrt-normalized MI. One groupBy over orders; the
    3x5 contingency table and its margins are broadcast joins.
    Every probability is a ratio of exact BIGINT counts, so the ln
    inputs are identical doubles on both engines."""
    orders = table(spark, sf_dir, "orders")
    joint = orders.groupBy(
        F.col("o_orderstatus").alias("s"),
        F.col("o_orderpriority").alias("p"),
    ).agg(F.count(F.lit(1)).alias("c"))
    joint = joint.localCheckpoint(eager=True)
    mx = joint.groupBy("s").agg(F.sum("c").alias("cx"))
    my = joint.groupBy("p").agg(F.sum("c").alias("cy"))
    tot = joint.agg(F.sum("c").alias("n"))
    terms = (
        joint.join(F.broadcast(mx), "s")
        .join(F.broadcast(my), "p")
        .crossJoin(F.broadcast(tot))
        .select(
            (F.col("c").cast("double") / F.col("n")).alias("pxy"),
            (F.col("cx").cast("double") / F.col("n")).alias("px"),
            (F.col("cy").cast("double") / F.col("n")).alias("py"),
            "n",
        )
    )
    mi = terms.agg(
        F.expr(
            "CAST(SUM(CAST(pxy * ln(pxy / (px * py))"
            " AS DECIMAL(18,12))) AS DOUBLE)"
        ).alias("mi_nats"),
        F.max("n").alias("n"),
    )
    hx = (
        mx.crossJoin(F.broadcast(tot))
        .agg(
            F.expr(
                "CAST(SUM(CAST(-(CAST(cx AS DOUBLE) / n)"
                " * ln(CAST(cx AS DOUBLE) / n)"
                " AS DECIMAL(18,12))) AS DOUBLE)"
            ).alias("h_status")
        )
    )
    hy = (
        my.crossJoin(F.broadcast(tot))
        .agg(
            F.expr(
                "CAST(SUM(CAST(-(CAST(cy AS DOUBLE) / n)"
                " * ln(CAST(cy AS DOUBLE) / n)"
                " AS DECIMAL(18,12))) AS DOUBLE)"
            ).alias("h_priority")
        )
    )
    return (
        mi.crossJoin(F.broadcast(hx))
        .crossJoin(F.broadcast(hy))
        .select(
            F.col("n").cast("bigint").alias("n_orders"),
            "mi_nats",
            "h_status",
            "h_priority",
            F.expr(
                "CAST(CAST(mi_nats / sqrt(h_status * h_priority)"
                " AS DECIMAL(18,9)) AS DOUBLE)"
            ).alias("nmi"),
        )
    )


# ---------------------------------------------------------------------------
# Ranking evaluation — NDCG@10 / MRR / hits@10 per query group: the
# search-quality scorecard run after every ranker change. Nations are
# the query groups, account balance the model score, segment
# membership the relevance label. Every DCG term routes through
# DECIMAL so the per-group sums cannot drift; the ideal-DCG prefix
# table is engine-computed over range(1,11) on both sides.
# ---------------------------------------------------------------------------

@query(
    "q_ndcg_mrr",
    """
    WITH ranked AS (
        SELECT c_nationkey AS nk,
               CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS rel,
               ROW_NUMBER() OVER (PARTITION BY c_nationkey
                                  ORDER BY c_acctbal DESC, c_custkey) AS rk
        FROM customer),
    per_q AS (
        SELECT nk,
               COUNT(*) AS n_cust,
               SUM(rel) AS n_rel,
               SUM(CASE WHEN rk <= 10 THEN
                     CAST(CAST(rel AS DOUBLE) / log2(rk + 1.0)
                          AS DECIMAL(18,9))
                   ELSE CAST(0 AS DECIMAL(18,9)) END) AS dcg,
               SUM(CASE WHEN rk <= 10 THEN rel ELSE 0 END) AS hits10,
               MIN(CASE WHEN rel = 1 THEN rk END) AS first_rel
        FROM ranked GROUP BY nk),
    ideal AS (
        SELECT i,
               SUM(CAST(1.0 / log2(i + 1.0) AS DECIMAL(18,9)))
                 OVER (ORDER BY i) AS idcg
        FROM range(1, 11) t(i))
    SELECT CAST(p.nk AS INTEGER) AS nationkey,
           CAST(p.n_cust AS BIGINT) AS n_cust,
           CAST(p.n_rel AS BIGINT) AS n_rel,
           CAST(p.hits10 AS BIGINT) AS hits10,
           CAST(CASE WHEN p.n_rel = 0 THEN 0.0
                ELSE CAST(CAST(p.dcg AS DOUBLE) / CAST(i.idcg AS DOUBLE)
                          AS DECIMAL(18,9)) END AS DOUBLE) AS ndcg10,
           CAST(COALESCE(CAST(CAST(1.0 AS DOUBLE) / p.first_rel
                              AS DECIMAL(18,9)), 0) AS DOUBLE) AS mrr
    FROM per_q p
    LEFT JOIN ideal i
      ON i.i = LEAST(10, CASE WHEN p.n_rel = 0 THEN 1 ELSE p.n_rel END)
    ORDER BY nationkey
    """,
)
def q_ndcg_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 / MRR / hits@10 with nations as query groups, account
    balance as the ranking score, BUILDING-segment membership as
    relevance. One partitioned window over customer (the per-query
    ranking shape — parallel across groups at any scale); the
    10-row ideal-DCG prefix table is broadcast."""
    cust = table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey")
    )
    ranked = cust.select(
        F.col("c_nationkey").alias("nk"),
        F.when(F.col("c_mktsegment") == "BUILDING", 1).otherwise(0).alias("rel"),
        F.row_number().over(w).alias("rk"),
    )
    per_q = ranked.groupBy("nk").agg(
        F.count(F.lit(1)).alias("n_cust"),
        F.sum("rel").alias("n_rel"),
        F.sum(
            F.expr(
                "CASE WHEN rk <= 10 THEN"
                " CAST(CAST(rel AS DOUBLE) / log2(rk + 1.0)"
                " AS DECIMAL(18,9))"
                " ELSE CAST(0 AS DECIMAL(18,9)) END"
            )
        ).alias("dcg"),
        F.sum(F.expr("CASE WHEN rk <= 10 THEN rel ELSE 0 END")).alias(
            "hits10"
        ),
        F.min(F.expr("CASE WHEN rel = 1 THEN rk END")).alias("first_rel"),
    )
    w_i = Window.orderBy("i").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ideal = (
        spark.range(1, 11)
        .select(F.col("id").alias("i"))
        .select(
            "i",
            F.sum(
                F.expr("CAST(1.0 / log2(i + 1.0) AS DECIMAL(18,9))")
            )
            .over(w_i)
            .alias("idcg"),
        )
    )
    joined = per_q.join(
        F.broadcast(ideal),
        F.col("i")
        == F.least(
            F.lit(10),
            F.when(F.col("n_rel") == 0, 1).otherwise(F.col("n_rel")),
        ),
        "left",
    )
    return joined.select(
        F.col("nk").cast("int").alias("nationkey"),
        F.col("n_cust").cast("bigint"),
        F.col("n_rel").cast("bigint"),
        F.col("hits10").cast("bigint"),
        F.expr(
            "CAST(CASE WHEN n_rel = 0 THEN 0.0"
            " ELSE CAST(CAST(dcg AS DOUBLE) / CAST(idcg AS DOUBLE)"
            " AS DECIMAL(18,9)) END AS DOUBLE)"
        ).alias("ndcg10"),
        F.expr(
            "CAST(COALESCE(CAST(CAST(1.0 AS DOUBLE) / first_rel"
            " AS DECIMAL(18,9)), 0) AS DOUBLE)"
        ).alias("mrr"),
    )


# ---------------------------------------------------------------------------
# Cohen's kappa — chance-corrected agreement between two deterministic
# document raters (the annotation-QA metric): rater A flags long docs
# (n_chars), rater B flags high-'e'-count docs (a row-local proxy
# label). The 2x2 confusion table is exact integers; po/pe/kappa are
# identical double expressions on both engines.
# ---------------------------------------------------------------------------

@query(
    "q_cohens_kappa",
    """
    WITH rated AS (
        SELECT CASE WHEN n_chars >= 600 THEN 1 ELSE 0 END AS a,
               CASE WHEN length(lower(text))
                         - length(replace(lower(text), 'e', '')) >= 50
                    THEN 1 ELSE 0 END AS b
        FROM documents),
    cells AS (
        SELECT COUNT(*) AS n,
               SUM(CASE WHEN a = 1 AND b = 1 THEN 1 ELSE 0 END) AS n11,
               SUM(CASE WHEN a = 0 AND b = 0 THEN 1 ELSE 0 END) AS n00,
               SUM(a) AS a1, SUM(b) AS b1
        FROM rated)
    SELECT CAST(n AS BIGINT) AS n_docs,
           CAST(n11 AS BIGINT) AS both_pos,
           CAST(n00 AS BIGINT) AS both_neg,
           CAST(a1 AS BIGINT) AS rater_a_pos,
           CAST(b1 AS BIGINT) AS rater_b_pos,
           CAST(CAST((CAST(n11 AS DOUBLE) + n00) / n
                AS DECIMAL(18,9)) AS DOUBLE) AS po,
           CAST(CAST((CAST(a1 AS DOUBLE) * b1
                      + CAST(n - a1 AS DOUBLE) * (n - b1))
                     / (CAST(n AS DOUBLE) * n)
                AS DECIMAL(18,9)) AS DOUBLE) AS pe,
           CAST(CAST(((CAST(n11 AS DOUBLE) + n00) / n
                      - (CAST(a1 AS DOUBLE) * b1
                         + CAST(n - a1 AS DOUBLE) * (n - b1))
                        / (CAST(n AS DOUBLE) * n))
                     / (1.0 - (CAST(a1 AS DOUBLE) * b1
                               + CAST(n - a1 AS DOUBLE) * (n - b1))
                              / (CAST(n AS DOUBLE) * n))
                AS DECIMAL(18,9)) AS DOUBLE) AS kappa
    FROM cells
    """,
)
def q_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between two row-local raters over documents:
    single narrow scan, one global aggregate, all statistics derived
    from the exact 2x2 confusion counts."""
    docs = table(spark, sf_dir, "documents")
    rated = docs.select(
        F.expr("CASE WHEN n_chars >= 600 THEN 1 ELSE 0 END").alias("a"),
        F.expr(
            "CASE WHEN length(lower(text))"
            " - length(replace(lower(text), 'e', '')) >= 50"
            " THEN 1 ELSE 0 END"
        ).alias("b"),
    )
    cells = rated.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.expr("CASE WHEN a = 1 AND b = 1 THEN 1 ELSE 0 END")).alias(
            "n11"
        ),
        F.sum(F.expr("CASE WHEN a = 0 AND b = 0 THEN 1 ELSE 0 END")).alias(
            "n00"
        ),
        F.sum("a").alias("a1"),
        F.sum("b").alias("b1"),
    )
    pe_expr = (
        "(CAST(a1 AS DOUBLE) * b1 + CAST(n - a1 AS DOUBLE) * (n - b1))"
        " / (CAST(n AS DOUBLE) * n)"
    )
    po_expr = "(CAST(n11 AS DOUBLE) + n00) / n"
    return cells.select(
        F.col("n").cast("bigint").alias("n_docs"),
        F.col("n11").cast("bigint").alias("both_pos"),
        F.col("n00").cast("bigint").alias("both_neg"),
        F.col("a1").cast("bigint").alias("rater_a_pos"),
        F.col("b1").cast("bigint").alias("rater_b_pos"),
        F.expr(f"CAST(CAST({po_expr} AS DECIMAL(18,9)) AS DOUBLE)").alias(
            "po"
        ),
        F.expr(f"CAST(CAST({pe_expr} AS DECIMAL(18,9)) AS DOUBLE)").alias(
            "pe"
        ),
        F.expr(
            f"CAST(CAST(({po_expr} - {pe_expr}) / (1.0 - {pe_expr})"
            " AS DECIMAL(18,9)) AS DOUBLE)"
        ).alias("kappa"),
    )


# ---------------------------------------------------------------------------
# Apriori frequent triples — level-3 market-basket mining grown from
# the level-2 frequent pairs (q_frequent_pairs): candidate triples are
# only generated by extending a frequent (p1,p2) pair with a third
# item, then pruned against the frequent-pair set on BOTH remaining
# faces — the classic candidate-generation shape that keeps the join
# fan-out proportional to the (small) frequent-pair set, never the
# basket cross-product.
# ---------------------------------------------------------------------------

_FT_SUP = 2


@query(
    "q_frequent_triples",
    f"""
    WITH b AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
    fp AS (
        SELECT b1.p AS p1, b2.p AS p2
        FROM b b1 JOIN b b2 ON b1.o = b2.o AND b1.p < b2.p
        GROUP BY b1.p, b2.p HAVING COUNT(*) >= {_FT_SUP}),
    cand AS (
        SELECT b1.p AS p1, b2.p AS p2, b3.p AS p3, b1.o
        FROM b b1
        JOIN b b2 ON b1.o = b2.o AND b1.p < b2.p
        JOIN fp f12 ON f12.p1 = b1.p AND f12.p2 = b2.p
        JOIN b b3 ON b1.o = b3.o AND b2.p < b3.p
        JOIN fp f13 ON f13.p1 = b1.p AND f13.p2 = b3.p
        JOIN fp f23 ON f23.p1 = b2.p AND f23.p2 = b3.p)
    SELECT CAST(p1 AS BIGINT) AS p1, CAST(p2 AS BIGINT) AS p2,
           CAST(p3 AS BIGINT) AS p3,
           CAST(COUNT(*) AS BIGINT) AS support
    FROM cand GROUP BY p1, p2, p3 HAVING COUNT(*) >= {_FT_SUP}
    ORDER BY support DESC, p1, p2, p3
    """,
)
def q_frequent_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent item TRIPLES at support >= {_FT_SUP} via apriori
    candidate extension: frequent pairs are computed once (one
    basket self-join), then triples exist only where all three faces
    (p1,p2),(p1,p3),(p2,p3) are frequent — the face joins carry the
    level-2 set under a COUNT-GUARDED broadcast (the checkpointed set
    has no stats for the threshold, so its measured row count decides:
    small -> broadcast, corpus-grown -> shuffle joins; at fixed
    ABSOLUTE support the frequent-pair count grows with the corpus,
    so a blind forced hint would OOM — r10 sweep completion), and
    candidate volume tracks the frequent-pair count, not baskets^3."""
    b = basket_items_cached(spark, sf_dir)
    b1 = b.select(F.col("o"), F.col("p").alias("pa"))
    b2 = b.select(F.col("o").alias("o2"), F.col("p").alias("pb"))
    fp = basket_co_counts_cached(spark, sf_dir).where(
        F.col("c") >= _FT_SUP
    ).select("p1", "p2")
    # COUNT-GUARDED broadcast: the checkpoint erased fp's stats (a
    # LogicalRDD carries none), so neither the static threshold nor
    # AQE elects a broadcast and every face join degrades to
    # sort-merge. fp is already materialized, so measuring it is one
    # cheap job — the hint applies only when the level-2 set is
    # PROVABLY small at runtime, and a corpus whose frequent-pair
    # count outgrows the guard (it scales with baskets at fixed
    # absolute support) falls back to shuffle joins instead of
    # OOMing. Measured-then-hinted, never blind-forced.
    fp = F.broadcast(fp) if fp.count() <= 200_000 else fp
    pairs = (
        b1.join(b2, (F.col("o") == F.col("o2")) & (F.col("pa") < F.col("pb")))
        .join(
            fp,
            (F.col("pa") == F.col("p1")) & (F.col("pb") == F.col("p2")),
        )
        .select("o", "pa", "pb")
    )
    b3 = b.select(F.col("o").alias("o3"), F.col("p").alias("pc"))
    f13 = fp.select(F.col("p1").alias("x1"), F.col("p2").alias("x3"))
    f23 = fp.select(F.col("p1").alias("y2"), F.col("p2").alias("y3"))
    cand = (
        pairs.join(
            b3, (F.col("o") == F.col("o3")) & (F.col("pb") < F.col("pc"))
        )
        .join(
            f13,
            (F.col("pa") == F.col("x1")) & (F.col("pc") == F.col("x3")),
        )
        .join(
            f23,
            (F.col("pb") == F.col("y2")) & (F.col("pc") == F.col("y3")),
        )
    )
    return (
        cand.groupBy(
            F.col("pa").cast("bigint").alias("p1"),
            F.col("pb").cast("bigint").alias("p2"),
            F.col("pc").cast("bigint").alias("p3"),
        )
        .agg(F.count(F.lit(1)).alias("support"))
        .where(F.col("support") >= _FT_SUP)
        .select("p1", "p2", "p3", F.col("support").cast("bigint").alias("support"))
    )


# ---------------------------------------------------------------------------
# Observation metrics — Spark's zero-extra-pass pipeline telemetry:
# df.observe() attaches accumulator-backed aggregates to a query so
# row counts / sums / extrema are collected DURING the main action,
# not by a second scan. The one-row metric report is the product; the
# oracle recomputes the same aggregates relationally.
# ---------------------------------------------------------------------------

@query(
    "q_observe_metrics",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
               AS revenue,
           CAST(SUM(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_discounted,
           ROUND(MAX(l_extendedprice), 9) AS max_price
    FROM lineitem WHERE l_quantity >= 10
    """,
)
def q_observe_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline health metrics via ``Observation``: the filtered scan
    is driven once with a noop sink and the metrics ride along on
    accumulators (no second job over the data — at 100 TB this is the
    only affordable way to get QA counters out of an ETL write).
    The returned one-row frame is rebuilt from the observed values."""
    from pyspark.sql import Observation

    li = table(spark, sf_dir, "lineitem")
    obs = Observation("etl_metrics")
    observed = li.where(F.col("l_quantity") >= 10).observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.expr("SUM(CAST(l_extendedprice AS DECIMAL(18,2)))").alias(
            "revenue"
        ),
        F.sum(
            F.when(F.col("l_discount") > 0.05, 1).otherwise(0)
        ).alias("n_discounted"),
        F.max("l_extendedprice").alias("max_price"),
    )
    observed.write.format("noop").mode("overwrite").save()
    m = obs.get
    return spark.createDataFrame(
        [
            (
                int(m["n_rows"]),
                float(m["revenue"]),
                int(m["n_discounted"]),
                round(float(m["max_price"]), 9),
            )
        ],
        "n_rows bigint, revenue double, n_discounted bigint,"
        " max_price double",
    )


# ---------------------------------------------------------------------------
# Association rules — confidence / lift over the frequent pairs
# (the recommendation layer on top of q_frequent_pairs): both rule
# directions per frequent pair, all statistics exact integer ratios.
# ---------------------------------------------------------------------------

_AR_SUP = 2


@query(
    "q_association_rules",
    f"""
    WITH b AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
    n_orders AS (SELECT COUNT(DISTINCT o) AS n FROM b),
    item AS (SELECT p, COUNT(*) AS c FROM b GROUP BY p),
    fp AS (
        SELECT b1.p AS p1, b2.p AS p2, COUNT(*) AS sup
        FROM b b1 JOIN b b2 ON b1.o = b2.o AND b1.p < b2.p
        GROUP BY b1.p, b2.p HAVING COUNT(*) >= {_AR_SUP}),
    rules AS (
        SELECT p1 AS antecedent, p2 AS consequent, sup,
               ia.c AS c_ant, ic.c AS c_con
        FROM fp JOIN item ia ON fp.p1 = ia.p
                JOIN item ic ON fp.p2 = ic.p
        UNION ALL
        SELECT p2, p1, sup, ic.c, ia.c
        FROM fp JOIN item ia ON fp.p1 = ia.p
                JOIN item ic ON fp.p2 = ic.p)
    SELECT CAST(antecedent AS BIGINT) AS antecedent,
           CAST(consequent AS BIGINT) AS consequent,
           CAST(sup AS BIGINT) AS support,
           CAST(CAST(CAST(sup AS DOUBLE) / c_ant AS DECIMAL(18,9))
                AS DOUBLE) AS confidence,
           CAST(CAST(CAST(sup AS DOUBLE) / c_ant
                     / (CAST(c_con AS DOUBLE) / (SELECT n FROM n_orders))
                AS DECIMAL(18,9)) AS DOUBLE) AS lift
    FROM rules
    ORDER BY lift DESC, antecedent, consequent LIMIT 30
    """,
)
def q_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-30 association rules by lift from the frequent-pair set
    (support >= {_AR_SUP}): confidence = sup(A,B)/sup(A), lift =
    confidence / P(B). The item-support table is a broadcast join;
    confidence and lift are exact integer ratios so both engines see
    identical doubles."""
    b = basket_items_cached(spark, sf_dir)
    n_orders = b.select("o").distinct().agg(F.count(F.lit(1)).alias("n"))
    item = b.groupBy("p").agg(F.count(F.lit(1)).alias("c"))
    fp = basket_co_counts_cached(spark, sf_dir).select(
        "p1", "p2", F.col("c").alias("sup")
    ).where(F.col("sup") >= _AR_SUP)
    ia = item.select(F.col("p").alias("p1"), F.col("c").alias("ca"))
    ic = item.select(F.col("p").alias("p2"), F.col("c").alias("cb"))
    joined = fp.join(ia, "p1").join(ic, "p2")
    fwd = joined.select(
        F.col("p1").alias("antecedent"),
        F.col("p2").alias("consequent"),
        "sup",
        F.col("ca").alias("c_ant"),
        F.col("cb").alias("c_con"),
    )
    rev = joined.select(
        F.col("p2").alias("antecedent"),
        F.col("p1").alias("consequent"),
        "sup",
        F.col("cb").alias("c_ant"),
        F.col("ca").alias("c_con"),
    )
    return (
        fwd.unionAll(rev)
        .crossJoin(F.broadcast(n_orders))
        .select(
            F.col("antecedent").cast("bigint"),
            F.col("consequent").cast("bigint"),
            F.col("sup").cast("bigint").alias("support"),
            F.expr(
                "CAST(CAST(CAST(sup AS DOUBLE) / c_ant AS DECIMAL(18,9))"
                " AS DOUBLE)"
            ).alias("confidence"),
            F.expr(
                "CAST(CAST(CAST(sup AS DOUBLE) / c_ant"
                " / (CAST(c_con AS DOUBLE) / n) AS DECIMAL(18,9))"
                " AS DOUBLE)"
            ).alias("lift"),
        )
        .orderBy(F.desc("lift"), "antecedent", "consequent")
        .limit(30)
    )


# ---------------------------------------------------------------------------
# Item-item collaborative filtering — cosine similarity over basket
# co-occurrence counts, the classic "customers also bought" neighbor
# model: sim(i,j) = c_ij / sqrt(c_i * c_j), top-3 neighbors per item.
# Pure count algebra (IEEE sqrt is correctly rounded, so both engines
# see identical doubles); the pair rollup is the only wide shuffle.
# ---------------------------------------------------------------------------

_CF_MIN_CO = 2


@query(
    "q_itemitem_cf",
    f"""
    WITH b AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
    item AS (SELECT p, COUNT(*) AS c FROM b GROUP BY p),
    co AS (
        SELECT b1.p AS p1, b2.p AS p2, COUNT(*) AS cij
        FROM b b1 JOIN b b2 ON b1.o = b2.o AND b1.p < b2.p
        GROUP BY b1.p, b2.p HAVING COUNT(*) >= {_CF_MIN_CO}),
    sym AS (
        SELECT p1 AS i, p2 AS j, cij FROM co
        UNION ALL SELECT p2, p1, cij FROM co),
    scored AS (
        SELECT s.i, s.j, s.cij,
               CAST(s.cij AS DOUBLE) / sqrt(CAST(ci.c * cj.c AS DOUBLE))
                   AS cosine
        FROM sym s JOIN item ci ON s.i = ci.p JOIN item cj ON s.j = cj.p),
    ranked AS (
        SELECT i, j, cij, cosine,
               ROW_NUMBER() OVER (PARTITION BY i
                                  ORDER BY cosine DESC, j) AS rk
        FROM scored)
    SELECT CAST(i AS BIGINT) AS item,
           CAST(j AS BIGINT) AS neighbor,
           CAST(rk AS INTEGER) AS rk,
           CAST(cij AS BIGINT) AS co_count,
           CAST(CAST(cosine AS DECIMAL(18,9)) AS DOUBLE) AS cosine
    FROM ranked WHERE rk <= 3
    ORDER BY item, rk
    """,
)
def q_itemitem_cf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 item-item CF neighbors by co-occurrence cosine
    (co-count >= {_CF_MIN_CO}). The per-item neighbor rank is a
    partitioned window (parallel across items at any scale); item
    supports join in via broadcast."""
    b = basket_items_cached(spark, sf_dir)
    item = b.groupBy("p").agg(F.count(F.lit(1)).alias("c"))
    co = basket_co_counts_cached(spark, sf_dir).select(
        "p1", "p2", F.col("c").alias("cij")
    ).where(F.col("cij") >= _CF_MIN_CO)
    sym = co.select(
        F.col("p1").alias("i"), F.col("p2").alias("j"), "cij"
    ).unionAll(co.select(F.col("p2").alias("i"), F.col("p1").alias("j"), "cij"))
    ci = item.select(F.col("p").alias("i"), F.col("c").alias("c_i"))
    cj = item.select(F.col("p").alias("j"), F.col("c").alias("c_j"))
    scored = (
        sym.join(ci, "i")
        .join(cj, "j")
        .select(
            "i",
            "j",
            "cij",
            F.expr(
                "CAST(cij AS DOUBLE) / sqrt(CAST(c_i * c_j AS DOUBLE))"
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("i").orderBy(F.desc("cosine"), "j")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select(
            F.col("i").cast("bigint").alias("item"),
            F.col("j").cast("bigint").alias("neighbor"),
            F.col("rk").cast("int"),
            F.col("cij").cast("bigint").alias("co_count"),
            F.expr("CAST(CAST(cosine AS DECIMAL(18,9)) AS DOUBLE)").alias(
                "cosine"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Seasonal-residual anomaly days — the ops-dashboard anomaly list:
# day-of-week-adjusted daily revenue residuals scored by robust
# z-score (median/MAD, exact interpolated medians on identical
# doubles). Composes the seasonal-index and MAD building blocks into
# the detection use case.
# ---------------------------------------------------------------------------

@query(
    "q_seasonal_anomaly",
    """
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS d,
               isodow(CAST(o_orderdate AS DATE)) - 1 AS dow,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS x
        FROM orders GROUP BY 1, 2),
    dm AS (
        SELECT dow,
               CAST(SUM(CAST(x AS DECIMAL(24,6))) AS DOUBLE)
                   / COUNT(*) AS mu
        FROM daily GROUP BY dow),
    res AS (
        SELECT daily.d, daily.x, daily.x - dm.mu AS r
        FROM daily JOIN dm ON daily.dow = dm.dow),
    med AS (SELECT quantile_cont(r, 0.5) AS m FROM res),
    mad AS (
        SELECT quantile_cont(abs(r - (SELECT m FROM med)), 0.5) AS s
        FROM res)
    SELECT strftime(d, '%Y-%m-%d') AS day,
           CAST(CAST(x AS DECIMAL(18,2)) AS DOUBLE) AS revenue,
           CAST(CAST(r AS DECIMAL(18,6)) AS DOUBLE) AS residual,
           CAST(CAST(abs(r - (SELECT m FROM med)) / (SELECT s FROM mad)
                AS DECIMAL(18,9)) AS DOUBLE) AS robust_z
    FROM res
    WHERE abs(r - (SELECT m FROM med)) > 5 * (SELECT s FROM mad)
    ORDER BY robust_z DESC, day LIMIT 15
    """,
)
def q_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anomalous revenue days after removing day-of-week seasonality:
    residual vs the dow mean, flagged when |r - median| > 5 MAD.
    One day rollup, a broadcast 7-row seasonal mean join, and two
    exact medians over the (calendar-bounded) residual series."""
    orders = table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.expr("CAST(o_orderdate AS DATE)").alias("d"),
        F.expr("weekday(CAST(o_orderdate AS DATE))").alias("dow"),
    ).agg(
        F.expr(
            "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)"
        ).alias("x")
    )
    dm = daily.groupBy("dow").agg(
        F.expr(
            "CAST(SUM(CAST(x AS DECIMAL(24,6))) AS DOUBLE) / COUNT(*)"
        ).alias("mu")
    )
    res = daily.join(F.broadcast(dm), "dow").select(
        "d", "x", (F.col("x") - F.col("mu")).alias("r")
    )
    res = res.localCheckpoint(eager=True)
    med = res.agg(F.expr("percentile(r, 0.5)").alias("m"))
    scored = res.crossJoin(F.broadcast(med))
    mad = scored.agg(
        F.expr("percentile(abs(r - m), 0.5)").alias("s")
    )
    return (
        scored.crossJoin(F.broadcast(mad))
        .where(F.expr("abs(r - m) > 5 * s"))
        .select(
            F.expr("date_format(d, 'yyyy-MM-dd')").alias("day"),
            F.expr("CAST(CAST(x AS DECIMAL(18,2)) AS DOUBLE)").alias(
                "revenue"
            ),
            F.expr("CAST(CAST(r AS DECIMAL(18,6)) AS DOUBLE)").alias(
                "residual"
            ),
            F.expr(
                "CAST(CAST(abs(r - m) / s AS DECIMAL(18,9)) AS DOUBLE)"
            ).alias("robust_z"),
        )
        .orderBy(F.desc("robust_z"), "day")
        .limit(15)
    )


# ---------------------------------------------------------------------------
# Burstiness index — inter-arrival regularity per user, the bot/
# anomaly fingerprint: B = (sigma - mu)/(sigma + mu) over second-grain
# event gaps (B -> -1 periodic, 0 Poisson, -> 1 bursty). Second-grain
# integer gaps keep BOTH moment sums exact BIGINTs, so the doubles
# fed to sqrt are identical cross-engine.
# ---------------------------------------------------------------------------

@query(
    "q_burstiness",
    f"""
    WITH {EVENTS_US_CTE},
    seq AS (
        SELECT user_id,
               (ts_ns // 1000 - LAG(ts_ns // 1000) OVER
                   (PARTITION BY user_id ORDER BY ts_ns, event_id))
               // 1000000 AS gap_s
        FROM events_us),
    gaps AS (SELECT user_id, gap_s FROM seq WHERE gap_s IS NOT NULL),
    mom AS (
        SELECT user_id, COUNT(*) AS n,
               CAST(SUM(gap_s) AS BIGINT) AS s1,
               CAST(SUM(gap_s * gap_s) AS BIGINT) AS s2
        FROM gaps GROUP BY user_id HAVING COUNT(*) >= 5),
    stats AS (
        SELECT user_id, n, s1,
               CAST(s1 AS DOUBLE) / n AS mu,
               sqrt(CAST(s2 AS DOUBLE) / n
                    - (CAST(s1 AS DOUBLE) / n)
                      * (CAST(s1 AS DOUBLE) / n)) AS sigma
        FROM mom)
    SELECT CAST(user_id AS BIGINT) AS user_id,
           CAST(n AS BIGINT) AS n_gaps,
           CAST(s1 // n AS BIGINT) AS mean_gap_s,
           CAST(CAST((sigma - mu) / (sigma + mu) AS DECIMAL(18,9))
                AS DOUBLE) AS burstiness
    FROM stats
    ORDER BY burstiness DESC, user_id LIMIT 20
    """,
)
def q_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 burstiest users by the Goh-Barabasi burstiness index
    over second-grain inter-arrival gaps (>= 5 gaps). One partitioned
    lag window + one rollup; both moment sums stay exact integers
    (seconds grain bounds gap^2 sums far below 2^63)."""
    ev = table(spark, sf_dir, "events").select(
        "event_id", "user_id", F.unix_micros("ts").alias("t_us")
    )
    w = Window.partitionBy("user_id").orderBy("t_us", "event_id")
    seq = ev.select(
        "user_id",
        F.expr(
            "(t_us - LAG(t_us) OVER"
            " (PARTITION BY user_id ORDER BY t_us, event_id))"
            " DIV 1000000"
        ).alias("gap_s"),
    )
    gaps = seq.where(F.col("gap_s").isNotNull())
    mom = (
        gaps.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("gap_s").cast("bigint").alias("s1"),
            F.sum(F.col("gap_s") * F.col("gap_s")).cast("bigint").alias("s2"),
        )
        .where(F.col("n") >= 5)
    )
    stats = mom.select(
        "user_id",
        "n",
        "s1",
        F.expr("CAST(s1 AS DOUBLE) / n").alias("mu"),
        F.expr(
            "sqrt(CAST(s2 AS DOUBLE) / n"
            " - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))"
        ).alias("sigma"),
    )
    return (
        stats.select(
            F.col("user_id").cast("bigint"),
            F.col("n").cast("bigint").alias("n_gaps"),
            F.expr("CAST(s1 DIV n AS BIGINT)").alias("mean_gap_s"),
            F.expr(
                "CAST(CAST((sigma - mu) / (sigma + mu) AS DECIMAL(18,9))"
                " AS DOUBLE)"
            ).alias("burstiness"),
        )
        .orderBy(F.desc("burstiness"), "user_id")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Markov transition matrix — the next-event model behind "users who do
# A then do B": per-user event streams ordered by time, consecutive
# pairs rolled into P(next | prev) as integer ppm. Distinct from
# q_session_path_ngrams (top whole paths): this is the full conditional
# matrix, the input to next-click prediction / funnel simulation.
# ---------------------------------------------------------------------------

@query(
    "q_markov_transitions",
    f"""
    WITH {EVENTS_US_CTE},
    seq AS (
        SELECT user_id, epoch_ns(ts)//1000 AS us, event_id, event_type
        FROM events_us),
    trans AS (
        SELECT LAG(event_type) OVER w AS prev_event,
               event_type AS next_event
        FROM seq
        WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
    pc AS (
        SELECT prev_event, next_event, COUNT(*) AS n_pair
        FROM trans WHERE prev_event IS NOT NULL
        GROUP BY prev_event, next_event),
    tot AS (
        SELECT prev_event, SUM(n_pair) AS n_from FROM pc
        GROUP BY prev_event)
    SELECT p.prev_event, p.next_event,
           CAST(p.n_pair AS BIGINT) AS n_pair,
           CAST(t.n_from AS BIGINT) AS n_from,
           CAST(p.n_pair * 1000000 // t.n_from AS BIGINT) AS prob_ppm
    FROM pc p JOIN tot t USING (prev_event)
    ORDER BY prev_event, next_event
    """,
)
def q_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    streams: P(next_event | prev_event) in integer ppm, deterministic
    ordering by (ts, event_id). One window pass (partitioned by user —
    no global sort), one pair hash-agg, and a broadcast join against
    the per-prev totals (state cardinality is tiny at any scale)."""
    ev = table(spark, sf_dir, "events")
    seq = ev.select(
        "user_id",
        F.unix_micros("ts").alias("us"),
        "event_id",
        "event_type",
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    trans = (
        seq.withColumn("prev_event", F.lag("event_type").over(w))
        .where(F.col("prev_event").isNotNull())
        .select("prev_event", F.col("event_type").alias("next_event"))
    )
    pc = trans.groupBy("prev_event", "next_event").agg(
        F.count(F.lit(1)).alias("n_pair")
    )
    tot = pc.groupBy("prev_event").agg(F.sum("n_pair").alias("n_from"))
    return (
        pc.join(F.broadcast(tot), "prev_event")
        .select(
            "prev_event",
            "next_event",
            F.col("n_pair").cast("bigint"),
            F.col("n_from").cast("bigint"),
            F.expr("CAST(n_pair * 1000000 DIV n_from AS BIGINT)").alias(
                "prob_ppm"
            ),
        )
    )


# ---------------------------------------------------------------------------
# k-anonymity audit — training-data governance: every quasi-identifier
# group must hold >= K records before release. Groups violating K are
# generalized up a fixed ladder (nation+segment -> nation -> *), the
# one-step Mondrian/Datafly move, and re-checked at each level.
# ---------------------------------------------------------------------------

_KANON_K = 5


@query(
    "q_k_anonymity",
    f"""
    WITH base AS (
        SELECT CAST(c_nationkey AS VARCHAR) AS nat, c_mktsegment AS seg
        FROM customer),
    g1 AS (
        SELECT nat, seg, COUNT(*) AS n FROM base GROUP BY nat, seg),
    ok1 AS (
        SELECT nat, seg, n, 0 AS level FROM g1 WHERE n >= {_KANON_K}),
    v1rows AS (
        SELECT b.nat FROM base b
        JOIN (SELECT nat, seg FROM g1 WHERE n < {_KANON_K}) v
        USING (nat, seg)),
    g2 AS (
        SELECT nat, COUNT(*) AS n FROM v1rows GROUP BY nat),
    ok2 AS (
        SELECT nat, '*' AS seg, n, 1 AS level FROM g2
        WHERE n >= {_KANON_K}),
    g3 AS (
        SELECT COUNT(*) AS n FROM v1rows
        JOIN (SELECT nat FROM g2 WHERE n < {_KANON_K}) v USING (nat)),
    ok3 AS (
        SELECT '*' AS nat, '*' AS seg, n, 2 AS level FROM g3 WHERE n > 0)
    SELECT nat AS nat_qi, seg AS seg_qi, CAST(n AS BIGINT) AS n,
           CAST(level AS INT) AS level
    FROM (SELECT * FROM ok1 UNION ALL SELECT * FROM ok2
          UNION ALL SELECT * FROM ok3)
    ORDER BY level, nat_qi, seg_qi
    """,
)
def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity release audit (K={_KANON_K}) over the
    (nation, segment) quasi-identifier: compliant groups publish at
    level 0; violating rows generalize segment -> '*' (level 1), then
    nation -> '*' (level 2) until every published group holds >= K
    records. Two hash-aggs plus one broadcast semi-join per ladder
    step — the violating-key sets are tiny by construction (each
    violating group has < K rows), so every re-group join broadcasts."""
    c = table(spark, sf_dir, "customer")
    base = c.select(
        F.col("c_nationkey").cast("string").alias("nat"),
        F.col("c_mktsegment").alias("seg"),
    )
    g1 = base.groupBy("nat", "seg").agg(F.count(F.lit(1)).alias("n"))
    ok1 = g1.where(F.col("n") >= _KANON_K).select(
        "nat", "seg", "n", F.lit(0).alias("level")
    )
    v1rows = base.join(
        F.broadcast(g1.where(F.col("n") < _KANON_K).select("nat", "seg")),
        ["nat", "seg"],
    ).select("nat")
    g2 = v1rows.groupBy("nat").agg(F.count(F.lit(1)).alias("n"))
    ok2 = g2.where(F.col("n") >= _KANON_K).select(
        "nat", F.lit("*").alias("seg"), "n", F.lit(1).alias("level")
    )
    g3 = v1rows.join(
        F.broadcast(g2.where(F.col("n") < _KANON_K).select("nat")), "nat"
    ).agg(F.count(F.lit(1)).alias("n"))
    ok3 = g3.where(F.col("n") > 0).select(
        F.lit("*").alias("nat"),
        F.lit("*").alias("seg"),
        "n",
        F.lit(2).alias("level"),
    )
    return (
        ok1.unionByName(ok2)
        .unionByName(ok3)
        .select(
            F.col("nat").alias("nat_qi"),
            F.col("seg").alias("seg_qi"),
            F.col("n").cast("bigint"),
            F.col("level").cast("int"),
        )
        .transform(sort_bounded, "level", "nat_qi", "seg_qi")
    )


# ---------------------------------------------------------------------------
# Day-of-week × hour activity heatmap — the calendar-seasonality
# profile behind every ops dashboard: event counts per (ISO weekday,
# hour) cell plus deviation from the uniform expectation in signed
# ppm. One rollup to 168 cells; the deviation math is integer.
# ---------------------------------------------------------------------------

@query(
    "q_dow_hour_heatmap",
    f"""
    WITH {EVENTS_US_CTE},
    cells AS (
        SELECT isodow(ts) AS dow, EXTRACT(hour FROM ts) AS hh,
               COUNT(*) AS n
        FROM events_us GROUP BY 1, 2)
    SELECT CAST(dow AS INT) AS dow, CAST(hh AS INT) AS hh,
           CAST(n AS BIGINT) AS n,
           CAST(n * COUNT(*) OVER () * 1000000 // SUM(n) OVER ()
                - 1000000 AS BIGINT) AS dev_ppm
    FROM cells ORDER BY dow, hh
    """,
)
def q_dow_hour_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event volume per (ISO weekday, hour) with deviation from the
    uniform rate in signed ppm: dev = n·cells/total − 1 scaled 1e6,
    all integer (DIV). Spark's weekday() is 0=Monday, DuckDB's isodow
    1=Monday — the +1 encodes the convention. One shuffle to at most
    168 cells; the share windows run over those cells."""
    ev = table(spark, sf_dir, "events")
    cells = ev.groupBy(
        (F.weekday("ts") + 1).alias("dow"),
        F.hour("ts").alias("hh"),
    ).agg(F.count(F.lit(1)).alias("n"))
    return cells.select(
        F.col("dow").cast("int").alias("dow"),
        F.col("hh").cast("int").alias("hh"),
        F.col("n").cast("bigint").alias("n"),
        F.expr(
            "CAST(n * COUNT(*) OVER () * 1000000 DIV SUM(n) OVER ()"
            " - 1000000 AS BIGINT)"
        ).alias("dev_ppm"),
    ).orderBy("dow", "hh")


# ---------------------------------------------------------------------------
# DAU/MAU stickiness — the product-engagement ratio: mean daily
# actives over monthly actives per calendar month, in integer ppm.
# Two distinct-count grains off one scan; everything after is
# month-table-sized.
# ---------------------------------------------------------------------------

@query(
    "q_dau_mau_stickiness",
    f"""
    WITH {EVENTS_US_CTE},
    dau AS (
        SELECT strftime(date_trunc('month', ts), '%Y-%m') AS month,
               CAST(ts AS DATE) AS day,
               COUNT(DISTINCT user_id) AS dau
        FROM events_us GROUP BY 1, 2),
    mau AS (
        SELECT strftime(date_trunc('month', ts), '%Y-%m') AS month,
               COUNT(DISTINCT user_id) AS mau
        FROM events_us GROUP BY 1),
    daily AS (
        SELECT month, COUNT(*) AS n_days, CAST(SUM(dau) AS BIGINT)
                   AS dau_sum
        FROM dau GROUP BY month)
    SELECT d.month, CAST(d.n_days AS BIGINT) AS n_days,
           d.dau_sum, CAST(m.mau AS BIGINT) AS mau,
           CAST(d.dau_sum * 1000000 // (d.n_days * m.mau) AS BIGINT)
               AS stickiness_ppm
    FROM daily d JOIN mau m ON d.month = m.month
    ORDER BY d.month
    """,
)
def q_dau_mau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/MAU per month: distinct users at day grain, distinct users
    at month grain, stickiness = mean-DAU/MAU in integer ppm. The two
    exact distincts are the only shuffles (at 100 TB both would swap
    to the mergeable HLL/theta sketches already registered —
    q_hll_distinct_merge/q_datasketches_native); the join and ratio
    run on the month table. The classic habit-strength metric."""
    ev = table(spark, sf_dir, "events")
    base = ev.select(
        F.date_format(F.date_trunc("month", "ts"), "yyyy-MM").alias(
            "month"
        ),
        F.col("ts").cast("date").alias("day"),
        "user_id",
    )
    dau = base.groupBy("month", "day").agg(
        F.countDistinct("user_id").alias("dau")
    )
    mau = base.groupBy("month").agg(
        F.countDistinct("user_id").alias("mau")
    )
    daily = dau.groupBy("month").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("dau").cast("bigint").alias("dau_sum"),
    )
    return (
        daily.join(F.broadcast(mau), "month")
        .select(
            "month",
            F.col("n_days").cast("bigint").alias("n_days"),
            "dau_sum",
            F.col("mau").cast("bigint").alias("mau"),
            F.expr(
                "CAST(dau_sum * 1000000 DIV (n_days * mau) AS BIGINT)"
            ).alias("stickiness_ppm"),
        )
        .transform(sort_bounded, "month")
    )


# ---------------------------------------------------------------------------
# New vs returning users by day — the growth-accounting split: each
# day's actives decompose into first-ever-seen and returning. First
# appearance is one MIN rollup per user (the q_heaps_law idiom on
# users instead of terms); no day ever rescans history.
# ---------------------------------------------------------------------------

@query(
    "q_new_vs_returning",
    f"""
    WITH {EVENTS_US_CTE},
    user_day AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events_us),
    first_day AS (
        SELECT user_id, MIN(day) AS day FROM user_day GROUP BY user_id),
    news AS (
        SELECT day, COUNT(*) AS n_new FROM first_day GROUP BY day),
    actives AS (
        SELECT day, COUNT(*) AS n_active FROM user_day GROUP BY day)
    SELECT strftime(a.day, '%Y-%m-%d') AS day,
           CAST(a.n_active AS BIGINT) AS n_active,
           CAST(COALESCE(n.n_new, 0) AS BIGINT) AS n_new,
           CAST(a.n_active - COALESCE(n.n_new, 0) AS BIGINT)
               AS n_returning,
           CAST(COALESCE(n.n_new, 0) * 1000000 // a.n_active AS BIGINT)
               AS new_share_ppm
    FROM actives a LEFT JOIN news n ON a.day = n.day
    ORDER BY day LIMIT 45
    """,
)
def q_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily active users split into new (first-ever day) and
    returning: one distinct to (user, day) grain, one MIN rollup for
    first appearances, one day-grain join — the growth-accounting
    decomposition without any cumulative rescan or window over
    history. First 45 days shown; new_share_ppm trending to zero is
    the saturation signal."""
    ev = table(spark, sf_dir, "events")
    user_day = ev.select(
        "user_id", F.col("ts").cast("date").alias("day")
    ).distinct()
    first_day = user_day.groupBy("user_id").agg(F.min("day").alias("day"))
    news = first_day.groupBy("day").agg(F.count(F.lit(1)).alias("n_new"))
    actives = user_day.groupBy("day").agg(
        F.count(F.lit(1)).alias("n_active")
    )
    return (
        actives.join(news, "day", "left")
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.col("n_active").cast("bigint").alias("n_active"),
            F.coalesce(F.col("n_new"), F.lit(0))
            .cast("bigint")
            .alias("n_new"),
            F.expr(
                "CAST(n_active - COALESCE(n_new, 0) AS BIGINT)"
            ).alias("n_returning"),
            F.expr(
                "CAST(COALESCE(n_new, 0) * 1000000 DIV n_active"
                " AS BIGINT)"
            ).alias("new_share_ppm"),
        )
        .orderBy("day")
        .limit(45)
    )


# ---------------------------------------------------------------------------
# l-diversity audit — k-anonymity's necessary companion: a QI group
# can be k-large yet leak if everyone shares the same sensitive
# value. Per (nation, segment) group: size, distinct sensitive
# values (order-priority band of the customer's orders), and the
# most-frequent-value share in ppm; the release flag is the
# distinct-l >= L rule.
# ---------------------------------------------------------------------------

_LDIV_L = 3


@query(
    "q_l_diversity",
    f"""
    WITH joined AS (
        SELECT CAST(c.c_nationkey AS VARCHAR) AS nat,
               c.c_mktsegment AS seg,
               o.o_orderpriority AS sens
        FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey),
    per_val AS (
        SELECT nat, seg, sens, COUNT(*) AS n
        FROM joined GROUP BY nat, seg, sens),
    per_grp AS (
        SELECT nat, seg,
               CAST(SUM(n) AS BIGINT) AS group_n,
               CAST(COUNT(*) AS BIGINT) AS l_distinct,
               CAST(MAX(n) AS BIGINT) AS top_val_n
        FROM per_val GROUP BY nat, seg)
    SELECT nat AS nat_qi, seg AS seg_qi, group_n, l_distinct,
           CAST(top_val_n * 1000000 // group_n AS BIGINT)
               AS top_share_ppm,
           l_distinct >= {_LDIV_L} AS diverse_flag
    FROM per_grp ORDER BY nat_qi, seg_qi
    """,
)
def q_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct l-diversity (L={_LDIV_L}) over the same
    (nation, segment) QI as q_k_anonymity, with order priority as the
    sensitive attribute: per-group distinct sensitive count, the
    dominant value's share in ppm (the homogeneity-attack measure),
    and the release flag. Two nested rollups, no windows; at scale
    this is one shuffle to the (QI, sensitive) grain then group-
    table-sized work. Read with q_k_anonymity — size alone is not
    privacy."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    joined = c.join(o, o.o_custkey == c.c_custkey).select(
        F.col("c_nationkey").cast("string").alias("nat"),
        F.col("c_mktsegment").alias("seg"),
        F.col("o_orderpriority").alias("sens"),
    )
    per_val = joined.groupBy("nat", "seg", "sens").agg(
        F.count(F.lit(1)).alias("n")
    )
    per_grp = per_val.groupBy("nat", "seg").agg(
        F.sum("n").cast("bigint").alias("group_n"),
        F.count(F.lit(1)).cast("bigint").alias("l_distinct"),
        F.max("n").cast("bigint").alias("top_val_n"),
    )
    return per_grp.select(
        F.col("nat").alias("nat_qi"),
        F.col("seg").alias("seg_qi"),
        "group_n",
        "l_distinct",
        F.expr(
            "CAST(top_val_n * 1000000 DIV group_n AS BIGINT)"
        ).alias("top_share_ppm"),
        (F.col("l_distinct") >= _LDIV_L).alias("diverse_flag"),
    ).transform(sort_bounded, "nat_qi", "seg_qi")


# ---------------------------------------------------------------------------
# Retention/TTL audit — the governance sweep before a deletion run:
# per order-month, rows past a fixed TTL cutoff, the month's share of
# expired mass, and whether the whole partition can drop (everything
# expired → metadata-only delete) or needs a rewrite.
# ---------------------------------------------------------------------------

@query(
    "q_retention_audit",
    """
    WITH base AS (
        SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m')
                   AS month,
               CASE WHEN o_orderdate < TIMESTAMP '1998-01-01'
                    THEN 1 ELSE 0 END AS expired
        FROM orders),
    per_month AS (
        SELECT month, COUNT(*) AS n_rows,
               CAST(SUM(expired) AS BIGINT) AS n_expired
        FROM base GROUP BY month)
    SELECT month, CAST(n_rows AS BIGINT) AS n_rows, n_expired,
           CAST(n_expired * 1000000 // n_rows AS BIGINT)
               AS expired_share_ppm,
           CASE WHEN n_expired = n_rows THEN 'DROP_PARTITION'
                WHEN n_expired = 0 THEN 'KEEP'
                ELSE 'REWRITE' END AS action
    FROM per_month ORDER BY month
    """,
)
def q_retention_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TTL sweep over order months against a fixed 1998-01-01 cutoff
    (mid-range for this fixture's 1995-2001 span): per month-
    partition row counts, expired counts, expired share in ppm, and
    the DROP_PARTITION / REWRITE / KEEP action a retention job would
    take — month-aligned data makes every expired partition a
    metadata-only drop, which is exactly why layout and retention
    policy must agree. One rollup; the action column is row-local."""
    o = table(spark, sf_dir, "orders")
    base = o.select(
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM")
        .alias("month"),
        F.when(
            F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"),
            1,
        )
        .otherwise(0)
        .alias("expired"),
    )
    per_month = base.groupBy("month").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("expired").cast("bigint").alias("n_expired"),
    )
    return per_month.select(
        "month",
        F.col("n_rows").cast("bigint").alias("n_rows"),
        "n_expired",
        F.expr(
            "CAST(n_expired * 1000000 DIV n_rows AS BIGINT)"
        ).alias("expired_share_ppm"),
        F.expr(
            "CASE WHEN n_expired = n_rows THEN 'DROP_PARTITION'"
            " WHEN n_expired = 0 THEN 'KEEP'"
            " ELSE 'REWRITE' END"
        ).alias("action"),
    ).transform(sort_bounded, "month")


# ---------------------------------------------------------------------------
# Table checksum — order-independent content fingerprint for
# replication / migration verification: each row canonicalizes to a
# string, hashes to a 32-bit word, and the table's checksum is the
# exact BIGINT sum (commutative, so partitioning and row order can't
# change it). Two tables diff by comparing one row.
# ---------------------------------------------------------------------------

@query(
    "q_table_checksum",
    """
    WITH rows_c AS (
        SELECT ('0x' || substr(md5(
                   CAST(c_custkey AS VARCHAR) || '|' || c_name || '|' ||
                   CAST(c_nationkey AS VARCHAR) || '|' ||
                   CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS VARCHAR)
                   || '|' || c_mktsegment), 1, 8))::BIGINT AS h
        FROM customer)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(h) AS BIGINT) AS checksum,
           CAST(MIN(h) AS BIGINT) AS min_h,
           CAST(MAX(h) AS BIGINT) AS max_h
    FROM rows_c
    """,
)
def q_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content checksum of customer: canonical row string (money
    snapped to DECIMAL(18,2) so both engines print identically — the
    q_analyze_stats lesson), md5 → 32-bit word, order-independent
    BIGINT sum plus min/max sentinels. Replicas, migrations, and
    engine ports verify by comparing this one row; the sum form
    means the check is partial-aggregation-friendly and immune to
    row order and partitioning. One scan, one agg."""
    c = table(spark, sf_dir, "customer")
    rows_c = c.select(
        F.expr(
            "CAST(conv(substr(md5(concat("
            "CAST(c_custkey AS STRING), '|', c_name, '|',"
            "CAST(c_nationkey AS STRING), '|',"
            "CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS STRING),"
            " '|', c_mktsegment)), 1, 8), 16, 10) AS BIGINT)"
        ).alias("h")
    )
    return rows_c.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum("h").cast("bigint").alias("checksum"),
        F.min("h").cast("bigint").alias("min_h"),
        F.max("h").cast("bigint").alias("max_h"),
    )


# ---------------------------------------------------------------------------
# Time-series feature matrix — the supervised-learning view of daily
# revenue: lag-1/lag-7 values, 7-day trailing mean (excluding today),
# and day-of-week, per day. What a forecasting pipeline feeds its
# regressor; every window runs post-agg on the daily grain.
# ---------------------------------------------------------------------------

@query(
    "q_ts_feature_matrix",
    """
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               isodow(o_orderdate) AS dow,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * 100)
                    AS BIGINT) AS y_c
        FROM orders GROUP BY 1, 2),
    feat AS (
        SELECT day, dow, y_c,
               LAG(y_c, 1) OVER w AS lag1_c,
               LAG(y_c, 7) OVER w AS lag7_c,
               CAST(SUM(y_c) OVER (ORDER BY day
                        ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
                    // COUNT(*) OVER (ORDER BY day
                        ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
                    AS BIGINT) AS trail7_mean_c
        FROM daily
        WINDOW w AS (ORDER BY day))
    SELECT strftime(day, '%Y-%m-%d') AS day, CAST(dow AS INT) AS dow,
           y_c, lag1_c, lag7_c, trail7_mean_c
    FROM feat WHERE lag7_c IS NOT NULL
    ORDER BY day LIMIT 40
    """,
)
def q_ts_feature_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecasting feature matrix over daily revenue: target in exact
    cents, lag-1/lag-7, trailing-7 mean that EXCLUDES the current row
    (no target leakage — the frame ends at 1 PRECEDING), day-of-week
    (ISO). Rows before a full lag-7 history are dropped, first 40
    emitted. The leakage-safe frame is the point: a naive rolling
    mean that includes today gives a regressor its own target."""
    o = table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.col("o_orderdate").cast("date").alias("day"),
        (F.weekday("o_orderdate") + 1).alias("dow"),
    ).agg(
        F.expr(
            "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * 100)"
            " AS BIGINT)"
        ).alias("y_c")
    )
    w = Window.orderBy("day")
    feat = daily.select(
        "day",
        "dow",
        "y_c",
        F.lag("y_c", 1).over(w).alias("lag1_c"),
        F.lag("y_c", 7).over(w).alias("lag7_c"),
        F.expr(
            "CAST(SUM(y_c) OVER (ORDER BY day"
            " ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)"
            " DIV COUNT(*) OVER (ORDER BY day"
            " ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS BIGINT)"
        ).alias("trail7_mean_c"),
    )
    return (
        feat.where(F.col("lag7_c").isNotNull())
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.col("dow").cast("int").alias("dow"),
            "y_c",
            "lag1_c",
            "lag7_c",
            "trail7_mean_c",
        )
        .orderBy("day")
        .limit(40)
    )


# ---------------------------------------------------------------------------
# Wald–Wolfowitz runs test — is daily revenue's above/below-mean
# sequence random, or does it trend/oscillate? The nonparametric
# sanity check behind every "is this metric drifting" alert; signs
# and run counts are exact integers, only the final z is a double.
# ---------------------------------------------------------------------------

@query(
    "q_runs_test",
    """
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * 100)
                    AS BIGINT) AS rev_c
        FROM orders GROUP BY 1),
    tot AS (SELECT COUNT(*) AS nn, SUM(rev_c) AS s1 FROM daily),
    signs AS (
        SELECT day,
               CASE WHEN rev_c > s1 // nn THEN 1 ELSE 0 END AS sgn
        FROM daily, tot),
    lagged AS (
        SELECT sgn, LAG(sgn) OVER (ORDER BY day) AS prev FROM signs),
    runs AS (
        SELECT COUNT(*) AS nn, SUM(sgn) AS n1,
               COUNT(*) - SUM(sgn) AS n2,
               1 + SUM(CASE WHEN sgn <> prev THEN 1 ELSE 0 END) AS r
        FROM lagged)
    SELECT CAST(nn AS BIGINT) AS n_days,
           CAST(n1 AS BIGINT) AS n_above,
           CAST(n2 AS BIGINT) AS n_below,
           CAST(r AS BIGINT) AS runs,
           CAST(floor((r - (CAST(2 * n1 * n2 AS DOUBLE) / nn + 1))
                / sqrt(CAST(2 * n1 * n2 AS DOUBLE) * (2 * n1 * n2 - nn)
                       / nn / nn / (nn - 1)) * 1000) AS BIGINT)
               AS z_milli
    FROM runs
    """,
)
def q_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runs test on daily revenue vs its floored mean (S1 DIV N —
    exact, so the above/below signs are identical cross-engine;
    equal-to-mean counts as below). Runs counted by a LAG sign-change
    sum; z from the classic mean/variance formula as one IEEE chain,
    floored to milli. The window is the post-agg daily grain (~2.4k
    rows), the sanctioned tiny-single-partition shape. A |z| >> 0
    says the series trends (too few runs) or oscillates (too many) —
    either way, naive day-over-day alerts will misfire."""
    o = table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.expr(
            "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * 100)"
            " AS BIGINT)"
        ).alias("rev_c")
    )
    tot = daily.agg(
        F.count(F.lit(1)).alias("nn"), F.sum("rev_c").alias("s1")
    )
    signs = daily.join(F.broadcast(tot)).select(
        "day",
        F.expr(
            "CASE WHEN rev_c > s1 DIV nn THEN 1 ELSE 0 END"
        ).alias("sgn"),
    )
    lagged = signs.select(
        "sgn", F.lag("sgn").over(Window.orderBy("day")).alias("prev")
    )
    runs = lagged.agg(
        F.count(F.lit(1)).alias("nn"),
        F.sum("sgn").alias("n1"),
        F.expr("COUNT(*) - SUM(sgn)").alias("n2"),
        F.expr(
            "1 + SUM(CASE WHEN sgn <> prev THEN 1 ELSE 0 END)"
        ).alias("r"),
    )
    return runs.select(
        F.col("nn").cast("bigint").alias("n_days"),
        F.col("n1").cast("bigint").alias("n_above"),
        F.col("n2").cast("bigint").alias("n_below"),
        F.col("r").cast("bigint").alias("runs"),
        F.expr(
            "CAST(floor((r - (CAST(2 * n1 * n2 AS DOUBLE) / nn + 1))"
            " / sqrt(CAST(2 * n1 * n2 AS DOUBLE) * (2 * n1 * n2 - nn)"
            " / nn / nn / (nn - 1)) * 1000) AS BIGINT)"
        ).alias("z_milli"),
    )


# ---------------------------------------------------------------------------
# Markov entropy rate — how predictable is the next event given the
# current one? The one-number summary of q_markov_transitions'
# matrix: H = Σ_i (n_i/T)·H_i in bits/transition, vs the uniform
# ceiling log2(k). Per-cell entropy terms are fixed-point floored
# BIGINTs before summing, so the statistic is order-independent.
# ---------------------------------------------------------------------------

@query(
    "q_markov_entropy_rate",
    f"""
    WITH {EVENTS_US_CTE},
    seq AS (
        SELECT user_id, epoch_ns(ts)//1000 AS us, event_id, event_type
        FROM events_us),
    trans AS (
        SELECT LAG(event_type) OVER w AS prev_event,
               event_type AS next_event
        FROM seq
        WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
    pc AS (
        SELECT prev_event, next_event, COUNT(*) AS n_pair
        FROM trans WHERE prev_event IS NOT NULL
        GROUP BY prev_event, next_event),
    tot AS (
        SELECT prev_event, SUM(n_pair) AS n_from FROM pc
        GROUP BY prev_event),
    cells AS (
        SELECT p.n_pair,
               CAST(floor(CAST(p.n_pair AS DOUBLE)
                          * (ln(CAST(t.n_from AS DOUBLE))
                             - ln(CAST(p.n_pair AS DOUBLE)))
                          / ln(2) * 1000) AS BIGINT) AS h_fix
        FROM pc p JOIN tot t USING (prev_event)),
    agg AS (
        SELECT SUM(n_pair) AS t, SUM(h_fix) AS s,
               (SELECT COUNT(*) FROM tot) AS k
        FROM cells)
    SELECT CAST(k AS BIGINT) AS n_states,
           CAST(t AS BIGINT) AS n_transitions,
           CAST(floor(CAST(s AS DOUBLE) / t * 1000) AS BIGINT)
               AS entropy_rate_micro,
           CAST(floor(ln(CAST(k AS DOUBLE)) / ln(2) * 1000000)
                AS BIGINT) AS uniform_entropy_micro
    FROM agg
    """,
)
def q_markov_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropy rate of the per-user event chain in micro-bits per
    transition: each transition cell contributes n_ij·log2(n_i/n_ij),
    floored to milli-bit·count fixed point BEFORE the sum (double
    sums across rows are order-dependent; floored BIGINT sums are
    not), then normalized by total transitions. ln operands are
    exact integers, the sanctioned stable chain. Compare against
    log2(k): the gap is the predictability a next-event model can
    exploit. 100 TB: per-user windows partition cleanly; the cell
    table is k² rows regardless of corpus size."""
    ev = table(spark, sf_dir, "events")
    seq = ev.select(
        "user_id",
        F.unix_micros("ts").alias("us"),
        "event_id",
        "event_type",
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    trans = (
        seq.withColumn("prev_event", F.lag("event_type").over(w))
        .where(F.col("prev_event").isNotNull())
        .select("prev_event", F.col("event_type").alias("next_event"))
    )
    pc = trans.groupBy("prev_event", "next_event").agg(
        F.count(F.lit(1)).alias("n_pair")
    )
    tot = pc.groupBy("prev_event").agg(F.sum("n_pair").alias("n_from"))
    cells = pc.join(F.broadcast(tot), "prev_event").select(
        "n_pair",
        F.expr(
            "CAST(floor(CAST(n_pair AS DOUBLE)"
            " * (ln(CAST(n_from AS DOUBLE)) - ln(CAST(n_pair AS DOUBLE)))"
            " / ln(2) * 1000) AS BIGINT)"
        ).alias("h_fix"),
    )
    k = tot.agg(F.count(F.lit(1)).alias("k"))
    agg = cells.agg(
        F.sum("n_pair").alias("t"), F.sum("h_fix").alias("s")
    ).join(F.broadcast(k))
    return agg.select(
        F.col("k").cast("bigint").alias("n_states"),
        F.col("t").cast("bigint").alias("n_transitions"),
        F.expr(
            "CAST(floor(CAST(s AS DOUBLE) / t * 1000) AS BIGINT)"
        ).alias("entropy_rate_micro"),
        F.expr(
            "CAST(floor(ln(CAST(k AS DOUBLE)) / ln(2) * 1000000)"
            " AS BIGINT)"
        ).alias("uniform_entropy_micro"),
    )


# ---------------------------------------------------------------------------
# Shapley channel attribution — the game-theoretic answer to "which
# channel actually drives conversion": with 3 channels the 8
# coalition values are exact conversion rates (ppm), and each
# channel's Shapley value is a closed-form weighted sum of the four
# marginal contributions. No sampling, no approximation — the 2^k
# coalition table IS the sufficient statistic, and it stays 8 rows
# at any corpus size.
# ---------------------------------------------------------------------------

@query(
    "q_shapley_attribution",
    """
    WITH per_user AS (
        SELECT user_id,
               MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                   AS has_c,
               MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                   AS has_v,
               MAX(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
                   AS has_s,
               MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS conv
        FROM events GROUP BY user_id),
    coal AS (
        SELECT has_c + 2 * has_v + 4 * has_s AS mask,
               COUNT(*) AS n, SUM(conv) AS k
        FROM per_user GROUP BY 1),
    v AS (
        SELECT
            MAX(CASE WHEN mask=0 THEN k*1000000//n ELSE NULL END) AS v0,
            MAX(CASE WHEN mask=1 THEN k*1000000//n ELSE NULL END) AS v1,
            MAX(CASE WHEN mask=2 THEN k*1000000//n ELSE NULL END) AS v2,
            MAX(CASE WHEN mask=3 THEN k*1000000//n ELSE NULL END) AS v3,
            MAX(CASE WHEN mask=4 THEN k*1000000//n ELSE NULL END) AS v4,
            MAX(CASE WHEN mask=5 THEN k*1000000//n ELSE NULL END) AS v5,
            MAX(CASE WHEN mask=6 THEN k*1000000//n ELSE NULL END) AS v6,
            MAX(CASE WHEN mask=7 THEN k*1000000//n ELSE NULL END) AS v7
        FROM coal),
    g AS (
        SELECT COALESCE(v0,0) AS v0, COALESCE(v1,0) AS v1,
               COALESCE(v2,0) AS v2, COALESCE(v3,0) AS v3,
               COALESCE(v4,0) AS v4, COALESCE(v5,0) AS v5,
               COALESCE(v6,0) AS v6, COALESCE(v7,0) AS v7
        FROM v)
    SELECT channel, CAST(solo_v_ppm AS BIGINT) AS solo_v_ppm,
           CAST(phi6_ppm AS BIGINT) AS phi6_ppm,
           CAST(floor(CAST(phi6_ppm AS DOUBLE) / 6) AS BIGINT)
               AS phi_ppm
    FROM (
        SELECT 'click' AS channel, v1 AS solo_v_ppm,
               2*(v1-v0) + (v3-v2) + (v5-v4) + 2*(v7-v6) AS phi6_ppm
        FROM g
        UNION ALL
        SELECT 'view', v2,
               2*(v2-v0) + (v3-v1) + (v6-v4) + 2*(v7-v5) FROM g
        UNION ALL
        SELECT 'signup', v4,
               2*(v4-v0) + (v5-v1) + (v6-v2) + 2*(v7-v3) FROM g)
    ORDER BY channel
    """,
)
def q_shapley_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Shapley values for click/view/signup exposure toward
    purchase conversion: coalition value v(S) = conversion rate (ppm,
    integer DIV) of users exposed to exactly S; Shapley weights for
    k=3 reduce to (2,1,1,2)/6 over the four marginals, so 6·phi is a
    pure-integer combination and the final /6 is one floored double.
    Empty coalitions default to 0 (guarded COALESCE — at this
    corpus's exposure density all 8 cells are populated). 100 TB:
    one user-grain rollup shuffles; everything after is an 8-row
    pivot."""
    ev = table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        *[
            F.expr(
                f"MAX(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END)"
            ).alias(a)
            for t, a in [
                ("click", "has_c"),
                ("view", "has_v"),
                ("signup", "has_s"),
                ("purchase", "conv"),
            ]
        ]
    )
    coal = (
        per_user.select(
            F.expr("has_c + 2 * has_v + 4 * has_s").alias("mask"),
            "conv",
        )
        .groupBy("mask")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("conv").alias("k"))
    )
    v = coal.agg(
        *[
            F.expr(
                f"MAX(CASE WHEN mask={m} THEN k*1000000 DIV n"
                f" ELSE NULL END)"
            ).alias(f"v{m}")
            for m in range(8)
        ]
    )
    g = v.select(
        *[F.expr(f"COALESCE(v{m}, 0)").alias(f"v{m}") for m in range(8)]
    )
    phis = g.select(
        F.expr(
            "stack(3,"
            " 'click', v1,"
            "   2*(v1-v0) + (v3-v2) + (v5-v4) + 2*(v7-v6),"
            " 'view', v2,"
            "   2*(v2-v0) + (v3-v1) + (v6-v4) + 2*(v7-v5),"
            " 'signup', v4,"
            "   2*(v4-v0) + (v5-v1) + (v6-v2) + 2*(v7-v3))"
            " AS (channel, solo_v_ppm, phi6_ppm)"
        )
    )
    return phis.select(
        "channel",
        F.col("solo_v_ppm").cast("bigint").alias("solo_v_ppm"),
        F.col("phi6_ppm").cast("bigint").alias("phi6_ppm"),
        F.expr(
            "CAST(floor(CAST(phi6_ppm AS DOUBLE) / 6) AS BIGINT)"
        ).alias("phi_ppm"),
    ).orderBy("channel")


# ---------------------------------------------------------------------------
# Log-rank test — the hypothesis-test companion of q_kaplan_meier:
# do BUILDING and MACHINERY customers differ in time-to-second-order?
# At each event time the observed-vs-expected group-1 deaths use the
# hypergeometric mean/variance; per-time terms are fixed-point
# floored so the O−E and V sums are exact integers.
# ---------------------------------------------------------------------------

@query(
    "q_logrank_test",
    """
    WITH seq AS (
        SELECT c.c_mktsegment AS seg, o.o_custkey,
               CAST(o.o_orderdate AS DATE) AS od,
               ROW_NUMBER() OVER (PARTITION BY o.o_custkey
                                  ORDER BY o.o_orderdate, o.o_orderkey)
                   AS rn
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE c.c_mktsegment IN ('BUILDING', 'MACHINERY')),
    lives AS (
        SELECT CASE WHEN seg = 'BUILDING' THEN 1 ELSE 0 END AS g,
               CASE WHEN MAX(CASE WHEN rn = 2 THEN od END) IS NULL
                    THEN date_diff('day',
                                   MAX(CASE WHEN rn = 1 THEN od END),
                                   DATE '2001-12-31')
                    ELSE date_diff('day',
                                   MAX(CASE WHEN rn = 1 THEN od END),
                                   MAX(CASE WHEN rn = 2 THEN od END))
                    END AS dur,
               CASE WHEN MAX(CASE WHEN rn = 2 THEN od END) IS NULL
                    THEN 0 ELSE 1 END AS ev
        FROM seq GROUP BY o_custkey, seg),
    tot AS (
        SELECT COUNT(*) AS nt, SUM(g) AS nt1 FROM lives),
    perdur AS (
        SELECT dur, COUNT(*) AS na, SUM(g) AS n1,
               SUM(ev) AS d, SUM(ev * g) AS d1
        FROM lives GROUP BY dur),
    risk AS (
        SELECT dur, d, d1,
               nt - COALESCE(SUM(na) OVER (ORDER BY dur
                    ROWS BETWEEN UNBOUNDED PRECEDING
                    AND 1 PRECEDING), 0) AS r,
               nt1 - COALESCE(SUM(n1) OVER (ORDER BY dur
                    ROWS BETWEEN UNBOUNDED PRECEDING
                    AND 1 PRECEDING), 0) AS r1
        FROM perdur, tot),
    terms AS (
        SELECT d1,
               CAST(floor(CAST(d AS DOUBLE) * r1 / r * 1000000)
                    AS BIGINT) AS e_fix,
               CAST(floor(CAST(d AS DOUBLE) * r1 / r * (r - r1) / r
                          * (r - d) / (r - 1) * 1000000)
                    AS BIGINT) AS v_fix
        FROM risk WHERE d > 0 AND r > 1),
    agg AS (
        SELECT SUM(d1) AS o1, SUM(e_fix) AS e, SUM(v_fix) AS v
        FROM terms)
    SELECT CAST((SELECT nt1 FROM tot) AS BIGINT) AS n_treat,
           CAST((SELECT nt - nt1 FROM tot) AS BIGINT) AS n_ctrl,
           CAST(o1 AS BIGINT) AS observed_1,
           CAST(e AS BIGINT) AS expected_1_micro,
           CAST(v AS BIGINT) AS variance_micro,
           CAST(floor(CAST(o1 * 1000000 - e AS DOUBLE)
                / sqrt(CAST(v AS DOUBLE) * 1000000) * 1000) AS BIGINT)
               AS z_milli
    FROM agg
    """,
)
def q_logrank_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-rank comparison of time-to-second-order between BUILDING
    (group 1) and MACHINERY customers, administratively censored at
    2001-12-31 (past the corpus's last date, so censoring is
    deterministic). Each event day contributes the hypergeometric
    expectation d·r1/r and variance d·(r1/r)·(1−r1/r)·(r−d)/(r−1),
    floored to micro fixed point before summing — both sums exact
    BIGINTs, one final IEEE z chain. At-risk counts come from the
    KM-style reverse-cumulative window over the day-grain rollup
    (~2.2k rows at any corpus size). 100 TB: one custkey window for
    first/second orders, then everything is per-day."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    seq = (
        o.join(c, o.o_custkey == c.c_custkey)
        .where(F.col("c_mktsegment").isin("BUILDING", "MACHINERY"))
        .select(
            F.col("c_mktsegment").alias("seg"),
            "o_custkey",
            F.col("o_orderdate").cast("date").alias("od"),
            F.row_number()
            .over(
                Window.partitionBy("o_custkey").orderBy(
                    "o_orderdate", "o_orderkey"
                )
            )
            .alias("rn"),
        )
    )
    lives = seq.groupBy("o_custkey", "seg").agg(
        F.expr("MAX(CASE WHEN rn = 1 THEN od END)").alias("d1st"),
        F.expr("MAX(CASE WHEN rn = 2 THEN od END)").alias("d2nd"),
    ).select(
        F.expr("CASE WHEN seg = 'BUILDING' THEN 1 ELSE 0 END").alias(
            "g"
        ),
        F.expr(
            "CASE WHEN d2nd IS NULL"
            " THEN datediff(DATE '2001-12-31', d1st)"
            " ELSE datediff(d2nd, d1st) END"
        ).alias("dur"),
        F.expr("CASE WHEN d2nd IS NULL THEN 0 ELSE 1 END").alias("ev"),
    )
    tot = lives.agg(
        F.count(F.lit(1)).alias("nt"), F.sum("g").alias("nt1")
    )
    perdur = lives.groupBy("dur").agg(
        F.count(F.lit(1)).alias("na"),
        F.sum("g").alias("n1"),
        F.sum("ev").alias("d"),
        F.expr("SUM(ev * g)").alias("d1"),
    )
    risk = perdur.join(F.broadcast(tot)).select(
        "dur",
        "d",
        "d1",
        F.expr(
            "nt - COALESCE(SUM(na) OVER (ORDER BY dur"
            " ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)"
        ).alias("r"),
        F.expr(
            "nt1 - COALESCE(SUM(n1) OVER (ORDER BY dur"
            " ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)"
        ).alias("r1"),
    )
    terms = risk.where((F.col("d") > 0) & (F.col("r") > 1)).select(
        "d1",
        F.expr(
            "CAST(floor(CAST(d AS DOUBLE) * r1 / r * 1000000)"
            " AS BIGINT)"
        ).alias("e_fix"),
        F.expr(
            "CAST(floor(CAST(d AS DOUBLE) * r1 / r * (r - r1) / r"
            " * (r - d) / (r - 1) * 1000000) AS BIGINT)"
        ).alias("v_fix"),
    )
    agg = terms.agg(
        F.sum("d1").alias("o1"),
        F.sum("e_fix").alias("e"),
        F.sum("v_fix").alias("v"),
    )
    return agg.join(F.broadcast(tot)).select(
        F.col("nt1").cast("bigint").alias("n_treat"),
        F.expr("CAST(nt - nt1 AS BIGINT)").alias("n_ctrl"),
        F.col("o1").cast("bigint").alias("observed_1"),
        F.col("e").cast("bigint").alias("expected_1_micro"),
        F.col("v").cast("bigint").alias("variance_micro"),
        F.expr(
            "CAST(floor(CAST(o1 * 1000000 - e AS DOUBLE)"
            " / sqrt(CAST(v AS DOUBLE) * 1000000) * 1000) AS BIGINT)"
        ).alias("z_milli"),
    )


# ---------------------------------------------------------------------------
# Granger lag-1 causality — does yesterday's ORDER COUNT predict
# today's revenue beyond yesterday's revenue? Restricted (AR-1) vs
# unrestricted (AR-1 + cross lag) OLS, both solved in closed form
# from one pass of exact daily moments; the F for the added
# regressor is the Granger statistic.
# ---------------------------------------------------------------------------

@query(
    "q_granger_lag1",
    """
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * 100)
                    AS BIGINT) AS y,
               COUNT(*) AS x
        FROM orders GROUP BY 1),
    lagged AS (
        SELECT y,
               LAG(y) OVER (ORDER BY day) AS y1,
               LAG(x) OVER (ORDER BY day) AS x1
        FROM daily),
    mom AS (
        SELECT COUNT(*) AS n,
               SUM(y) AS sy, SUM(y1) AS s1, SUM(x1) AS s2,
               SUM(CAST(y AS HUGEINT) * y) AS syy,
               SUM(CAST(y1 AS HUGEINT) * y1) AS s11,
               SUM(CAST(x1 AS HUGEINT) * x1) AS s22,
               SUM(CAST(y AS HUGEINT) * y1) AS sy1,
               SUM(CAST(y AS HUGEINT) * x1) AS sy2,
               SUM(CAST(y1 AS HUGEINT) * x1) AS s12
        FROM lagged WHERE y1 IS NOT NULL AND x1 IS NOT NULL),
    cen AS (
        SELECT n,
               CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) / n * sy AS myy,
               CAST(s11 AS DOUBLE) - CAST(s1 AS DOUBLE) / n * s1 AS m11,
               CAST(s22 AS DOUBLE) - CAST(s2 AS DOUBLE) / n * s2 AS m22,
               CAST(sy1 AS DOUBLE) - CAST(sy AS DOUBLE) / n * s1 AS m1y,
               CAST(sy2 AS DOUBLE) - CAST(sy AS DOUBLE) / n * s2 AS m2y,
               CAST(s12 AS DOUBLE) - CAST(s1 AS DOUBLE) / n * s2 AS m12
        FROM mom),
    fit AS (
        SELECT n, myy,
               myy - m1y / m11 * m1y AS sse1,
               myy - ((m1y * m22 - m2y * m12) * m1y
                      + (m2y * m11 - m1y * m12) * m2y)
                     / (m11 * m22 - m12 * m12) AS sse2,
               (m2y * m11 - m1y * m12) / (m11 * m22 - m12 * m12) AS b2
        FROM cen)
    SELECT CAST(n AS BIGINT) AS n_days,
           CAST(floor(b2 * 1000000) AS BIGINT) AS cross_coef_micro,
           CAST(floor((sse1 - sse2) / (sse2 / (n - 3)) * 1000)
                AS BIGINT) AS f_milli,
           CAST(floor((sse1 - sse2) / myy * 1000000) AS BIGINT)
               AS r2_gain_ppm
    FROM fit
    """,
)
def q_granger_lag1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Granger test at lag 1 on the daily grain: F for adding
    yesterday's order count to an AR(1) of daily revenue. Raw
    moments are exact (cross products DECIMAL(38,0)-routed), the
    centered moments / normal-equation solve / SSEs are one shared
    cascade of IEEE chains written identically in both engines, and
    only floored fixed-point values are emitted. The 2x2 solve is
    Cramer's rule — no iteration, no library. 100 TB: one scan to
    the ~2.4k-row daily grain; the lag window is the sanctioned
    tiny-post-agg shape."""
    o = table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.expr(
            "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * 100)"
            " AS BIGINT)"
        ).alias("y"),
        F.count(F.lit(1)).alias("x"),
    )
    w = Window.orderBy("day")
    lagged = daily.select(
        "y",
        F.lag("y").over(w).alias("y1"),
        F.lag("x").over(w).alias("x1"),
    ).where(F.col("y1").isNotNull() & F.col("x1").isNotNull())
    mom = lagged.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("y").alias("sy"),
        F.sum("y1").alias("s1"),
        F.sum("x1").alias("s2"),
        F.expr("SUM(CAST(y AS DECIMAL(38,0)) * y)").alias("syy"),
        F.expr("SUM(CAST(y1 AS DECIMAL(38,0)) * y1)").alias("s11"),
        F.expr("SUM(CAST(x1 AS DECIMAL(38,0)) * x1)").alias("s22"),
        F.expr("SUM(CAST(y AS DECIMAL(38,0)) * y1)").alias("sy1"),
        F.expr("SUM(CAST(y AS DECIMAL(38,0)) * x1)").alias("sy2"),
        F.expr("SUM(CAST(y1 AS DECIMAL(38,0)) * x1)").alias("s12"),
    )
    cen = mom.select(
        "n",
        F.expr(
            "CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) / n * sy"
        ).alias("myy"),
        F.expr(
            "CAST(s11 AS DOUBLE) - CAST(s1 AS DOUBLE) / n * s1"
        ).alias("m11"),
        F.expr(
            "CAST(s22 AS DOUBLE) - CAST(s2 AS DOUBLE) / n * s2"
        ).alias("m22"),
        F.expr(
            "CAST(sy1 AS DOUBLE) - CAST(sy AS DOUBLE) / n * s1"
        ).alias("m1y"),
        F.expr(
            "CAST(sy2 AS DOUBLE) - CAST(sy AS DOUBLE) / n * s2"
        ).alias("m2y"),
        F.expr(
            "CAST(s12 AS DOUBLE) - CAST(s1 AS DOUBLE) / n * s2"
        ).alias("m12"),
    )
    fit = cen.select(
        "n",
        "myy",
        F.expr("myy - m1y / m11 * m1y").alias("sse1"),
        F.expr(
            "myy - ((m1y * m22 - m2y * m12) * m1y"
            " + (m2y * m11 - m1y * m12) * m2y)"
            " / (m11 * m22 - m12 * m12)"
        ).alias("sse2"),
        F.expr(
            "(m2y * m11 - m1y * m12) / (m11 * m22 - m12 * m12)"
        ).alias("b2"),
    )
    return fit.select(
        F.col("n").cast("bigint").alias("n_days"),
        F.expr("CAST(floor(b2 * 1000000) AS BIGINT)").alias(
            "cross_coef_micro"
        ),
        F.expr(
            "CAST(floor((sse1 - sse2) / (sse2 / (n - 3)) * 1000)"
            " AS BIGINT)"
        ).alias("f_milli"),
        F.expr(
            "CAST(floor((sse1 - sse2) / myy * 1000000) AS BIGINT)"
        ).alias("r2_gain_ppm"),
    )


# ---------------------------------------------------------------------------
# Session-timeout sweep — the parameter every sessionizer hardcodes,
# actually measured: session counts and mean session size across a
# ladder of inactivity timeouts, from ONE pass over the ordered
# event gaps. Where the curve flattens is the right timeout.
# ---------------------------------------------------------------------------

@query(
    "q_session_timeout_sweep",
    f"""
    WITH {EVENTS_US_CTE},
    seq AS (
        SELECT user_id, epoch_ns(ts)//1000 AS us, event_id
        FROM events_us),
    gaps AS (
        SELECT us - LAG(us) OVER (PARTITION BY user_id
                                  ORDER BY us, event_id) AS gap_us
        FROM seq),
    agg AS (
        SELECT COUNT(*) + (SELECT COUNT(DISTINCT user_id) FROM seq)
                   - COUNT(gap_us) AS base_rows,
               (SELECT COUNT(*) FROM seq) AS n_events,
               (SELECT COUNT(DISTINCT user_id) FROM seq) AS n_users,
               SUM(CASE WHEN gap_us > 300000000 THEN 1 ELSE 0 END)
                   AS brk5,
               SUM(CASE WHEN gap_us > 900000000 THEN 1 ELSE 0 END)
                   AS brk15,
               SUM(CASE WHEN gap_us > 1800000000 THEN 1 ELSE 0 END)
                   AS brk30,
               SUM(CASE WHEN gap_us > 3600000000 THEN 1 ELSE 0 END)
                   AS brk60,
               SUM(CASE WHEN gap_us > 7200000000 THEN 1 ELSE 0 END)
                   AS brk120
        FROM gaps),
    sweep(timeout_min, brk) AS (
        SELECT 5, brk5 FROM agg UNION ALL
        SELECT 15, brk15 FROM agg UNION ALL
        SELECT 30, brk30 FROM agg UNION ALL
        SELECT 60, brk60 FROM agg UNION ALL
        SELECT 120, brk120 FROM agg)
    SELECT CAST(timeout_min AS INT) AS timeout_min,
           CAST(s.brk + a.n_users AS BIGINT) AS n_sessions,
           CAST(a.n_events * 1000 // (s.brk + a.n_users) AS BIGINT)
               AS events_per_session_milli
    FROM sweep s, agg a
    ORDER BY timeout_min
    """,
)
def q_session_timeout_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization sensitivity: for timeouts of 5/15/30/60/120
    minutes, session count = users + gaps exceeding the timeout —
    five conditional sums over ONE windowed gap pass (running the
    sessionizer five times would be five shuffles for the same
    answer). Events-per-session in exact milli. The flattening
    point of n_sessions is the defensible timeout; q_sessionize_events
    then runs with it. 100 TB: one user-partitioned window, one
    1-row rollup."""
    ev = table(spark, sf_dir, "events")
    seq = ev.select(
        "user_id", F.unix_micros("ts").alias("us"), "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    gaps = seq.select(
        "user_id",
        (F.col("us") - F.lag("us").over(w)).alias("gap_us"),
    )
    thresholds = [(5, 300), (15, 900), (30, 1800), (60, 3600), (120, 7200)]
    agg = gaps.agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_events"),
        *[
            F.expr(
                f"SUM(CASE WHEN gap_us > {s}000000 THEN 1 ELSE 0 END)"
            ).alias(f"brk{m}")
            for m, s in thresholds
        ],
    )
    sweep = agg.select(
        F.expr(
            "stack(5, "
            + ", ".join(f"{m}, brk{m}" for m, _ in thresholds)
            + ") AS (timeout_min, brk)"
        ),
        "n_users",
        "n_events",
    )
    return sweep.select(
        F.col("timeout_min").cast("int").alias("timeout_min"),
        F.expr("CAST(brk + n_users AS BIGINT)").alias("n_sessions"),
        F.expr(
            "CAST(n_events * 1000 DIV (brk + n_users) AS BIGINT)"
        ).alias("events_per_session_milli"),
    ).orderBy("timeout_min")
