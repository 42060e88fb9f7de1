"""Array/tensor operators (SURVEY §2.4 A1/A2/A6, §2.2 P10).

The reference's tensor verbs — global-average-pool over [C,H,W], channel
variance + top-k, min-max normalization — re-expressed over flattened
``array<float>`` tensor columns (data model D4).

Scale design: the engine op (``gap_means``) is a per-row higher-order
function — JVM-side, zero shuffle, no Python.
The oracle *queries* instead explode via an index table and aggregate
through DECIMAL, because cross-engine bit-equality of a left-fold over
floats is not guaranteed; both formulations compute the same numbers.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import table
from ..registry import query
from .fixtures import FEATUREMAPS_CTE, FM_C, FM_H, FM_W, featuremaps

_HW = FM_H * FM_W


# ---------------------------------------------------------------------------
# Engine ops (scale path: per-row, whole-stage codegen)
# ---------------------------------------------------------------------------

def gap_means(data: Column, c: int, hw: int) -> Column:
    """A1 — GAP [C,H,W] -> [C]: per-channel mean over the spatial dims
    (``src/compare_xception_featuremaps.py:39-41``). Pure higher-order
    expression: transform over channels, slice + aggregate inside."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(c - 1)),
        lambda ch: F.aggregate(
            F.slice(data, ch * hw + 1, hw),
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double"),
        )
        / F.lit(float(hw)),
    )


# ---------------------------------------------------------------------------
# Oracle-checked queries
# ---------------------------------------------------------------------------

_IDX = f"(SELECT UNNEST(range(0, {_HW})) AS pos)"


@query(
    "q_gap_per_channel",
    f"""
    WITH {FEATUREMAPS_CTE.strip()},
    cells AS (
        -- CAST .. AS DOUBLE first: DuckDB's direct float->decimal cast
        -- rounds in float32 space, Spark's goes via double
        SELECT "group", stem, stage, ch,
               CAST(data[ch * {_HW} + pos + 1] AS DOUBLE) AS val
        FROM featuremaps,
             (SELECT UNNEST(range(0, {FM_C})) AS ch),
             (SELECT UNNEST(range(0, {_HW})) AS pos)
        WHERE stage = 'stage1' AND vec_id < 50)
    SELECT "group", stem, ch,
           CAST(SUM(CAST(val AS DECIMAL(12,9))) AS DOUBLE) / {_HW} AS gap
    FROM cells
    GROUP BY "group", stem, ch
    ORDER BY "group", stem, ch
    """,
)
def q_gap_per_channel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 — per-channel GAP of stage1 tensors (one row per channel)."""
    fm = featuremaps(spark, sf_dir).where(
        (F.col("stage") == "stage1") & (F.col("vec_id") < 50)
    )
    cells = fm.select(
        "group",
        "stem",
        F.explode(F.sequence(F.lit(0), F.lit(FM_C - 1))).alias("ch"),
        "data",
    ).select(
        "group",
        "stem",
        "ch",
        F.explode(
            F.slice(F.col("data"), F.col("ch") * _HW + 1, _HW)
        ).alias("val"),
    )
    return (
        cells.groupBy("group", "stem", "ch")
        .agg(
            (
                F.expr("CAST(SUM(CAST(CAST(val AS DOUBLE) AS DECIMAL(12,9))) AS DOUBLE)")
                / _HW
            ).alias("gap")
        )
    )


@query(
    "q_channel_variance_topk",
    f"""
    WITH {FEATUREMAPS_CTE.strip()},
    cells AS (
        SELECT stem, stage, ch, CAST(data[ch * {_HW} + pos + 1] AS DOUBLE) AS val
        FROM featuremaps,
             (SELECT UNNEST(range(0, {FM_C})) AS ch),
             (SELECT UNNEST(range(0, {_HW})) AS pos)
        WHERE vec_id < 30),
    stats AS (
        -- ROUND(...,12): the scale-18 decimal->double cast can differ by
        -- 1 ULP between engines; vars are ~1e-2 so 1e-12 granularity is safe
        SELECT stem, stage, ch,
               ROUND((CAST(SUM(CAST(val AS DECIMAL(12,9)) * CAST(val AS DECIMAL(12,9)))
                     AS DOUBLE)
                - CAST(SUM(CAST(val AS DECIMAL(12,9))) AS DOUBLE)
                  * CAST(SUM(CAST(val AS DECIMAL(12,9))) AS DOUBLE) / {_HW})
               / ({_HW} - 1), 12) AS var
        FROM cells GROUP BY stem, stage, ch),
    ranked AS (
        SELECT stem, stage, ch, var,
               ROW_NUMBER() OVER (PARTITION BY stem, stage
                                  ORDER BY var DESC, ch) AS rk
        FROM stats)
    SELECT stem, stage, ch, var, rk
    FROM ranked WHERE rk <= 2
    ORDER BY stem, stage, rk
    """,
)
def q_channel_variance_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 + O3 — top-2 channels by spatial variance per (image, stage)
    (``src/feature_map_analysis.py:39-45``): explode channels ->
    decimal-exact var -> window rank."""
    fm = featuremaps(spark, sf_dir).where(F.col("vec_id") < 30)
    cells = fm.select(
        "stem",
        "stage",
        F.explode(F.sequence(F.lit(0), F.lit(FM_C - 1))).alias("ch"),
        "data",
    ).select(
        "stem",
        "stage",
        "ch",
        F.explode(F.slice(F.col("data"), F.col("ch") * _HW + 1, _HW)).alias(
            "val"
        ),
    )
    d = "CAST(CAST(val AS DOUBLE) AS DECIMAL(12,9))"
    stats = cells.groupBy("stem", "stage", "ch").agg(
        F.expr(
            f"ROUND((CAST(SUM({d}*{d}) AS DOUBLE)"
            f" - CAST(SUM({d}) AS DOUBLE)*CAST(SUM({d}) AS DOUBLE)/{_HW})"
            f" / ({_HW} - 1), 12)"
        ).alias("var")
    )
    w = Window.partitionBy("stem", "stage").orderBy(F.desc("var"), "ch")
    return (
        stats.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 2)
        .select("stem", "stage", "ch", "var", "rk")
    )


@query(
    "q_minmax_normalize",
    """
    WITH stats AS (
        SELECT event_type, MIN(value) AS lo, MAX(value) AS hi
        FROM events GROUP BY event_type)
    SELECT e.event_id, e.event_type,
           (e.value - s.lo) / (s.hi - s.lo + 1e-8) AS norm_value
    FROM events e JOIN stats s ON e.event_type = s.event_type
    WHERE e.event_id < 2000
    ORDER BY e.event_id
    """,
)
def q_minmax_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P10 + A6 — grouped min-max normalization (the reference's heatmap
    scaling) as a broadcast join of per-group extrema; min/max of doubles
    are order-independent so no decimal routing is needed."""
    events = table(spark, sf_dir, "events")
    stats = events.groupBy("event_type").agg(
        F.min("value").alias("lo"), F.max("value").alias("hi")
    )
    return (
        events.where(F.col("event_id") < 2000)
        .join(F.broadcast(stats), "event_type")
        .select(
            "event_id",
            "event_type",
            (
                (F.col("value") - F.col("lo"))
                / (F.col("hi") - F.col("lo") + F.lit(1e-8))
            ).alias("norm_value"),
        )
    )


@query(
    "q_gap_hof_consistency",
    f"""
    WITH {FEATUREMAPS_CTE.strip()},
    cells AS (
        SELECT "group", stem, ch, CAST(data[ch * {_HW} + pos + 1] AS DOUBLE) AS val
        FROM featuremaps,
             (SELECT UNNEST(range(0, {FM_C})) AS ch),
             (SELECT UNNEST(range(0, {_HW})) AS pos)
        WHERE stage = 'stage2' AND vec_id < 20)
    SELECT "group", stem,
           COUNT(*) AS n_channels,
           CAST(SUM(CASE WHEN ROUND(gap, 6) = ROUND(gap, 6) THEN 1 ELSE 0 END)
                AS BIGINT) AS n_finite
    FROM (
        SELECT "group", stem, ch,
               CAST(SUM(CAST(val AS DECIMAL(12,9))) AS DOUBLE) / {_HW} AS gap
        FROM cells GROUP BY "group", stem, ch) g
    GROUP BY "group", stem
    ORDER BY "group", stem
    """,
)
def q_gap_hof_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-checks the SCALE-PATH higher-order ``gap_means`` against the
    exploded formulation: counts channels where the two agree to 1e-6.
    The oracle computes the same counts from its own exact GAP — if the
    engine's HOF drifted, n_finite would disagree."""
    fm = featuremaps(spark, sf_dir).where(
        (F.col("stage") == "stage2") & (F.col("vec_id") < 20)
    )
    hof = fm.select(
        "group", "stem", gap_means(F.col("data"), FM_C, _HW).alias("gap_hof")
    )
    exploded = (
        fm.select(
            "group",
            "stem",
            F.explode(F.sequence(F.lit(0), F.lit(FM_C - 1))).alias("ch"),
            "data",
        )
        .select(
            "group",
            "stem",
            "ch",
            F.explode(
                F.slice(F.col("data"), F.col("ch") * _HW + 1, _HW)
            ).alias("val"),
        )
        .groupBy("group", "stem", "ch")
        .agg(
            (
                F.expr("CAST(SUM(CAST(CAST(val AS DOUBLE) AS DECIMAL(12,9))) AS DOUBLE)") / _HW
            ).alias("gap")
        )
    )
    joined = exploded.join(hof, ["group", "stem"]).withColumn(
        "agree",
        (
            F.abs(
                F.element_at(F.col("gap_hof"), F.col("ch") + 1) - F.col("gap")
            )
            < 1e-6
        ).cast("int"),
    )
    return (
        joined.groupBy("group", "stem")
        .agg(
            F.count(F.lit(1)).alias("n_channels"),
            F.sum("agree").cast("bigint").alias("n_finite"),
        )
    )


# ---------------------------------------------------------------------------
# Row-local channel top-k: per-tensor strongest channels WITHOUT a
# shuffle — array_sort over (gap, channel) structs inside the row.
# ---------------------------------------------------------------------------

_TOPK_CH = 3


@query(
    "q_channel_topk_rowlocal",
    f"""
    WITH {FEATUREMAPS_CTE.strip()},
    gaps AS (
        SELECT "group", stem, ch,
               list_reduce(list_prepend(CAST(0 AS DOUBLE),
                   list_transform(range(ch * {_HW} + 1, ch * {_HW} + {_HW} + 1),
                                  i -> CAST(data[i] AS DOUBLE))),
                   (acc, v) -> acc + v) / {_HW} AS gap
        FROM featuremaps, (SELECT UNNEST(range(0, {FM_C})) AS ch)
        WHERE stage = 'stage2' AND vec_id < 60),
    ranked AS (
        SELECT "group", stem, ch, gap,
               ROW_NUMBER() OVER (PARTITION BY "group", stem
                                  ORDER BY gap DESC, ch) AS rk
        FROM gaps)
    SELECT "group", stem, CAST(rk AS INTEGER) AS rk,
           CAST(ch AS INTEGER) AS ch, ROUND(gap, 9) AS gap
    FROM ranked WHERE rk <= {_TOPK_CH}
    ORDER BY "group", stem, rk
    """,
)
def q_channel_topk_rowlocal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 variant with ZERO shuffle for the ranking step: per-tensor
    top-{_TOPK_CH} channels by GAP, computed entirely inside the row —
    GAP per channel via a sequential double fold (transform over
    channels, aggregate over the channel slice), ranking via
    ``array_sort`` on (-gap, ch) structs, top-k via ``slice`` +
    ``posexplode``. The oracle replays the identical left-to-right
    fold with ``list_reduce(list_prepend(0.0, ...))`` and ranks with a
    window — same numbers, so the HOF path is hash-verified against
    the relational formulation.

    At 100 TB this is the difference between a per-tensor explode +
    window (shuffle of C rows per tensor on the tensor key) and a
    row-local expression pipeline that never leaves the scan stage —
    this plan has no shuffle at all."""
    fm = featuremaps(spark, sf_dir).where(
        (F.col("stage") == "stage2") & (F.col("vec_id") < 60)
    )
    gap_struct = F.expr(
        f"""transform(sequence(0, {FM_C - 1}), ch -> named_struct(
            'neg_gap', -(aggregate(slice(data, ch * {_HW} + 1, {_HW}),
                         CAST(0 AS DOUBLE),
                         (acc, x) -> acc + CAST(x AS DOUBLE)) / {_HW}),
            'ch', ch))"""
    )
    topk = fm.select(
        "group",
        "stem",
        F.posexplode(
            F.slice(F.array_sort(gap_struct), 1, _TOPK_CH)
        ).alias("pos", "s"),
    )
    return topk.select(
        "group",
        "stem",
        (F.col("pos") + 1).cast("int").alias("rk"),
        F.col("s.ch").cast("int").alias("ch"),
        F.round(-F.col("s.neg_gap"), 9).alias("gap"),
    )


# ---------------------------------------------------------------------------
# Map-typed collection functions — the HOF family the array operators
# above don't touch: map_zip_with (keyed union-merge), map_filter,
# transform_keys / transform_values, all row-local codegen. The map is
# the natural carrier for per-document metric bundles (sparse, keyed,
# schema-free), and these four verbs are its whole algebra.
# ---------------------------------------------------------------------------

@query(
    "q_map_metrics",
    """
    WITH base AS (
        SELECT doc_id,
               n_chars AS chars,
               len(list_filter(string_split(text, ' '), w -> w <> ''))
                   AS words,
               length(text) - length(regexp_replace(text, '[aeiou]', '',
                                                    'g')) AS vowels
        FROM documents),
    metrics AS (
        -- the engine's map algebra, replayed as plain arithmetic:
        -- m1 = {chars, words}, m2 = {words, vowels};
        -- map_zip_with(+) unions keys summing overlaps (words doubles),
        -- map_filter keeps v > 0, transform_values scales by 3,
        -- transform_keys uppercases
        SELECT doc_id, 'CHARS' AS metric, chars * 3 AS val
        FROM base WHERE chars > 0
        UNION ALL
        SELECT doc_id, 'WORDS', (words + words) * 3
        FROM base WHERE words + words > 0
        UNION ALL
        SELECT doc_id, 'VOWELS', vowels * 3
        FROM base WHERE vowels > 0)
    SELECT metric,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(val) AS BIGINT) AS total,
           CAST(MIN(val) AS BIGINT) AS min_val
    FROM metrics GROUP BY metric ORDER BY metric
    """,
)
def q_map_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document metric bundles as map columns, processed entirely
    with the map HOF algebra: two metric maps merged by
    ``map_zip_with`` (key union, overlapping 'words' sums), zero
    entries dropped by ``map_filter``, values scaled by
    ``transform_values``, keys canonicalized by ``transform_keys``,
    then one explode + rollup per metric. Everything row-local codegen
    until the final tiny aggregate; the oracle replays the algebra as
    flat arithmetic — a divergence in any HOF's union/filter/transform
    semantics breaks the hash."""
    from ..catalog import table as _table

    docs = _table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        F.col("n_chars").alias("chars"),
        F.expr(
            "size(filter(split(text, ' '), w -> w != ''))"
        ).alias("words"),
        F.expr(
            "length(text) - length(regexp_replace(text, '[aeiou]', ''))"
        ).alias("vowels"),
    )
    m = base.select(
        "doc_id",
        F.expr(
            """transform_keys(
                 transform_values(
                   map_filter(
                     map_zip_with(
                       map('chars', chars, 'words', words),
                       map('words', words, 'vowels', vowels),
                       (k, a, b) -> coalesce(a, 0) + coalesce(b, 0)),
                     (k, v) -> v > 0),
                   (k, v) -> v * 3),
                 (k, v) -> upper(k))"""
        ).alias("metrics"),
    )
    exploded = m.select(
        "doc_id", F.explode("metrics").alias("metric", "val")
    )
    return (
        exploded.groupBy("metric")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("val").cast("bigint").alias("total"),
            F.min("val").cast("bigint").alias("min_val"),
        )
    )


# ---------------------------------------------------------------------------
# Array smoothing — a k=3 moving average over the embedding vector as
# a pure row-local HOF (transform over indexed slices): the signal-
# conditioning step a feature pipeline runs before downstream
# similarity, entirely inside whole-stage codegen. Edge positions use
# the shrunken window (no padding invention).
# ---------------------------------------------------------------------------

@query(
    "q_array_smooth",
    """
    WITH smoothed AS (
        SELECT vec_id,
               list_transform(range(1, len(embedding) + 1),
                   i -> list_aggregate(
                            embedding[greatest(i - 1, 1) :
                                      least(i + 1, len(embedding))],
                            'sum')
                        / (least(i + 1, len(embedding))
                           - greatest(i - 1, 1) + 1)) AS sm,
               embedding
        FROM embeddings WHERE vec_id < 500)
    SELECT CAST(vec_id AS BIGINT) AS vec_id,
           CAST(len(sm) AS INTEGER) AS n_dims,
           ROUND(sm[1], 6) AS first_sm,
           ROUND(sm[32], 6) AS mid_sm,
           ROUND(sm[64], 6) AS last_sm,
           ROUND(list_aggregate(
                     list_transform(range(1, len(sm) + 1),
                         i -> abs(sm[i] - embedding[i])), 'sum'), 6)
               AS total_shift
    FROM smoothed
    ORDER BY vec_id
    """,
)
def q_array_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k=3 moving average over each embedding (first 500 vectors):
    per-vector the smoothed boundary/midpoint samples and the total
    absolute shift the filter introduced. Parity: each window mean is
    a 2-3 term float32-promoted sum in INDEX ORDER on both engines
    (DuckDB list_aggregate('sum') and Spark's aggregate fold are both
    sequential left folds over the same slice), and every emitted
    value is ROUNDed to 1e-6."""
    from ..catalog import table as _table

    emb = _table(spark, sf_dir, "embeddings").where(F.col("vec_id") < 500)
    sm_expr = (
        "transform(sequence(1, size(embedding)),"
        " i -> aggregate(slice(embedding, greatest(i - 1, 1),"
        "                      least(i + 1, size(embedding))"
        "                      - greatest(i - 1, 1) + 1),"
        "                CAST(0.0 AS DOUBLE), (a, x) -> a + x)"
        "      / (least(i + 1, size(embedding)) - greatest(i - 1, 1) + 1))"
    )
    shift_expr = (
        "aggregate(transform(sequence(1, size(sm)),"
        " i -> abs(sm[i - 1] - CAST(embedding[i - 1] AS DOUBLE))),"
        " CAST(0.0 AS DOUBLE), (a, x) -> a + x)"
    )
    sm = emb.select(
        "vec_id", "embedding", F.expr(sm_expr).alias("sm")
    )
    return sm.select(
        F.col("vec_id").cast("bigint").alias("vec_id"),
        F.size("sm").cast("int").alias("n_dims"),
        F.round(F.expr("sm[0]"), 6).alias("first_sm"),
        F.round(F.expr("sm[31]"), 6).alias("mid_sm"),
        F.round(F.expr("sm[63]"), 6).alias("last_sm"),
        F.round(F.expr(shift_expr), 6).alias("total_shift"),
    )


# ---------------------------------------------------------------------------
# Per-label embedding centroids + pairwise centroid cosine — the
# class-separation / drift audit over an embedding table: one
# posexplode rollup builds the (label x dim) mean matrix with
# map-side partial aggregation; every later stage runs over
# labels x dims cells, never the fact table. All sums DECIMAL-routed
# (float32 inputs widen exactly to double on both engines).
# ---------------------------------------------------------------------------

@query(
    "q_centroid_similarity",
    """
    WITH cells AS (
        SELECT label, i - 1 AS pos,
               CAST(embedding[i] AS DOUBLE) AS val
        FROM embeddings,
             UNNEST(range(1, len(embedding) + 1)) AS t(i)),
    cent AS (
        SELECT label, pos,
               CAST(SUM(CAST(val AS DECIMAL(24,9))) AS DOUBLE)
                   / COUNT(*) AS mu
        FROM cells GROUP BY label, pos),
    norms AS (
        SELECT label,
               CAST(SUM(CAST(mu * mu AS DECIMAL(24,12))) AS DOUBLE) AS nn
        FROM cent GROUP BY label),
    dots AS (
        SELECT a.label AS la, b.label AS lb,
               CAST(SUM(CAST(a.mu * b.mu AS DECIMAL(24,12))) AS DOUBLE)
                   AS dot
        FROM cent a JOIN cent b ON a.pos = b.pos AND a.label < b.label
        GROUP BY a.label, b.label)
    SELECT CAST(d.la AS INTEGER) AS label_a,
           CAST(d.lb AS INTEGER) AS label_b,
           CAST(CAST(d.dot AS DECIMAL(18,9)) AS DOUBLE) AS dot,
           CAST(CAST(d.dot / sqrt(na.nn * nb.nn) AS DECIMAL(18,9))
                AS DOUBLE) AS cosine
    FROM dots d JOIN norms na ON d.la = na.label
                JOIN norms nb ON d.lb = nb.label
    ORDER BY cosine DESC, label_a, label_b LIMIT 20
    """,
)
def q_centroid_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cosine between per-label embedding centroids (top-20
    most-similar label pairs — the 'which classes collide' audit).
    The only fact-table pass is the posexplode rollup; centroids,
    norms, and pairwise dots all live in the labels x dims domain.
    Every additive aggregate routes through DECIMAL."""
    emb = table(spark, sf_dir, "embeddings")
    cells = emb.select(
        "label", F.posexplode("embedding").alias("pos", "v")
    ).select("label", "pos", F.col("v").cast("double").alias("val"))
    cent = cells.groupBy("label", "pos").agg(
        F.expr(
            "CAST(SUM(CAST(val AS DECIMAL(24,9))) AS DOUBLE) / COUNT(*)"
        ).alias("mu")
    )
    cent = cent.localCheckpoint(eager=True)
    norms = cent.groupBy("label").agg(
        F.expr(
            "CAST(SUM(CAST(mu * mu AS DECIMAL(24,12))) AS DOUBLE)"
        ).alias("nn")
    )
    a = cent.select(
        F.col("label").alias("la"), "pos", F.col("mu").alias("ma")
    )
    b = cent.select(
        F.col("label").alias("lb"),
        F.col("pos").alias("pos_b"),
        F.col("mu").alias("mb"),
    )
    dots = (
        a.join(b, (F.col("pos") == F.col("pos_b")) & (F.col("la") < F.col("lb")))
        .groupBy("la", "lb")
        .agg(
            F.expr(
                "CAST(SUM(CAST(ma * mb AS DECIMAL(24,12))) AS DOUBLE)"
            ).alias("dot")
        )
    )
    na = norms.select(F.col("label").alias("la"), F.col("nn").alias("na"))
    nb = norms.select(F.col("label").alias("lb"), F.col("nn").alias("nb"))
    return (
        dots.join(F.broadcast(na), "la")
        .join(F.broadcast(nb), "lb")
        .select(
            F.col("la").cast("int").alias("label_a"),
            F.col("lb").cast("int").alias("label_b"),
            F.expr("CAST(CAST(dot AS DECIMAL(18,9)) AS DOUBLE)").alias("dot"),
            F.expr(
                "CAST(CAST(dot / sqrt(na * nb) AS DECIMAL(18,9))"
                " AS DOUBLE)"
            ).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), "label_a", "label_b")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Intra-document redundancy — array set algebra as the template
# detector: split each doc's token array in half, overlap coefficient
# |A∩B| / min(|A|,|B|) between the halves' vocabularies in ppm. High
# overlap = the second half restates the first (boilerplate,
# templates, generated filler). Pure row-local array_intersect /
# array_distinct — zero shuffles before the final top-k.
# ---------------------------------------------------------------------------

@query(
    "q_intradoc_redundancy",
    """
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                           w -> w <> '') AS ts
        FROM documents),
    halves AS (
        SELECT doc_id,
               list_distinct(ts[1 : len(ts) // 2]) AS a,
               list_distinct(ts[len(ts) // 2 + 1 : len(ts)]) AS b
        FROM toks WHERE len(ts) >= 8),
    m AS (
        SELECT doc_id,
               len(a) AS na, len(b) AS nb,
               len(list_intersect(a, b)) AS inter
        FROM halves)
    SELECT doc_id, CAST(na AS BIGINT) AS n_vocab_a,
           CAST(nb AS BIGINT) AS n_vocab_b,
           CAST(inter AS BIGINT) AS n_shared,
           CAST(inter * 1000000 // LEAST(na, nb) AS BIGINT)
               AS overlap_ppm
    FROM m WHERE na > 0 AND nb > 0
    ORDER BY overlap_ppm DESC, doc_id LIMIT 20
    """,
)
def q_intradoc_redundancy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 self-redundant documents: first-half vs second-half
    vocabulary overlap coefficient from row-local slice →
    array_distinct → array_intersect (the array set-algebra tier —
    no explode, no join, whole-stage codegen end to end). Documents
    near 1e6 ppm repeat their own first half; a cheap pre-filter
    before the shingle-based boilerplate machinery
    (q_boilerplate_suppress) runs."""
    docs = table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.expr(
            "filter(split(lower(text), '[^a-z0-9]+'), w -> w != '')"
        ).alias("ts"),
    )
    halves = toks.where(F.expr("size(ts) >= 8")).select(
        "doc_id",
        F.expr(
            "array_distinct(slice(ts, 1, size(ts) DIV 2))"
        ).alias("a"),
        F.expr(
            "array_distinct(slice(ts, size(ts) DIV 2 + 1,"
            " size(ts) - size(ts) DIV 2))"
        ).alias("b"),
    )
    m = halves.select(
        "doc_id",
        F.size("a").alias("na"),
        F.size("b").alias("nb"),
        F.size(F.array_intersect("a", "b")).alias("inter"),
    )
    return (
        m.where((F.col("na") > 0) & (F.col("nb") > 0))
        .select(
            "doc_id",
            F.col("na").cast("bigint").alias("n_vocab_a"),
            F.col("nb").cast("bigint").alias("n_vocab_b"),
            F.col("inter").cast("bigint").alias("n_shared"),
            F.expr(
                "CAST(inter * 1000000 DIV LEAST(na, nb) AS BIGINT)"
            ).alias("overlap_ppm"),
        )
        .orderBy(F.desc("overlap_ppm"), "doc_id")
        .limit(20)
    )
