"""Group/key parsing + demux operators (SURVEY §2.2 P3-P5, P9; §2.3 J4).

The reference infers partition keys from directory/file names
(``src/extract_embedding.py:19-24``, ``src/analyze_embedding_with_tsne
.py:28-35``, ``src/combined_embedding_features_comprations.py:74-79``);
here they are string expressions over a path column — at scale these
run inside whole-stage codegen, no Python.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..registry import query
from .fixtures import PREFIXED_KEYS_CTE, prefixed_keys
from .parity import sort_bounded

# ---------------------------------------------------------------------------
# Reusable column expressions (the engine ops themselves)
# ---------------------------------------------------------------------------

def parse_group_last_underscore(name: Column) -> Column:
    """P3 — generator name = last '_' token of the dataset dir name
    (``src/extract_embedding.py:19-24``)."""
    return F.substring_index(name, "_", -1)


def parse_group_dunder_fallback(stem: Column) -> Column:
    """P4 — split on '__' if present, else '_', else identity
    (``src/analyze_embedding_with_tsne.py:28-35``)."""
    return (
        F.when(stem.contains("__"), F.substring_index(stem, "__", -1))
        .when(stem.contains("_"), F.substring_index(stem, "_", -1))
        .otherwise(stem)
    )


def stem_from_key(key: Column) -> Column:
    """P5 — basename over / and \\, strip extension
    (``src/combined_embedding_features_comprations.py:74-79``)."""
    return F.regexp_replace(
        F.element_at(F.split(key, r"[/\\]"), -1), r"\.[^.]*$", ""
    )


def demux_label(key: Column) -> Column:
    """J4 — key-prefix label ('REAL/x' -> 'REAL'); caller filters to the
    known labels (``src/compare_embeddings_vs_features.py:105-115``)."""
    return F.substring_index(key, "/", 1)


def safe_title(label: Column) -> Column:
    """P9 — display remap (``utils/combine_images.py:37-41``)."""
    return (
        F.when(label == "REAL", "AutoSplice-Real")
        .when(label == "FAKE", "AutoSplice-Forged")
        .otherwise(F.translate(label, "/", "_"))
    )


# ---------------------------------------------------------------------------
# Oracle-checked queries
# ---------------------------------------------------------------------------

@query(
    "q_group_parse_paths",
    """
    WITH dirs AS (
        SELECT DISTINCT 'imagenet_ai_0419_' || LOWER(n_name) AS dirname,
               'sd14__' || LOWER(n_name) AS dunder_stem,
               'train/ai/' || LOWER(n_name) || '_0' || CAST(n_nationkey AS VARCHAR)
                   || '.JPEG' AS key
        FROM nation)
    SELECT dirname,
           regexp_extract(dirname, '([^_]+)$', 1) AS group_p3,
           CASE WHEN contains(dunder_stem, '__')
                THEN regexp_extract(dunder_stem, '.*__(.*)$', 1)
                WHEN contains(dunder_stem, '_')
                THEN regexp_extract(dunder_stem, '([^_]+)$', 1)
                ELSE dunder_stem END AS group_p4,
           regexp_replace(regexp_extract(key, '([^/\\\\]+)$', 1),
                          '\\.[^.]*$', '') AS stem_p5,
           LOWER(regexp_extract(key, '\\.([^.]+)$', 1)) AS ext
    FROM dirs
    ORDER BY dirname
    """,
)
def q_group_parse_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3+P4+P5+P1 on paths synthesized from nation names — the exact
    parses the reference does at ingest (group-from-dirname, stem
    normalization, extension extraction)."""
    dirs = (
        table(spark, sf_dir, "nation")
        .select(
            F.concat(F.lit("imagenet_ai_0419_"), F.lower("n_name")).alias("dirname"),
            F.concat(F.lit("sd14__"), F.lower("n_name")).alias("dunder_stem"),
            F.concat(
                F.lit("train/ai/"),
                F.lower("n_name"),
                F.lit("_0"),
                F.col("n_nationkey").cast("string"),
                F.lit(".JPEG"),
            ).alias("key"),
        )
        .distinct()
    )
    return dirs.select(
        "dirname",
        parse_group_last_underscore(F.col("dirname")).alias("group_p3"),
        parse_group_dunder_fallback(F.col("dunder_stem")).alias("group_p4"),
        stem_from_key(F.col("key")).alias("stem_p5"),
        F.lower(F.regexp_extract("key", r"\.([^.]+)$", 1)).alias("ext"),
    ).transform(sort_bounded, "dirname")


@query(
    "q_prefix_demux",
    f"""
    WITH {PREFIXED_KEYS_CTE.strip()}
    SELECT split_part(key, '/', 1) AS label,
           COUNT(*) AS n,
           MIN(vec_id) AS min_vec_id
    FROM prefixed_keys
    WHERE split_part(key, '/', 1) IN ('REAL', 'FAKE')
    GROUP BY 1
    ORDER BY label
    """,
)
def q_prefix_demux(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 — route merged keys to REAL/FAKE buckets, dropping non-matching
    keys, exactly as the reference demux does."""
    return (
        prefixed_keys(spark, sf_dir)
        .withColumn("label", demux_label(F.col("key")))
        .where(F.col("label").isin("REAL", "FAKE"))
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("n"), F.min("vec_id").alias("min_vec_id"))
        .transform(sort_bounded, "label")
    )


@query(
    "q_safe_title",
    """
    SELECT label,
           CASE WHEN label = 'REAL' THEN 'AutoSplice-Real'
                WHEN label = 'FAKE' THEN 'AutoSplice-Forged'
                ELSE replace(label, '/', '_') END AS title,
           n
    FROM (
        SELECT split_part(key, '/', 1) AS label, COUNT(*) AS n
        FROM (
            SELECT CASE
                     WHEN vec_id % 3 = 0 THEN 'REAL/img_' || CAST(vec_id AS VARCHAR)
                     WHEN vec_id % 3 = 1 THEN 'FAKE/img_' || CAST(vec_id AS VARCHAR)
                     ELSE 'MISC/img_' || CAST(vec_id AS VARCHAR)
                   END AS key
            FROM embeddings) t
        GROUP BY 1) g
    ORDER BY label
    """,
)
def q_safe_title(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P9 — title remap over the demuxed label distribution."""
    return (
        prefixed_keys(spark, sf_dir)
        .withColumn("label", demux_label(F.col("key")))
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("n"))
        .select("label", safe_title(F.col("label")).alias("title"), "n")
        .transform(sort_bounded, "label")
    )


@query(
    "q_path_rollup",
    """
    WITH keyed AS (
        SELECT 'proj_' || CAST(vec_id % 3 AS VARCHAR) || '/' ||
               CASE WHEN vec_id % 10 < 8 THEN 'train' ELSE 'val' END || '/' ||
               CASE WHEN vec_id % 2 = 0 THEN 'REAL' ELSE 'FAKE' END || '/' ||
               'img_' || CAST(vec_id AS VARCHAR) || '.png' AS path,
               vec_id
        FROM embeddings),
    parsed AS (
        SELECT split_part(path, '/', 1) AS project,
               split_part(path, '/', 2) AS split,
               split_part(path, '/', 3) AS label,
               vec_id
        FROM keyed)
    SELECT project, split, label,
           CAST(COUNT(*) AS BIGINT) AS n_files,
           CAST(MIN(vec_id) AS BIGINT) AS min_vec_id
    FROM parsed
    GROUP BY ROLLUP (project, split, label)
    ORDER BY project NULLS FIRST, split NULLS FIRST, label NULLS FIRST
    """,
)
def q_path_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchy rollup over parsed storage paths: split each key into
    its (project, split, label) directory levels — the same codegen
    string parses as P3-P5 — then one ROLLUP aggregation produces the
    per-label, per-split, per-project, and grand-total file counts in
    a single pass (the dataset-inventory report the reference builds
    with nested Python loops over directory listings, as one shuffle).

    Scale shape: level parsing is row-local ``split_part``; ROLLUP
    expands each row into its 4 grouping sets BEFORE the exchange, so
    partial aggregation still collapses map-side — one shuffle of
    (distinct-groups × 4) rows regardless of corpus size."""
    emb = table(spark, sf_dir, "embeddings")
    vid = F.col("vec_id")
    path = F.concat(
        F.lit("proj_"), (vid % 3).cast("string"), F.lit("/"),
        F.when(vid % 10 < 8, "train").otherwise("val"), F.lit("/"),
        F.when(vid % 2 == 0, "REAL").otherwise("FAKE"), F.lit("/"),
        F.lit("img_"), vid.cast("string"), F.lit(".png"),
    )
    parsed = emb.select(path.alias("path"), "vec_id").select(
        F.split_part(F.col("path"), F.lit("/"), F.lit(1)).alias("project"),
        F.split_part(F.col("path"), F.lit("/"), F.lit(2)).alias("split"),
        F.split_part(F.col("path"), F.lit("/"), F.lit(3)).alias("label"),
        "vec_id",
    )
    return (
        parsed.rollup("project", "split", "label")
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.min("vec_id").alias("min_vec_id"),
        )
    )


@query(
    "q_stem_coverage",
    """
    WITH keyed AS (
        SELECT 'gen' || CAST(label % 4 AS VARCHAR) AS "group",
               'train/gen' || CAST(label % 4 AS VARCHAR) || '/img_'
                   || CAST(vec_id % 400 AS VARCHAR) || '.png' AS key
        FROM embeddings),
    stems AS (
        SELECT "group",
               regexp_replace(regexp_extract(key, '([^/\\\\]+)$', 1),
                              '\\.[^.]*$', '') AS stem
        FROM keyed),
    per_stem AS (
        SELECT stem,
               COUNT(DISTINCT "group") AS n_groups,
               COUNT(*) AS n_files
        FROM stems GROUP BY stem)
    SELECT CAST(n_groups AS BIGINT) AS n_groups,
           CAST(COUNT(*) AS BIGINT) AS n_stems,
           CAST(SUM(n_files) AS BIGINT) AS n_files_total,
           MIN(stem) AS example_stem,
           n_groups = 4 AS is_complete
    FROM per_stem
    GROUP BY n_groups
    ORDER BY n_groups
    """,
)
def q_stem_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stem-coverage matrix — the alignment diagnostic a user runs
    BEFORE the reference's stem joins (J2,
    ``src/combined_embedding_features_comprations.py:74-99``, which
    silently inner-joins away any stem missing from one side): for
    every normalized stem (P5 parse), in how many of the expected
    groups does it appear? The histogram over that coverage count —
    with a witness stem per band and an ``is_complete`` flag — tells
    the user exactly how much an alignment join will drop.

    Scale shape: P5 stem parsing is row-local codegen; one groupBy on
    stem (partial-aggregated map-side), one tiny rollup on the
    coverage count. No window, no join."""
    from ..catalog import table

    emb = table(spark, sf_dir, "embeddings")
    keyed = emb.select(
        F.concat(F.lit("gen"), (F.col("label") % 4).cast("string")).alias("group"),
        F.concat(
            F.lit("train/gen"),
            (F.col("label") % 4).cast("string"),
            F.lit("/img_"),
            (F.col("vec_id") % 400).cast("string"),
            F.lit(".png"),
        ).alias("key"),
    )
    stems = keyed.select("group", stem_from_key(F.col("key")).alias("stem"))
    per_stem = stems.groupBy("stem").agg(
        F.countDistinct("group").alias("n_groups"),
        F.count(F.lit(1)).alias("n_files"),
    )
    return (
        per_stem.groupBy("n_groups")
        .agg(
            F.count(F.lit(1)).alias("n_stems"),
            F.sum("n_files").cast("bigint").alias("n_files_total"),
            F.min("stem").alias("example_stem"),
        )
        .select(
            "n_groups",
            "n_stems",
            "n_files_total",
            "example_stem",
            (F.col("n_groups") == 4).alias("is_complete"),
        )
    )


@query(
    "q_extension_audit",
    """
    WITH keyed AS (
        SELECT (CASE WHEN label % 2 = 0 THEN 'REAL' ELSE 'FAKE' END)
               || '/img_' || CAST(vec_id AS VARCHAR)
               || (CASE WHEN vec_id % 10 <= 5 THEN '.png'
                        WHEN vec_id % 10 <= 7 THEN '.JPG'
                        WHEN vec_id % 10 = 8 THEN '.txt'
                        ELSE '' END) AS key
        FROM embeddings),
    parsed AS (
        SELECT split_part(key, '/', 1) AS label,
               LOWER(regexp_extract(key, '[.]([^./]+)$', 1)) AS ext
        FROM keyed),
    counted AS (
        SELECT label, ext, COUNT(*) AS n_files
        FROM parsed GROUP BY label, ext)
    SELECT label, ext, ext IN ('png', 'jpg', 'jpeg') AS is_image,
           CAST(n_files AS BIGINT) AS n_files,
           CAST(n_files * 1000000 // SUM(n_files) OVER (PARTITION BY label)
                AS BIGINT) AS share_ppm
    FROM counted
    ORDER BY label, ext
    """,
)
def q_extension_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension audit over demuxed keys (P1/P2's predicates turned into
    a corpus-intake report): parse the prefix label (J4 demux) and the
    lowercased extension out of each storage key — including uppercase
    variants and extensionless decoys — and report, per (label, ext),
    the file count, an is-image flag, and the integer parts-per-million
    share of that label's corpus. This is the listing-time sanity check
    a user runs BEFORE the reference's extension filters
    (``src/extract_embedding.py:26-29`` hard-codes ``.png``; this shows
    what such a filter would silently drop).

    Scale shape: parsing is row-local codegen (split_part +
    regexp_extract); one groupBy on (label, ext) with map-side partial
    aggregation; the share window runs over the already-aggregated
    handful of (label, ext) rows. Shares use the integer
    ``n * 1000000 DIV total`` idiom end-to-end so both engines emit the
    identical BIGINT (no double division anywhere)."""
    emb = table(spark, sf_dir, "embeddings")
    vid, lab = F.col("vec_id"), F.col("label")
    key = F.concat(
        F.when(lab % 2 == 0, F.lit("REAL")).otherwise(F.lit("FAKE")),
        F.lit("/img_"),
        vid.cast("string"),
        F.when(vid % 10 <= 5, F.lit(".png"))
        .when(vid % 10 <= 7, F.lit(".JPG"))
        .when(vid % 10 == 8, F.lit(".txt"))
        .otherwise(F.lit("")),
    )
    parsed = emb.select(
        demux_label(key).alias("label"),
        F.lower(F.regexp_extract(key, r"[.]([^./]+)$", 1)).alias("ext"),
    )
    counted = parsed.groupBy("label", "ext").agg(
        F.count(F.lit(1)).alias("n_files")
    )
    return counted.select(
        "label",
        "ext",
        F.col("ext").isin("png", "jpg", "jpeg").alias("is_image"),
        "n_files",
        F.expr(
            "CAST(n_files * 1000000 DIV SUM(n_files)"
            " OVER (PARTITION BY label) AS BIGINT)"
        ).alias("share_ppm"),
    )


@query(
    "q_key_depth_audit",
    """
    WITH keyed AS (
        SELECT CASE vec_id % 4
                 WHEN 0 THEN 'img_' || CAST(vec_id AS VARCHAR) || '.png'
                 WHEN 1 THEN 'proj/img_' || CAST(vec_id AS VARCHAR)
                             || '.png'
                 WHEN 2 THEN 'proj/train/img_' || CAST(vec_id AS VARCHAR)
                             || '.png'
                 ELSE 'proj//img_' || CAST(vec_id AS VARCHAR) || '.png'
               END AS key
        FROM embeddings),
    parsed AS (
        SELECT key,
               CAST(len(string_split(key, '/')) - 1 AS INT) AS depth,
               len(list_filter(string_split(key, '/'), s -> s = '')) > 0
                   AS malformed
        FROM keyed)
    SELECT depth, malformed,
           CAST(COUNT(*) AS BIGINT) AS n_keys,
           MIN(key) AS example_key
    FROM parsed
    GROUP BY depth, malformed
    ORDER BY depth, malformed
    """,
)
def q_key_depth_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directory-depth + malformed-key audit over storage keys: split
    each key on '/', report the nesting depth, flag keys with EMPTY
    path segments (double slashes — the listing bug that silently
    breaks prefix demux and stem parses), and give a witness key per
    (depth, malformed) cell. The intake guard a user runs before the
    reference's fixed-depth directory walks
    (``src/extract_embedding.py:19-24`` assumes exactly
    project/split/label nesting and would mis-parse every shallow or
    double-slash key here).

    Scale shape: split + size + exists are row-local codegen HOFs; one
    groupBy over a handful of (depth, malformed) cells with map-side
    partial aggregation. No window, no join, no UDF."""
    emb = table(spark, sf_dir, "embeddings")
    vid = F.col("vec_id")
    sid = vid.cast("string")
    key = (
        F.when(vid % 4 == 0, F.concat(F.lit("img_"), sid, F.lit(".png")))
        .when(vid % 4 == 1, F.concat(F.lit("proj/img_"), sid, F.lit(".png")))
        .when(
            vid % 4 == 2,
            F.concat(F.lit("proj/train/img_"), sid, F.lit(".png")),
        )
        .otherwise(F.concat(F.lit("proj//img_"), sid, F.lit(".png")))
    )
    segs = F.split(F.col("key"), "/")
    parsed = emb.select(key.alias("key")).select(
        "key",
        (F.size(segs) - 1).cast("int").alias("depth"),
        F.exists(segs, lambda s: s == "").alias("malformed"),
    )
    return (
        parsed.groupBy("depth", "malformed")
        .agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.min("key").alias("example_key"),
        )
    )
