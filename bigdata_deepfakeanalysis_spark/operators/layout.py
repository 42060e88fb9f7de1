"""Z-order data layout — multi-dimensional clustering for data
skipping.

The 100 TB story: sorting a fact table by ONE key gives perfect
min/max pruning on that key and none on any other. Interleaving the
bits of two keys (Morton / Z-order) and range-splitting on the
interleaved key gives every output file a narrow min/max range on
BOTH dimensions — top-4-bit splitting fixes 2 high bits of each
16-bit dimension, so every file spans ≤ 1/4 of each domain, and a
predicate on either column prunes ~3/4 of the files at planning time.
This is the layout trick behind Delta/Iceberg Z-ORDER, expressed as
plain integer arithmetic: domain-normalize (one stats pass, broadcast
scalars), interleave (row-local codegen), split on the key prefix
(shuffle-free — no global sort, no window).

No reference counterpart; Morton coding is public knowledge (Morton
1966; Delta OPTIMIZE ZORDER BY docs describe the same construction).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..registry import query

_BITS = 16
_FILE_PREFIX_BITS = 4  # top bits of zkey → 16 files


def _interleave(x: str, y: str, dialect: str) -> str:
    """Morton interleave of two {_BITS}-bit ints: bit i of x → bit 2i,
    bit i of y → bit 2i+1. Same arithmetic, dialect-specific shifts."""
    parts = []
    for i in range(_BITS):
        if dialect == "spark":
            parts.append(f"shiftleft(shiftright({x}, {i}) & 1, {2 * i})")
            parts.append(f"shiftleft(shiftright({y}, {i}) & 1, {2 * i + 1})")
        else:
            parts.append(f"((({x} >> {i}) & 1) << {2 * i})")
            parts.append(f"((({y} >> {i}) & 1) << {2 * i + 1})")
    return " + ".join(parts)


_NORM = (
    "CAST((({col} - {lo}) * 65535) DIV GREATEST({hi} - {lo}, 1) AS BIGINT)"
)
_NORM_DUCK = (
    "CAST((({col} - {lo}) * 65535) // GREATEST({hi} - {lo}, 1) AS BIGINT)"
)

_SHIFT = 2 * _BITS - _FILE_PREFIX_BITS

_ZORDER_ORACLE = f"""
WITH stats AS (
    SELECT MIN(l_partkey) AS pmin, MAX(l_partkey) AS pmax,
           MIN(l_suppkey) AS smin, MAX(l_suppkey) AS smax
    FROM lineitem),
keyed AS (
    SELECT ({_interleave(
        _NORM_DUCK.format(col="l_partkey", lo="pmin", hi="pmax"),
        _NORM_DUCK.format(col="l_suppkey", lo="smin", hi="smax"),
        "duck")}) AS zkey,
           l_partkey, l_suppkey
    FROM lineitem CROSS JOIN stats)
SELECT CAST(zkey >> {_SHIFT} AS BIGINT) AS file_id,
       COUNT(*) AS n_rows,
       MIN(l_partkey) AS p_lo, MAX(l_partkey) AS p_hi,
       MIN(l_suppkey) AS s_lo, MAX(l_suppkey) AS s_hi
FROM keyed
GROUP BY file_id
ORDER BY file_id
"""


@query("q_zorder_layout", _ZORDER_ORACLE)
def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order range split of lineitem on (l_partkey, l_suppkey):
    per-file row counts and min/max ranges of BOTH dimensions. The
    span test (tests/test_properties) asserts every file covers at
    most ~1/4 of each domain — the data-skipping guarantee a
    single-key sort cannot give.

    Plan shape: stats scan → broadcast scalars → row-local interleave
    (whole-stage codegen, 64 shift-mask terms) → one groupBy on the
    4-bit prefix. No global sort, no window, no Python."""
    li = table(spark, sf_dir, "lineitem")
    stats = li.agg(
        F.min("l_partkey").alias("pmin"),
        F.max("l_partkey").alias("pmax"),
        F.min("l_suppkey").alias("smin"),
        F.max("l_suppkey").alias("smax"),
    )
    x = _NORM.format(col="l_partkey", lo="pmin", hi="pmax")
    y = _NORM.format(col="l_suppkey", lo="smin", hi="smax")
    keyed = (
        li.select("l_partkey", "l_suppkey")
        .join(F.broadcast(stats))
        .withColumn("zkey", F.expr(_interleave(x, y, "spark")))
    )
    return (
        keyed.select(
            F.expr(f"CAST(zkey >> {_SHIFT} AS BIGINT)").alias("file_id"),
            "l_partkey",
            "l_suppkey",
        )
        .groupBy("file_id")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("l_partkey").alias("p_lo"),
            F.max("l_partkey").alias("p_hi"),
            F.min("l_suppkey").alias("s_lo"),
            F.max("l_suppkey").alias("s_hi"),
        )
    )


# ---------------------------------------------------------------------------
# Data-skipping audit: how much does the Z-order layout actually prune?
# ---------------------------------------------------------------------------

_PRUNE_ORACLE = f"""
WITH stats AS (
    SELECT MIN(l_partkey) AS pmin, MAX(l_partkey) AS pmax,
           MIN(l_suppkey) AS smin, MAX(l_suppkey) AS smax
    FROM lineitem),
bounds AS (
    SELECT pmin + (pmax - pmin) * 3 // 8 AS plo,
           pmin + (pmax - pmin) * 4 // 8 AS phi,
           smin + (smax - smin) * 3 // 8 AS slo,
           smin + (smax - smin) * 4 // 8 AS shi
    FROM stats),
keyed AS (
    SELECT ({_interleave(
        _NORM_DUCK.format(col="l_partkey", lo="pmin", hi="pmax"),
        _NORM_DUCK.format(col="l_suppkey", lo="smin", hi="smax"),
        "duck")}) AS zkey,
           l_partkey, l_suppkey
    FROM lineitem CROSS JOIN stats),
files AS (
    SELECT CAST(zkey >> {_SHIFT} AS BIGINT) AS file_id,
           COUNT(*) AS n_rows,
           MIN(l_partkey) AS p_lo, MAX(l_partkey) AS p_hi,
           MIN(l_suppkey) AS s_lo, MAX(l_suppkey) AS s_hi,
           SUM(CASE WHEN l_partkey BETWEEN
                        (SELECT plo FROM bounds) AND (SELECT phi FROM bounds)
                    THEN 1 ELSE 0 END) AS p_match,
           SUM(CASE WHEN l_suppkey BETWEEN
                        (SELECT slo FROM bounds) AND (SELECT shi FROM bounds)
                    THEN 1 ELSE 0 END) AS s_match
    FROM keyed GROUP BY file_id)
SELECT probe,
       CAST(COUNT(*) AS BIGINT) AS files_total,
       CAST(SUM(CASE WHEN scanned THEN 1 ELSE 0 END) AS BIGINT)
           AS files_scanned,
       CAST(SUM(CASE WHEN scanned THEN n_rows ELSE 0 END) AS BIGINT)
           AS rows_scanned,
       CAST(SUM(matched) AS BIGINT) AS rows_matched
FROM (
    SELECT 'partkey_mid8' AS probe, n_rows, p_match AS matched,
           NOT (p_hi < (SELECT plo FROM bounds)
                OR p_lo > (SELECT phi FROM bounds)) AS scanned
    FROM files
    UNION ALL
    SELECT 'suppkey_mid8', n_rows, s_match,
           NOT (s_hi < (SELECT slo FROM bounds)
                OR s_lo > (SELECT shi FROM bounds))
    FROM files)
GROUP BY probe ORDER BY probe
"""


@query("q_zorder_pruning", _PRUNE_ORACLE)
def q_zorder_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-skipping effectiveness audit of the Z-order layout: for a
    one-eighth-of-domain range probe on EACH clustered dimension,
    simulate min/max-stats pruning over the layout's files and report
    files scanned vs total and rows scanned vs actually matching —
    the measurement behind a 'Z-ORDER helped' claim. The span
    guarantee (every file covers <= ~1/4 of each domain) implies
    files_scanned <= ~(1/4 + 1/8) of files_total per probe; the
    property test asserts it.

    One pass builds the per-file stats (the same narrow groupBy as
    q_zorder_layout, with the probe match counts folded in as
    conditional aggregates); the audit itself is arithmetic over the
    16-row stats table. Probe bounds derive from the global min/max by
    integer arithmetic, so both engines compute identical bounds."""
    li = table(spark, sf_dir, "lineitem")
    stats = li.agg(
        F.min("l_partkey").alias("pmin"),
        F.max("l_partkey").alias("pmax"),
        F.min("l_suppkey").alias("smin"),
        F.max("l_suppkey").alias("smax"),
    ).withColumns(
        {
            "plo": F.expr("pmin + (pmax - pmin) * 3 DIV 8"),
            "phi": F.expr("pmin + (pmax - pmin) * 4 DIV 8"),
            "slo": F.expr("smin + (smax - smin) * 3 DIV 8"),
            "shi": F.expr("smin + (smax - smin) * 4 DIV 8"),
        }
    )
    x = _NORM.format(col="l_partkey", lo="pmin", hi="pmax")
    y = _NORM.format(col="l_suppkey", lo="smin", hi="smax")
    files = (
        li.select("l_partkey", "l_suppkey")
        .join(F.broadcast(stats))
        .withColumn("zkey", F.expr(_interleave(x, y, "spark")))
        .groupBy(F.expr(f"CAST(zkey >> {_SHIFT} AS BIGINT)").alias("file_id"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("l_partkey").alias("p_lo"),
            F.max("l_partkey").alias("p_hi"),
            F.min("l_suppkey").alias("s_lo"),
            F.max("l_suppkey").alias("s_hi"),
            F.sum(
                F.expr("CASE WHEN l_partkey BETWEEN plo AND phi"
                       " THEN 1 ELSE 0 END")
            ).alias("p_match"),
            F.sum(
                F.expr("CASE WHEN l_suppkey BETWEEN slo AND shi"
                       " THEN 1 ELSE 0 END")
            ).alias("s_match"),
            F.first("plo").alias("plo"),
            F.first("phi").alias("phi"),
            F.first("slo").alias("slo"),
            F.first("shi").alias("shi"),
        )
    )
    probes = files.select(
        F.lit("partkey_mid8").alias("probe"),
        "n_rows",
        F.col("p_match").alias("matched"),
        (~((F.col("p_hi") < F.col("plo")) | (F.col("p_lo") > F.col("phi"))))
        .alias("scanned"),
    ).unionAll(
        files.select(
            F.lit("suppkey_mid8").alias("probe"),
            "n_rows",
            F.col("s_match").alias("matched"),
            (~((F.col("s_hi") < F.col("slo"))
               | (F.col("s_lo") > F.col("shi")))).alias("scanned"),
        )
    )
    return (
        probes.groupBy("probe")
        .agg(
            F.count(F.lit(1)).alias("files_total"),
            F.sum(F.col("scanned").cast("bigint")).alias("files_scanned"),
            F.sum(
                F.when(F.col("scanned"), F.col("n_rows")).otherwise(0)
            ).alias("rows_scanned"),
            F.sum("matched").cast("bigint").alias("rows_matched"),
        )
    )


# ---------------------------------------------------------------------------
# Small-file compaction planning — the OPTIMIZE step's decision logic:
# group a partition's undersized files into target-sized merge bins so
# a rewrite pass can fix the small-files problem without touching
# already-right-sized files.
# ---------------------------------------------------------------------------

_COMPACT_TARGET = 64_000  # target bytes per output file (fixture scale)


@query(
    "q_compaction_plan",
    f"""
    WITH files AS (
        SELECT CAST(strftime(o_orderdate, '%Y') AS INTEGER) AS part,
               CAST(o_orderkey % 40 AS BIGINT) AS file_id,
               CAST(COUNT(*) * 120 AS BIGINT) AS bytes
        FROM orders GROUP BY part, o_orderkey % 40),
    planned AS (
        SELECT part, file_id, bytes,
               CAST((SUM(bytes) OVER (PARTITION BY part
                                      ORDER BY file_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) - bytes)
                    // {_COMPACT_TARGET} AS BIGINT) AS bin
        FROM files WHERE bytes < {_COMPACT_TARGET})
    SELECT part, bin,
           CAST(COUNT(*) AS BIGINT) AS n_files_in,
           CAST(SUM(bytes) AS BIGINT) AS bytes_in,
           CAST(MIN(file_id) AS BIGINT) AS first_file,
           CAST(MAX(file_id) AS BIGINT) AS last_file
    FROM planned GROUP BY part, bin
    ORDER BY part, bin
    """,
)
def q_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compaction plan over a simulated per-partition file inventory
    (year partitions × 40 files, bytes from row counts): undersized
    files (< {_COMPACT_TARGET} B) are assigned to merge bins by the
    cumulative-sum trick — bin = floor(running_bytes_before / target)
    within each partition — so every bin lands within one file of the
    target size and right-sized files are never rewritten. Per
    (partition, bin): file count, byte total, file-id range — the work
    list an OPTIMIZE job executes.

    100 TB shape: the inventory is metadata (one row per file — a few
    million rows for a petabyte table); the plan is one window + one
    rollup over it. The same cumulative-sum binning packs token
    sequences (q_sequence_packing) — it is THE deterministic
    first-fit-shaped assignment that needs no driver loop."""
    orders = table(spark, sf_dir, "orders")
    files = orders.groupBy(
        F.expr("CAST(date_format(o_orderdate, 'yyyy') AS INT)").alias(
            "part"
        ),
        (F.col("o_orderkey") % 40).alias("file_id"),
    ).agg((F.count(F.lit(1)) * 120).cast("bigint").alias("bytes"))
    from pyspark.sql.window import Window as _W

    w = (
        _W.partitionBy("part")
        .orderBy("file_id")
        .rowsBetween(_W.unboundedPreceding, 0)
    )
    planned = (
        files.where(F.col("bytes") < _COMPACT_TARGET)
        .withColumn(
            "bin",
            F.expr(
                f"CAST((SUM(bytes) OVER (PARTITION BY part ORDER BY file_id"
                f" ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
                f" - bytes) DIV {_COMPACT_TARGET} AS BIGINT)"
            ),
        )
    )
    return (
        planned.groupBy("part", "bin")
        .agg(
            F.count(F.lit(1)).alias("n_files_in"),
            F.sum("bytes").cast("bigint").alias("bytes_in"),
            F.min("file_id").cast("bigint").alias("first_file"),
            F.max("file_id").cast("bigint").alias("last_file"),
        )
    )


# ---------------------------------------------------------------------------
# Hilbert-curve layout — the locality-stronger alternative to Morton:
# every Hilbert-contiguous range is a connected (near-square) region,
# so range-splitting the key gives files with tighter per-dimension
# spans than Z-order's worst case. Computed by the classic xy->d bit
# loop (8 levels for 8-bit coordinates), unrolled into pure integer
# column expressions — one Python loop EMITS the expressions; nothing
# iterative runs per row.
# ---------------------------------------------------------------------------

_H_BITS = 8  # 8-bit normalized coordinates -> 16-bit Hilbert key
_H_PREFIX = 4  # top bits of the key -> 16 files
_H_NORM = "CAST((({col} - {lo}) * 255) DIV GREATEST({hi} - {lo}, 1) AS BIGINT)"
_H_NORM_DUCK = (
    "CAST((({col} - {lo}) * 255) // GREATEST({hi} - {lo}, 1) AS BIGINT)"
)


def _hilbert_steps(dialect: str) -> list[tuple[str, str, str]]:
    """Per-level (d, x, y) update expressions for the standard xy->d
    Hilbert walk, highest bit first: rx=(x&s)>0, ry=(y&s)>0,
    d += s*s*((3*rx) XOR ry), then the (ry==0) rotation+swap. Returns
    one (d_expr, x_expr, y_expr) triple per level, each reading the
    previous level's columns hx/hy/hd."""
    xor = "xor({a}, {b})" if dialect == "duck" else "({a} ^ {b})"
    steps = []
    for lvl in range(_H_BITS - 1, -1, -1):
        s = 1 << lvl
        rx = f"(CASE WHEN (hx & {s}) > 0 THEN 1 ELSE 0 END)"
        ry = f"(CASE WHEN (hy & {s}) > 0 THEN 1 ELSE 0 END)"
        d_expr = (
            f"hd + {s * s} * " + xor.format(a=f"(3 * {rx})", b=ry)
        )
        # rot: if ry==0 { if rx==1 { x = s-1-x; y = s-1-y }; swap(x,y) }
        x_expr = (
            f"CASE WHEN {ry} = 0 THEN "
            f"(CASE WHEN {rx} = 1 THEN {s} - 1 - hy ELSE hy END) "
            f"ELSE hx END"
        )
        y_expr = (
            f"CASE WHEN {ry} = 0 THEN "
            f"(CASE WHEN {rx} = 1 THEN {s} - 1 - hx ELSE hx END) "
            f"ELSE hy END"
        )
        steps.append((d_expr, x_expr, y_expr))
    return steps


def _hilbert_oracle() -> str:
    ctes = [
        "stats AS (SELECT MIN(l_partkey) AS pmin, MAX(l_partkey) AS pmax,"
        " MIN(l_suppkey) AS smin, MAX(l_suppkey) AS smax FROM lineitem)",
        "h0 AS (SELECT "
        + _H_NORM_DUCK.format(col="l_partkey", lo="pmin", hi="pmax")
        + " AS hx, "
        + _H_NORM_DUCK.format(col="l_suppkey", lo="smin", hi="smax")
        + " AS hy, CAST(0 AS BIGINT) AS hd, l_partkey, l_suppkey"
        " FROM lineitem CROSS JOIN stats)",
    ]
    for i, (d, x, y) in enumerate(_hilbert_steps("duck"), start=1):
        ctes.append(
            f"h{i} AS (SELECT {d} AS hd, {x} AS hx, {y} AS hy,"
            f" l_partkey, l_suppkey FROM h{i - 1})"
        )
    last = f"h{_H_BITS}"
    shift = 2 * _H_BITS - _H_PREFIX
    return f"""
    WITH {", ".join(ctes)}
    SELECT CAST(hd >> {shift} AS BIGINT) AS file_id,
           COUNT(*) AS n_rows,
           MIN(l_partkey) AS p_lo, MAX(l_partkey) AS p_hi,
           MIN(l_suppkey) AS s_lo, MAX(l_suppkey) AS s_hi
    FROM {last}
    GROUP BY file_id ORDER BY file_id
    """


@query("q_hilbert_layout", _hilbert_oracle())
def q_hilbert_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-curve range split of lineitem on (l_partkey, l_suppkey):
    per-file row counts and min/max spans of both dimensions — the
    same report as ``q_zorder_layout``, under the curve with the
    stronger locality guarantee (every contiguous key range is a
    connected region, so no file suffers Morton's seam-jump worst
    case). The 8-level xy→d walk is unrolled into pure integer CASE
    expressions (whole-stage codegen; the Python loop only EMITS
    them), and the oracle unrolls the identical levels as chained
    CTEs — bit-exact in both engines.

    Same scale shape as Z-order: one stats pass, broadcast scalars,
    row-local key computation, one groupBy on the 4-bit prefix."""
    li = table(spark, sf_dir, "lineitem")
    stats = li.agg(
        F.min("l_partkey").alias("pmin"),
        F.max("l_partkey").alias("pmax"),
        F.min("l_suppkey").alias("smin"),
        F.max("l_suppkey").alias("smax"),
    )
    cur = (
        li.select("l_partkey", "l_suppkey")
        .join(F.broadcast(stats))
        .select(
            "l_partkey",
            "l_suppkey",
            F.expr(
                _H_NORM.format(col="l_partkey", lo="pmin", hi="pmax")
            ).alias("hx"),
            F.expr(
                _H_NORM.format(col="l_suppkey", lo="smin", hi="smax")
            ).alias("hy"),
            F.lit(0).cast("bigint").alias("hd"),
        )
    )
    for d, x, y in _hilbert_steps("spark"):
        cur = cur.select(
            "l_partkey",
            "l_suppkey",
            F.expr(d).alias("_hd"),
            F.expr(x).alias("_hx"),
            F.expr(y).alias("_hy"),
        ).select(
            "l_partkey",
            "l_suppkey",
            F.col("_hx").alias("hx"),
            F.col("_hy").alias("hy"),
            F.col("_hd").alias("hd"),
        )
    shift = 2 * _H_BITS - _H_PREFIX
    return (
        cur.select(
            F.expr(f"CAST(hd >> {shift} AS BIGINT)").alias("file_id"),
            "l_partkey",
            "l_suppkey",
        )
        .groupBy("file_id")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("l_partkey").alias("p_lo"),
            F.max("l_partkey").alias("p_hi"),
            F.min("l_suppkey").alias("s_lo"),
            F.max("l_suppkey").alias("s_hi"),
        )
    )


# ---------------------------------------------------------------------------
# Compaction EXECUTION — closes the loop the planner
# (q_compaction_plan) opens: actually rewrite a fragmented table into
# target-size files and prove, via the _metadata scan, that the file
# count dropped and not one row moved logically. The fragmented state
# is staged deterministically (64 round-robin files), the compacted
# state is a coalesce-style rewrite into 4.
# ---------------------------------------------------------------------------

_FRAG_FILES = 64
_COMPACT_FILES = 4


@query(
    "q_compaction_execute",
    f"""
    SELECT CAST({_FRAG_FILES} AS BIGINT) AS files_before,
           CAST({_COMPACT_FILES} AS BIGINT) AS files_after,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_checksum,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS price_checksum
    FROM orders
    """,
)
def q_compaction_execute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fragment orders into {_FRAG_FILES} small files, compact into
    {_COMPACT_FILES}, and emit (files_before, files_after, rows,
    key/price checksums) — files counted from the real `_metadata`
    file paths of each layout, checksums proving the rewrite was
    lossless. The oracle knows what the numbers MUST be from the
    source table alone; a compaction that dropped or duplicated rows,
    or wrote the wrong file count, breaks the hash. At 100 TB the
    repartition target comes from the planner's bytes/target-size
    math (q_compaction_plan); the rewrite itself is this exact
    shuffle-and-write."""
    from ..catalog import staging_dir, table

    from pathlib import Path as _P

    tag = _P(sf_dir).name.replace(".", "_")
    frag = str(staging_dir("compaction") / f"frag_{tag}")
    compacted = str(staging_dir("compaction") / f"compact_{tag}")
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    o.repartition(_FRAG_FILES).write.mode("overwrite").parquet(frag)
    back = spark.read.parquet(frag)
    back.repartition(_COMPACT_FILES).write.mode("overwrite").parquet(
        compacted
    )
    final = spark.read.parquet(compacted)
    nb = back.select(
        F.col("_metadata.file_path").alias("p")
    ).distinct().agg(F.count(F.lit(1)).alias("files_before"))
    na = final.select(
        F.col("_metadata.file_path").alias("p")
    ).distinct().agg(F.count(F.lit(1)).alias("files_after"))
    stats = final.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("o_orderkey").cast("bigint").alias("key_checksum"),
        F.expr(
            "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)"
        ).alias("price_checksum"),
    )
    return (
        nb.crossJoin(F.broadcast(na))
        .crossJoin(F.broadcast(stats))
        .select(
            F.col("files_before").cast("bigint").alias("files_before"),
            F.col("files_after").cast("bigint").alias("files_after"),
            "n_rows",
            "key_checksum",
            "price_checksum",
        )
    )


# ---------------------------------------------------------------------------
# Partition-column advisor — should this column key the physical
# layout? For each candidate: distinct partition count, hottest-
# partition share, rows per partition — scored against the classic
# rules (enough partitions to prune, not so many that files shatter,
# no partition dominating). One small rollup per candidate; the
# design-time companion to the Z-order/compaction operators.
# ---------------------------------------------------------------------------

_ADV_MIN_PARTS = 4
_ADV_MAX_PARTS = 10000
_ADV_MAX_SHARE = 500000   # ppm — no partition may exceed 50%


@query(
    "q_partition_advisor",
    f"""
    WITH cands AS (
        SELECT 'o_orderpriority' AS col, o_orderpriority AS v FROM orders
        UNION ALL
        SELECT 'o_orderstatus', o_orderstatus FROM orders
        UNION ALL
        SELECT 'order_year', strftime(o_orderdate, '%Y') FROM orders),
    per_part AS (
        SELECT col, v, COUNT(*) AS n FROM cands GROUP BY col, v),
    stats AS (
        SELECT col,
               COUNT(*) AS n_partitions,
               SUM(n) AS n_rows,
               MAX(n) AS max_part_rows
        FROM per_part GROUP BY col)
    SELECT col,
           CAST(n_partitions AS BIGINT) AS n_partitions,
           CAST(n_rows // n_partitions AS BIGINT) AS avg_rows_per_part,
           CAST(max_part_rows * 1000000 // n_rows AS BIGINT)
               AS max_share_ppm,
           n_partitions BETWEEN {_ADV_MIN_PARTS} AND {_ADV_MAX_PARTS}
               AND max_part_rows * 1000000 // n_rows <= {_ADV_MAX_SHARE}
               AS recommended
    FROM stats
    ORDER BY col
    """,
)
def q_partition_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-key candidate report for the orders table
    (priority / status / order year): partition counts, average rows
    per partition, hottest-partition share in exact ppm, and the
    rule-based recommendation ({_ADV_MIN_PARTS}-{_ADV_MAX_PARTS}
    partitions, no partition above 50%). The numbers a layout
    decision actually turns on, from one pass per candidate."""
    o = table(spark, sf_dir, "orders")
    cands = (
        o.select(
            F.lit("o_orderpriority").alias("col"),
            F.col("o_orderpriority").alias("v"),
        )
        .unionByName(
            o.select(
                F.lit("o_orderstatus").alias("col"),
                F.col("o_orderstatus").alias("v"),
            )
        )
        .unionByName(
            o.select(
                F.lit("order_year").alias("col"),
                F.date_format("o_orderdate", "yyyy").alias("v"),
            )
        )
    )
    per_part = cands.groupBy("col", "v").agg(F.count(F.lit(1)).alias("n"))
    stats = per_part.groupBy("col").agg(
        F.count(F.lit(1)).alias("n_partitions"),
        F.sum("n").alias("n_rows"),
        F.max("n").alias("max_part_rows"),
    )
    return stats.select(
        "col",
        F.col("n_partitions").cast("bigint").alias("n_partitions"),
        F.expr("CAST(n_rows DIV n_partitions AS BIGINT)").alias(
            "avg_rows_per_part"
        ),
        F.expr(
            "CAST(max_part_rows * 1000000 DIV n_rows AS BIGINT)"
        ).alias("max_share_ppm"),
        F.expr(
            f"n_partitions BETWEEN {_ADV_MIN_PARTS} AND {_ADV_MAX_PARTS}"
            f" AND max_part_rows * 1000000 DIV n_rows <= {_ADV_MAX_SHARE}"
        ).alias("recommended"),
    )


# ---------------------------------------------------------------------------
# Columnar-encoding suitability profile — would this column RLE or
# dictionary-encode well under the table's clustered order? Run
# counts from per-key LAG windows (partitioned by orderkey, ordered
# by linenumber — the storage sort), NDV from the same pass, and a
# rule-based recommendation. The layout advisor a writer consults
# before choosing parquet encodings.
# ---------------------------------------------------------------------------

@query(
    "q_encoding_profile",
    """
    WITH runs AS (
        SELECT
            CASE WHEN l_returnflag IS DISTINCT FROM
                 LAG(l_returnflag) OVER w THEN 1 ELSE 0 END AS r_rf,
            CASE WHEN l_linestatus IS DISTINCT FROM
                 LAG(l_linestatus) OVER w THEN 1 ELSE 0 END AS r_ls,
            CASE WHEN l_suppkey IS DISTINCT FROM
                 LAG(l_suppkey) OVER w THEN 1 ELSE 0 END AS r_sk,
            l_returnflag, l_linestatus, l_suppkey
        FROM lineitem
        WINDOW w AS (PARTITION BY l_orderkey ORDER BY l_linenumber,
                     l_returnflag, l_linestatus, l_suppkey)),
    unp AS (
        SELECT 'l_returnflag' AS col_name, r_rf AS is_new,
               l_returnflag AS val FROM runs
        UNION ALL
        SELECT 'l_linestatus', r_ls, l_linestatus FROM runs
        UNION ALL
        SELECT 'l_suppkey', r_sk, CAST(l_suppkey AS VARCHAR) FROM runs),
    prof AS (
        SELECT col_name,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(is_new) AS BIGINT) AS n_runs,
               CAST(COUNT(DISTINCT val) AS BIGINT) AS ndv
        FROM unp GROUP BY col_name)
    SELECT col_name, n, n_runs, ndv,
           CAST(n * 1000 // n_runs AS BIGINT) AS avg_run_milli,
           CASE WHEN n * 1000 // n_runs >= 4000 THEN 'RLE'
                WHEN ndv * 10 <= n THEN 'DICT'
                ELSE 'PLAIN' END AS encoding
    FROM prof ORDER BY col_name
    """,
)
def q_encoding_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encoding advisor over lineitem's clustered (orderkey,
    linenumber) order (value columns appended as tie-breaks so the
    within-order sequence is total — (orderkey, linenumber) alone is
    not unique in this fixture): per-column run starts via
    partitioned LAG windows (null-safe compare so each partition's
    first row counts as a run — cross-order run merges are ignored, an error bounded
    by the order count), exact NDV, mean run length in milli-rows,
    and the RLE/DICT/PLAIN rule. One unpivot + one rollup after the
    windows; every window partition is one order's handful of lines,
    so the profile never global-sorts."""
    li = table(spark, sf_dir, "lineitem")
    runs = li.select(
        F.expr(
            "CASE WHEN NOT (l_returnflag <=> LAG(l_returnflag) OVER"
            " (PARTITION BY l_orderkey ORDER BY l_linenumber,"
            " l_returnflag, l_linestatus, l_suppkey))"
            " THEN 1 ELSE 0 END"
        ).alias("r_rf"),
        F.expr(
            "CASE WHEN NOT (l_linestatus <=> LAG(l_linestatus) OVER"
            " (PARTITION BY l_orderkey ORDER BY l_linenumber,"
            " l_returnflag, l_linestatus, l_suppkey))"
            " THEN 1 ELSE 0 END"
        ).alias("r_ls"),
        F.expr(
            "CASE WHEN NOT (l_suppkey <=> LAG(l_suppkey) OVER"
            " (PARTITION BY l_orderkey ORDER BY l_linenumber,"
            " l_returnflag, l_linestatus, l_suppkey))"
            " THEN 1 ELSE 0 END"
        ).alias("r_sk"),
        "l_returnflag",
        "l_linestatus",
        "l_suppkey",
    )
    unp = runs.select(
        F.expr(
            "stack(3,"
            " 'l_returnflag', r_rf, l_returnflag,"
            " 'l_linestatus', r_ls, l_linestatus,"
            " 'l_suppkey', r_sk, CAST(l_suppkey AS STRING))"
            " AS (col_name, is_new, val)"
        )
    )
    prof = unp.groupBy("col_name").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("is_new").cast("bigint").alias("n_runs"),
        F.countDistinct("val").cast("bigint").alias("ndv"),
    )
    return prof.select(
        "col_name",
        "n",
        "n_runs",
        "ndv",
        F.expr("CAST(n * 1000 DIV n_runs AS BIGINT)").alias(
            "avg_run_milli"
        ),
        F.expr(
            "CASE WHEN n * 1000 DIV n_runs >= 4000 THEN 'RLE'"
            " WHEN ndv * 10 <= n THEN 'DICT'"
            " ELSE 'PLAIN' END"
        ).alias("encoding"),
    )
