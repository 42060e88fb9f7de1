"""Oracle-parity helpers.

The driver compares Spark results against DuckDB with an exact value
hash. Double aggregation order differs between engines (partial/final
hash agg in Spark vs DuckDB's own order), so plain SUM(double) is not
bit-stable. We route money/measure sums through DECIMAL — exact
arithmetic, order-independent — then cast back to DOUBLE at the end.
Both engines convert the identical decimal to the identical double.

These helpers return Spark Column expressions; the matching DuckDB SQL
fragments are spelled identically in the oracle strings (same CAST
chain), which is what guarantees bit-equality.

INPUT CONTRACT (pinned by the r11 fuzz,
tests/test_properties.py::test_parity_helpers_bit_exact_vs_duckdb):

- Values must be representable within the helper's decimal ``scale``
  (money/measure semantics — every call site is). For an arbitrary
  double whose SHORTEST DECIMAL REPR ties exactly one digit past the
  scale (e.g. 123456.78905 at scale 4), the engines legitimately
  diverge: Spark's double->decimal goes through Java's
  ``BigDecimal.valueOf`` (shortest-repr string, then HALF_UP ->
  ...7891) while DuckDB rounds the EXACT binary value
  (123456.7890499999... -> ...7890). In-contract values have <= scale
  digits, where both conversions are exact and agree.
- ``dmul2_sum`` factors must keep |a*b| < ~9.2e10: DuckDB multiplies
  DECIMAL(18,4) pairs inside physical int64 and raises
  OutOfRangeException beyond it (Spark widens silently). Call sites
  are price * discount-fraction — orders of magnitude inside.
- NaN/inf are forbidden: CAST(NaN AS DECIMAL) is NULL in Spark but a
  hard conversion error in DuckDB — an out-of-contract input fails
  the oracle LOUDLY, never silently.
- Every intermediate decimal SUM must stay within 2^53 in SCALED
  units (value * 10^scale): Spark's decimal->double cast is
  correctly rounded once (BigDecimal.doubleValue) while DuckDB's
  can double-round (int128 -> double, then / 10^scale), so beyond
  2^53 the engines may differ in the last ulp (fuzz-observed:
  3839.321286443553 vs ...3536 on a stddev whose scale-8 sum-of-
  squares exceeded 2^53). At the driver's grading SF (0.01) every
  registered aggregate is orders of magnitude inside the bound.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dsum(expr: str, alias: str, scale: int = 4) -> Column:
    """Order-independent SUM of a double expression via DECIMAL(18,scale)."""
    return F.expr(
        f"CAST(SUM(CAST(({expr}) AS DECIMAL(18,{scale}))) AS DOUBLE)"
    ).alias(alias)


def dsum_sql(expr: str, alias: str, scale: int = 4) -> str:
    return f"CAST(SUM(CAST(({expr}) AS DECIMAL(18,{scale}))) AS DOUBLE) AS {alias}"


def davg(expr: str, alias: str, scale: int = 4) -> Column:
    """Order-independent AVG: exact decimal sum / count, in double."""
    return F.expr(
        f"CAST(SUM(CAST(({expr}) AS DECIMAL(18,{scale}))) AS DOUBLE)"
        f" / COUNT({expr})"
    ).alias(alias)


def davg_sql(expr: str, alias: str, scale: int = 4) -> str:
    return (
        f"CAST(SUM(CAST(({expr}) AS DECIMAL(18,{scale}))) AS DOUBLE)"
        f" / COUNT({expr}) AS {alias}"
    )


# Decimal scales; each Spark column and its DuckDB fragment are spelled
# from one string, so they cannot drift.
_DMUL2_SCALE = 4
_STDDEV_SCALE = 4


def _dmul2_text(a: str, b: str) -> str:
    return (
        f"CAST(SUM(CAST(({a}) AS DECIMAL(18,{_DMUL2_SCALE})) *"
        f" CAST(({b}) AS DECIMAL(18,{_DMUL2_SCALE}))) AS DOUBLE)"
    )


def dmul2_sum(a: str, b: str, alias: str) -> Column:
    """SUM(a*b) with both factors snapped to DECIMAL first (exact product)."""
    return F.expr(_dmul2_text(a, b)).alias(alias)


def dmul2_sum_sql(a: str, b: str, alias: str) -> str:
    return f"{_dmul2_text(a, b)} AS {alias}"


def _stddev_text(expr: str) -> str:
    d = f"CAST(({expr}) AS DECIMAL(12,{_STDDEV_SCALE}))"
    return (
        f"SQRT((CAST(SUM({d}*{d}) AS DOUBLE) - "
        f"CAST(SUM({d}) AS DOUBLE)*CAST(SUM({d}) AS DOUBLE)/COUNT({expr}))"
        f" / (COUNT({expr}) - 1))"
    )


def stddev_expr(expr: str, alias: str) -> Column:
    """Sample stddev via the explicit decimal-exact sum/sumsq formula so
    both engines compute sqrt() of the identical double.

    DECIMAL(12,scale): small enough that the squared term stays within
    DuckDB's physical int64/int128 multiply (DECIMAL(18)^2 overflows)."""
    return F.expr(_stddev_text(expr)).alias(alias)


def stddev_sql(expr: str, alias: str) -> str:
    return f"{_stddev_text(expr)} AS {alias}"


def range_parts(df) -> int:
    """Range fan-out for two-pass prefix ranking: the session's
    ``spark.sql.shuffle.partitions`` (floor 16). A hard-coded 16 was
    the r7 default — fine at test SF, but at corpus scale each range
    partition sorts N/16 rows on ONE task, so the fan-out must follow
    the same knob that sizes every other shuffle (r8 scale fix). The
    offsets side stays a driver-broadcast n_parts-row table — KBs even
    at thousands of partitions. Values are partition-count-invariant:
    every call site orders by a unique total key, so the composed
    global rank is identical for any n_parts."""
    try:
        n = int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
        )
    except (TypeError, ValueError):
        n = 200
    return max(16, n)


def sort_bounded(df, *cols):
    """Final ORDER BY over a result bounded by construction (a grouping
    on a fixed domain: flags, priorities, nations, segments, languages,
    event types, bins), sorted on ONE partition.

    A plain global ``orderBy`` plans ``Exchange rangepartitioning``,
    which under AQE costs two Spark jobs before the result job: the
    RangePartitioner sampling job and the range-shuffle map job.
    ``coalesce(1)`` makes the sort's child ``SinglePartition``, which
    already satisfies the ordered distribution, so no exchange is
    planned and the query runs only its aggregation map job(s) and the
    result job — same rows, same order. ``repartition(1)`` would add a
    shuffle job back.

    Coalesce is narrow: everything above the last exchange below it
    runs in the one task. Over a grouped aggregate that is the final
    merge of (map tasks x groups) partial rows — the shape Spark
    already uses for an ungrouped aggregate. Results that grow with the
    data (top-k per customer, one row per document, row-level
    projections) keep the range sort. ``tests/test_plan_hygiene.py``
    audits every caller: the sort input must be provably bounded, and
    no scan, Window or Python node may sit between the coalesce and an
    exchange. In a method chain: ``.transform(sort_bounded, *cols)``."""
    return df.coalesce(1).orderBy(*cols)


def two_pass_rownum(df, order_cols, pin: bool = False):
    """Global row numbers over ``order_cols`` via range-repartition +
    per-partition rank + broadcast offsets — identical values to a
    partition-less row_number window, without the single-partition
    sort of the whole input (the q_global_rownum idiom, extracted in
    r7 as the shared primitive behind every de-globalized
    ranking/cumsum: curriculum plan, ABC Pareto, calibration deciles,
    Brier forecast ranks, sequence gaps, vocab coverage). Adds column
    ``rn`` (bigint). The range fan-out is ``range_parts(df)``; the
    per-partition offsets table has one row per range partition —
    driver-broadcast KBs at any scale.

    ``pin`` decides whether the offsets branch recomputes ``df``'s
    lineage or reads a localCheckpoint of the ranged data. Interleaved
    A/B at sf0.1 (3-run min, head-vs-pinned alternated across fresh
    sessions): recompute won or tied EVERYWHERE tested — bare scans
    (0.83-0.93 s vs 0.93-1.03 s pinned), and even tokenize/quantize/
    aggregate lineages (calibration 0.62 vs 0.73, ABC 0.79 vs 1.0,
    Brier 0.55 vs 0.60) — the checkpoint write is a fixed toll the
    saved recompute rarely beats, and at 100 TB it is IO-neutral
    while losing lineage fault-tolerance. The ONE measured win is a
    ranking whose input lineage is itself a whole prior two-pass
    ranking (q_sequence_gaps' island pass, 0.84 -> 0.73 s): there the
    offsets recompute would replay the dominant stage twice, so that
    call site passes ``pin=True``. Default stays False.

    INVARIANT (ADVICE r7): with ``pin=False`` the offsets aggregate
    and the window branch are two consumers of the same
    ``repartitionByRange`` — correctness of the global ``rn`` relies
    on both reading ONE physical range exchange (Spark's
    ReuseExchange rule), because a re-planned exchange re-samples
    range boundaries and the per-branch ``spark_partition_id`` would
    no longer agree. Property-tested under defaults; if
    ``spark.sql.exchange.reuse`` is disabled we force the
    localCheckpoint pin so both branches read one materialized
    layout."""
    from pyspark.sql.window import Window

    n_parts = range_parts(df)
    if not pin:
        reuse = (
            df.sparkSession.conf.get("spark.sql.exchange.reuse", "true")
            or "true"
        )
        if reuse.lower() == "false":
            pin = True
    parted = df.repartitionByRange(n_parts, *order_cols).withColumn(
        "_pid", F.spark_partition_id()
    )
    if pin:
        parted = parted.localCheckpoint(eager=True)
    offsets = (
        parted.groupBy("_pid")
        .agg(F.count(F.lit(1)).alias("_n"))
        .select(
            "_pid",
            F.expr(
                "COALESCE(SUM(_n) OVER (ORDER BY _pid ROWS BETWEEN"
                " UNBOUNDED PRECEDING AND 1 PRECEDING), 0)"
            ).alias("_off"),
        )
    )
    w_local = Window.partitionBy("_pid").orderBy(*order_cols)
    return (
        parted.withColumn("_lrn", F.row_number().over(w_local))
        .join(F.broadcast(offsets), "_pid")
        .withColumn("rn", (F.col("_lrn") + F.col("_off")).cast("bigint"))
        .drop("_pid", "_lrn", "_off")
    )


# Exact NTILE(k) bucket from a global row number rn over n_tot rows:
# the first n % k buckets take ceil(n/k) rows, the rest floor(n/k) —
# the same allocation the window function computes, expressed as
# row-local arithmetic over (rn, broadcast n_tot). Pairs with
# two_pass_rownum to give exact equi-depth tiles without a global
# single-partition sort. greatest(q, 1) guards the unused second
# branch when n < k (lazy CASE still type-checks the division).
def ntile_expr(k: int) -> str:
    return (
        f"CAST(CASE WHEN rn <= (n_tot % {k}) * (n_tot DIV {k} + 1)"
        f" THEN (rn - 1) DIV (n_tot DIV {k} + 1) + 1"
        f" ELSE (n_tot % {k}) + (rn - (n_tot % {k}) * (n_tot DIV {k} + 1)"
        f" - 1) DIV greatest(n_tot DIV {k}, 1) + 1 END AS INT)"
    )
