"""Exact distributed percentiles without the single-task map merge.

``percentile(v, ps[, w])`` (Catalyst's ObjectHashAggregate Percentile)
holds every distinct value of the group in ONE task's hash map and
sorts it there — fine for small domains, a bottleneck (and at corpus
scale an OOM) when the value domain grows with the data. The helper
here computes the SAME R-7 interpolated percentiles — bit-identical,
mirroring ``Percentile.getPercentile`` term-for-term — as two codegen
passes with bounded per-task state (guide §1.2 step 1 / §5):

  pass 1: per-group (min, max, N) + an equi-width ``_qbin`` histogram
          (_N_BINS rows per group, partial-aggregated map-side);
  rank math (tiny, in-plan): position = p * (N - 1); the lo/hi integer
          ranks land in specific bins via the bins' running counts;
  pass 2: only rows in the <= 2*|ps| rank-carrying bins are re-scanned
          and sorted WITHIN those bins (a window over a bounded slice),
          yielding the exact rank-th values;
  interpolation: (hi - pos) * lv + (pos - lo) * hv with Percentile's
          two short-circuits (integer position; equal keys).

In the UNGROUPED form every broadcast build is bounded by
construction: scalar aggregates, the _N_BINS-keyed histogram, and
constant-fanout explodes of literal-arity arrays. The GROUPED form's
intermediates (stats, bins_cum, the rank hits) scale with group
cardinality, so that path uses plain joins and leaves broadcast
decisions to the planner/AQE (ADVICE r12) — grouped callers with a
high-cardinality key get a shuffle join instead of a broadcast OOM.

Interleaved A/B (sf0.1, warm, min-of-3; OPTIMIZATION_r13.md §9,
row ab_histo_percentile.py):
ungrouped deciles over lineitem 2.10-2.77 s (percentile agg) vs
0.64-0.85 s (this helper), boundaries BIT-IDENTICAL. For tiny-group
grouped percentiles (3 return flags) the single agg stays faster
locally (0.8-1.0 s vs 1.2-1.6 s — job-count overhead dominates), so
grouped call sites keep ``percentile``; this helper is the ungrouped /
large-domain form.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

_N_BINS = 1024


def exact_percentiles_histo(
    df: DataFrame,
    groups: list,
    v: str,
    ps: list,
) -> DataFrame:
    """Exact percentiles of double column ``v`` per ``groups``,
    bit-identical to ``percentile(v, array(*ps))``. Returns
    one row per group with an array column ``qs`` (same order as
    ``ps``). NULL ``v`` rows are ignored, like Percentile.

    Divergences from ``percentile`` on degenerate input (ADVICE r12),
    none reachable from the wired call sites: a GROUP empty after the
    NULL filter produces no row (Percentile emits NULL); an UNGROUPED
    empty input yields one row with an empty ``qs`` (Percentile yields
    NULL); NaN values in ``v`` sort differently through the histogram
    than through Percentile's map and are outside the bit-identity
    contract. Percentiles outside [0, 1] (where Percentile raises) are
    rejected at entry below."""
    for p in ps:
        if not 0.0 <= float(p) <= 1.0:
            raise ValueError(
                f"percentile p must be in [0, 1], got {p!r}"
            )
    gcols = list(groups)
    w = F.lit(1).cast("long")  # each row counts once
    base = (
        df.where(F.col(v).isNotNull())
        .select(*gcols, F.col(v).alias("_v"), w.alias("_w"))
    )

    gb = base.groupBy(*gcols) if gcols else base.groupBy()
    stats = gb.agg(
        F.min("_v").alias("_mn"),
        F.max("_v").alias("_mx"),
        F.sum("_w").alias("_n"),
    )
    # grouped-path joins are NOT hinted: stats/bins_cum/need row counts
    # scale with group cardinality (module docstring; ADVICE r12)
    binned = base.join(stats, gcols) if gcols else base.join(
        F.broadcast(stats)
    )
    # bin id is monotone in _v for fixed (mn, mx): subtraction and
    # multiplication by a positive constant are monotone under IEEE,
    # floor is monotone — so bins partition the value axis contiguously
    # and ANY consistent assignment yields the same rank selection.
    bin_expr = F.when(
        F.col("_mx") > F.col("_mn"),
        F.least(
            F.lit(_N_BINS - 1),
            F.floor(
                (F.col("_v") - F.col("_mn"))
                / (F.col("_mx") - F.col("_mn"))
                * _N_BINS
            ),
        ),
    ).otherwise(F.lit(0))
    binned = binned.withColumn("_qbin", bin_expr.cast("long"))
    bins = binned.groupBy(*gcols, "_qbin").agg(F.sum("_w").alias("_bn"))
    w_cum = (
        Window.partitionBy(*gcols).orderBy("_qbin")
        if gcols
        else Window.orderBy("_qbin")
    )
    bins_cum = bins.select(
        *gcols,
        "_qbin",
        (F.sum("_bn").over(w_cum) - F.col("_bn")).alias("_cb"),
        F.sum("_bn").over(w_cum).alias("_ce"),
    )

    # integer target ranks: lo = floor(p*(N-1)), hi = ceil(p*(N-1)).
    # Duplicate (j, r) rows (integer positions) are harmless: every
    # consumer below is a MAX over exact _r matches, idempotent under
    # duplicates — no dedup exchange is spent.
    ps_arr = "array(" + ",".join(f"CAST({p!r} AS DOUBLE)" for p in ps) + ")"
    ranks = (
        stats.select(
            *gcols,
            "_n",
            F.posexplode(F.expr(ps_arr)).alias("_j", "_p"),
        )
        .withColumn("_pos", F.expr("CAST((_n - 1) AS DOUBLE) * _p"))
        .select(
            *gcols,
            "_j",
            "_pos",
            F.explode(
                F.array(
                    F.expr("CAST(floor(_pos) AS BIGINT)"),
                    F.expr("CAST(ceil(_pos) AS BIGINT)"),
                )
            ).alias("_r"),
        )
    )
    # the bin containing rank r: _cb <= r < _ce
    if gcols:
        need = (
            ranks.alias("rk")
            .join(
                bins_cum.alias("bc"),
                [F.col(f"rk.{c}") == F.col(f"bc.{c}") for c in gcols],
            )
            .where((F.col("_r") >= F.col("_cb")) & (F.col("_r") < F.col("_ce")))
            .select(
                *[F.col(f"rk.{c}").alias(c) for c in gcols],
                "_j",
                "_pos",
                "_r",
                "_qbin",
                "_cb",
            )
        )
    else:
        need = (
            ranks.crossJoin(F.broadcast(bins_cum))
            .where((F.col("_r") >= F.col("_cb")) & (F.col("_r") < F.col("_ce")))
            .select("_j", "_pos", "_r", "_qbin", "_cb")
        )

    need_bins = need.select(*gcols, "_qbin", "_cb").dropDuplicates(
        gcols + ["_qbin"]
    )
    # pass 2: rows of the rank-carrying bins only; exact global rank =
    # running count within the bin + the bin's offset
    slice_ = binned.join(
        F.broadcast(need_bins) if not gcols else need_bins,
        gcols + ["_qbin"],
    )
    w_loc = Window.partitionBy(*gcols, "_qbin").orderBy("_v")
    sliced = (
        slice_.groupBy(*gcols, "_qbin", "_cb", "_v")
        .agg(F.sum("_w").alias("_f"))
        .withColumn("_lc", F.sum("_f").over(w_loc))
        .withColumn("_cum", F.col("_cb") + F.col("_lc"))
    )
    hit = (
        (F.broadcast(need) if not gcols else need)
        .join(sliced, gcols + ["_qbin"])
        .where(
            (F.col("_cum") - F.col("_f") <= F.col("_r"))
            & (F.col("_r") < F.col("_cum"))
        )
        .select(*gcols, "_j", "_pos", "_r", "_v")
    )
    # Percentile.getPercentile, term for term: integer position short-
    # circuit, equal-key short-circuit, else the two-term lerp.
    per_j = (
        hit.groupBy(*gcols, "_j", "_pos")
        .agg(
            F.max(
                F.when(
                    F.col("_r") == F.expr("CAST(floor(_pos) AS BIGINT)"),
                    F.col("_v"),
                )
            ).alias("_lv"),
            F.max(
                F.when(
                    F.col("_r") == F.expr("CAST(ceil(_pos) AS BIGINT)"),
                    F.col("_v"),
                )
            ).alias("_hv"),
        )
        .withColumn(
            "_q",
            F.expr(
                "CASE WHEN ceil(_pos) = floor(_pos) THEN _lv"
                " WHEN _hv = _lv THEN _lv"
                " ELSE (CAST(ceil(_pos) AS DOUBLE) - _pos) * _lv"
                "      + (_pos - CAST(floor(_pos) AS DOUBLE)) * _hv END"
            ),
        )
    )
    gb2 = per_j.groupBy(*gcols) if gcols else per_j.groupBy()
    return gb2.agg(
        F.expr(
            "transform(array_sort(collect_list(struct(_j, _q))), s -> s._q)"
        ).alias("qs")
    )
