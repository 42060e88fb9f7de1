"""Query registry — the driver contract (``__spark_entry__.py``).

Every implemented operator from SURVEY.md §2 registers a named query
(callable ``(spark, sf_dir) -> DataFrame``) and, when SQL-expressible,
the equivalent DuckDB oracle SQL. The driver hash-compares the two at
sf0.01 (row count + schema + order-insensitive value hash).

Parity rules (see FIXTURES.md "Oracle notes"):

- Alias every computed column identically on both sides.
- Aggregate doubles through DECIMAL so the result is bit-identical
  regardless of partial-aggregation order, then cast back to DOUBLE
  (helpers in ``operators.parity``).
- Seeded sampling uses rank-over-md5, never engine-native rand().
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, QueryFn] = {}
_ORACLES: dict[str, str] = {}


def query(name: str, oracle: Optional[str] = None) -> Callable[[QueryFn], QueryFn]:
    """Register ``fn`` as queries()[name]; ``oracle`` as oracle_sql()[name].

    ``oracle=None`` marks a non-SQL-expressible op (driver records the
    weaker rows-only check — SURVEY §5.2)."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _QUERIES:
            raise ValueError(f"duplicate query name: {name}")
        _QUERIES[name] = fn
        if oracle is not None:
            _ORACLES[name] = oracle
        return fn

    return deco


def _load_all() -> None:
    """Import every module that registers queries (idempotent).

    Import order no longer determines driver order — ``_WINDOW`` below
    does. Modules just need to be loaded."""
    from .operators import (  # noqa: F401
        relational,
        grouping,
        sampling,
        joins,
        arrays,
        text,
        skew,
        similarity,
        dedup,
        advanced,
    )
    from .streaming import batch_equiv  # noqa: F401
    from . import ml  # noqa: F401
    from . import multimodal  # noqa: F401
    from . import explainability  # noqa: F401
    from .operators import sources  # noqa: F401
    from .operators import bucketing  # noqa: F401
    from .operators import sketches  # noqa: F401
    from .operators import layout  # noqa: F401
    from .operators import graph  # noqa: F401


# ---------------------------------------------------------------------------
# Driver coverage window.
#
# The driver hash-checks exactly the FIRST 50 queries in ``queries()``
# iteration order (rounds 1-3 CORRECTNESS files prove the hard 50-entry
# budget). ``_WINDOW`` is therefore the contract surface: exactly 50
# names, and every operator module must be driver-verified — either a
# query of its sits in the window, or (r9 amendment) EVERY query it
# registers already carries a hash-green row in a committed
# CORRECTNESS artifact (tests/test_registry.py reads the artifacts).
# Disk-staging names, when present, go late so a staging-restricted
# run still verifies the pure-compute surface. Queries not listed ride
# after slot 50 (pytest runs the same oracle compare on all of them —
# see tests/conftest.py).
# ---------------------------------------------------------------------------

_WINDOW: list[str] = [
    # ------------------------------------------------------------------
    # Round-14 rotation (standing rule since r12: any queries whose
    # CODE changed this round first, then the LEAST-RECENTLY-GRADED
    # names — rank derived from the CORRECTNESS_r* artifacts,
    # last-round-wins; disk-staging names go last so a
    # staging-restricted run still verifies the pure-compute surface).
    # Every module is green in the CORRECTNESS artifacts, so module
    # coverage pins no slot. 224 queries lost their root range sort
    # this round; the 174 most recently graded of them ride after
    # slot 50.
    # ------------------------------------------------------------------
    # (a) root range sort removed: the two benchmark queries
    "q_window_topk_per_group",
    "q_dedup_components",
    # (b) the other queries whose root range sort was removed,
    # least-recently-graded first
    "q13_order_count_distribution",
    "q15_top_supplier",
    "q_attention_rollout_surrogate",
    "q_bucketed_agg",
    "q_cdc_upsert",
    "q_channel_topk_rowlocal",
    "q_cohort_retention",
    "q_not_in_anti_join",
    "q_null_safe_join",
    "q_path_rollup",
    "q_phash_near_dup",
    "q_python_datasource",
    "q_quality_dedup",
    "q_sessionize_events",
    "q_stratified_split",
    "q_stream_sliding_window",
    "q_stream_stream_join",
    "q_tfidf_topterms",
    "q_url_canonicalize",
    "q_variant_events",
    "q_window_range_frame",
    "q_zorder_pruning",
    "q_abc_analysis",
    "q_auc_evaluation",
    "q_bucket_pruned_lookup",
    "q_calibration_bins",
    "q_compaction_plan",
    "q_contribution_share",
    "q_entropy_profile",
    "q_equidepth_histogram",
    "q_file_metadata",
    "q_grid_knn_join",
    "q_grouping_id_rollup",
    "q_hilbert_layout",
    "q_kmv_distinct",
    "q_lateral_topn",
    "q_mad_outliers",
    "q_map_metrics",
    "q_max_concurrency",
    "q_merge_intervals",
    "q_occlusion_sensitivity",
    "q_pandas_udaf",
    "q_recursive_cte_chain",
    "q_rfm_segmentation",
    "q_scd2_join",
    "q_scene_cuts",
    # staging-late convention
    "q_embedding_json_source",
    "q_npz_roundtrip",
]


def _windowed(d: dict) -> dict:
    """Reorder ``d`` so _WINDOW names come first (in window order)."""
    out = {name: d[name] for name in _WINDOW if name in d}
    out.update((name, v) for name, v in d.items() if name not in out)
    return out


def all_queries() -> dict[str, QueryFn]:
    _load_all()
    return _windowed(_QUERIES)


def all_oracles() -> dict[str, str]:
    _load_all()
    return _windowed(_ORACLES)


def window() -> list[str]:
    """The 50-slot driver-verified contract surface (tested)."""
    return list(_WINDOW)
