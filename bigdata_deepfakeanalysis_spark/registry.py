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
    # Round-13 rotation (standing rule since r12: any queries whose
    # CODE changed this round first, then the LEAST-RECENTLY-GRADED
    # names — rank derived from the CORRECTNESS_r* artifacts,
    # last-round-wins; disk-staging names go last so a
    # staging-restricted run still verifies the pure-compute surface).
    # ------------------------------------------------------------------
    # (a) r13-changed: the versioned-epoch commit-pointer JDBC sink,
    # the freq-form robust-scale second pass, the Expand-free
    # multi-grain top-k, the pinned phrase postings, the quantiles
    # helper hygiene (entry validation + grouped-path hints — consumer
    # re-graded), and the six connected-components consumers whose
    # changed-count metric became propagation-only (ADVICE r12)
    "q_stream_jdbc_exactly_once",
    "q_robust_scale",
    "q_topk_grouping_sets",
    "q_phrase_search",
    "q_quantile_band_join",
    "q_dedup_components",
    "q_grid_dbscan",
    "q_record_linkage",
    "q_dup_cluster_sizes",
    "q_semantic_dedup",
    "q_semantic_dedup_lsh",
    # (a') then: the star components variant (observed edge-change
    # count) and the two pandas UDFs moved to type hints
    "q_dedup_components_star",
    "q_pandas_scalar_udf",
    "q_pandas_udaf",
    # (b) least-recently-graded fillers: the full r2 residue (the 8
    # names rotated out in r12), then the alphabetically-first r3
    # names that fit, staging names last
    "q_string_funcs",
    "q_token_stats",
    "q_udtf_bigrams",
    "q_union_provenance",
    "q_window_distribution",
    "q_window_running_sum",
    "q_window_topk_per_group",
    # r3 rank, non-staging, alphabetical
    "q_asof_join",
    "q_audio_chunk_rms",
    "q_bucketed_join",
    "q_cka_pairs",
    "q_cms_heavy_hitters",
    "q_contamination_check",
    "q_doc_chunking",
    "q_embedding_sq8",
    "q_gap_per_channel",
    "q_multimodal_metadata",
    "q_multistage_features",
    "q_pair_selection",
    "q_prefix_demux",
    "q_range_join",
    "q_salted_agg",
    "q_seeded_cap_sample",
    "q_sequence_packing",
    "q_simhash_hamming",
    "q_standardize",
    "q_stem_join_concat",
    "q_stream_dedup_watermark",
    "q_stream_record_breakers",
    "q_stream_session_window",
    "q_stream_static_join",
    "q_stream_stream_outer_join",
    "q_surrogate_features",
    "q_zorder_layout",
    # r3 rank, staging-late convention
    "q_ann_lsh_bucketed",
    "q_binaryfile_ingest",
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
