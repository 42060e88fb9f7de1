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
    # CODE or PLAN changed this round first, then the
    # LEAST-RECENTLY-GRADED names — rank derived from the
    # CORRECTNESS_r* artifacts, last-round-wins; disk-staging names go
    # last so a staging-restricted run still verifies the pure-compute
    # surface). Every module is green in the CORRECTNESS artifacts, so
    # module coverage pins no slot.
    # ------------------------------------------------------------------
    # (a) query body changed when single-value parameters became
    # module constants: q_bfs_distance drops a NULL root (no rows on
    # an empty edge list, in Spark and in its oracle);
    # q_dedup_components registers the shared components oracle; the
    # rest call their operators without the constant arguments
    # (q_stream_jdbc_exactly_once stages to disk and sits with the
    # staging names)
    "q_bfs_distance",
    "q_dedup_components",
    "q_minhash_near_dup",
    "q_logreg_cv_separability",
    "q_tree_cv_separability",
    "q_tsne2d",
    "q_pca_explained_variance",
    "q_doc_fingerprint",
    "q_stream_late_drop",
    "q_stats_agg",
    # (b) code changed earlier this round, plan equal up to ids:
    # connected_components drops pairs with a NULL endpoint above its
    # edge shuffle (folded away on these callers' NOT NULL ids); q_kcore
    # runs its rounds through kcore_edges; three docstrings no longer
    # cite deleted operators (q_csv_json_roundtrip, whose pyavro reader
    # and writer lost their row twins, stages to disk and sits with the
    # staging names)
    "q_dup_cluster_sizes",
    "q_semantic_dedup",
    "q_semantic_dedup_lsh",
    "q_record_linkage",
    "q_grid_dbscan",
    "q_kcore",
    "q_hash_bernoulli_sample",
    "q_stem_join_concat",
    # (c) code changed earlier this round: connected_components reads
    # one edge shuffle for its seed and round 0 (the callers above);
    # connected_components_star neither deduplicates nor pins its edge
    # list; the brand join broadcasts its one-row-per-brand ranked
    # side; the per-doc norms ride on the pinned weight rows
    # (q_stream_jdbc_exactly_once, which now counts in the store,
    # stages to disk and sits with the staging names)
    "q_dedup_components_star",
    "q_rank_biased_overlap",
    "q_sparse_cosine_pairs",
    # (d) plan changed earlier this round: AQE no longer rewrites a
    # sort-merge join to a broadcast after both shuffles ran
    "q_pagerank_copurchase",
    "q_hll_distinct_merge",
    "q_datasketches_native",
    "q_heaps_law",
    "q20_dominant_suppliers",
    "q_blocking_quality",
    "q_cms_heavy_hitters",
    "q_conformal_interval",
    "q_conversion_latency",
    "q_corpus_curation",
    "q_dsir_resample",
    "q_join_size_estimate",
    "q_lsh_dedup_eval",
    "q_modularity",
    "q_new_vs_returning",
    "q_pmi_cooccurrence",
    "q_triangle_count",
    "q_two_hop_reach",
    # (e) root range sort removed earlier this round, least-recently-
    # graded first (the rest ride after slot 50)
    "q_window_topk_per_group",
    "q13_order_count_distribution",
    "q15_top_supplier",
    "q_attention_rollout_surrogate",
    "q_bucketed_agg",
    "q_cdc_upsert",
    "q_channel_topk_rowlocal",
    # staging-late convention
    "q_csv_json_roundtrip",
    "q_stream_jdbc_exactly_once",
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
