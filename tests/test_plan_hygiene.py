"""Repo-wide physical-plan hygiene: no registered query may plan a
CartesianProduct, a row-at-a-time Python UDF (BatchEvalPython), a
top-level complex output column, or an unjustified partition-less
sorted Window — the plan shapes that silently stop scaling (or, for
complex columns, crash the driver's result canonicalizer). Complements
the per-query plan tests in test_plans.py with blanket invariants over
the WHOLE registry, so a future operator can't regress the rules
unnoticed. All checks share ONE registry-wide plan build (the
session-scoped ``registry_scan`` fixture) to keep suite time flat."""

from __future__ import annotations

import pytest

from .conftest import SF_DIR

# Queries whose DataFrame BUILD step executes Spark jobs (iterative
# label propagation, eager checkpoints, MLlib fits, driver-side
# solver loops) — building all of them here would re-run half the
# suite. Their plan shapes are covered by their own tests; the blanket
# scan covers every lazily-built query. Their OUTPUT SCHEMAS are still
# covered: conftest.assert_matches_oracle re-asserts the
# no-complex-columns rule on every oracle-parity test, which runs for
# all 415 queries including these.
EAGER_BUILD = {
    "q_logreg_cv_separability",
    "q_tree_cv_separability",
    "q_tsne2d",
    "q_pca_explained_variance",
    "q_kmeans_clusters",
    "q_cka_pairs",
    "q_dedup_components",
    "q_dedup_components_star",
    "q_semantic_dedup",
    "q_ngram_jaccard",
    "q_ann_lsh_recall",
    "q_ann_ivf_recall",
    "q_ann_sq8_rescore",
    "q_cosine_near_dup_ivf",
    "q_semantic_dedup_lsh",
    "q_triangle_count",
    "q_lpa_communities",
    "q_kcore",
    "q_link_prediction",
    "q_degree_assortativity",
    "q_two_hop_reach",
    "q_record_linkage",
    "q_grid_dbscan",
    "q_dup_cluster_sizes",
    "q_mmr_rerank",
    "q_blocking_quality",
    "q_sparse_cosine_pairs",
    "q_containment_dedup",
    "q_mllib_minhash_join",
    "q_mllib_brp_lsh_join",
    "q_bpe_merges",
    # staged-write builds (write during DataFrame construction)
    "q_schema_evolution_scan",
    "q_incremental_file_pickup",
    "q_dynamic_partition_overwrite",
    "q_compaction_execute",
    "q_jdbc_roundtrip",
    "q_stream_jdbc_exactly_once",
}

# The one sanctioned BatchEvalPython: the @udtf + LATERAL demo is
# documented as the UDF-surface showcase, not the scale path (the
# codegen `shingles` expression is).
PYTHON_EVAL_OK = {"q_udtf_bigrams"}

# ---------------------------------------------------------------------------
# Partition-less sorted Window allowlist.
#
# A Window with an ORDER BY but no PARTITION BY sorts its whole input
# on ONE task — the r5-r7 de-globalization campaign removed every such
# window whose input scales with the corpus (they now ride
# parity.two_pass_rownum / ntile_expr). What legitimately remains is
# global windows over inputs BOUNDED BY CONSTRUCTION, enumerated here
# with the bound. A new query planning a global sorted window (or an
# existing one growing another) fails the scan and must either
# de-globalize onto two_pass_rownum or justify a new entry.
#
# Windows ordering by `_pid` are exempted mechanically: that is
# two_pass_rownum's offsets cumsum — n_parts (= 16) rows by
# construction at any corpus size.
# ---------------------------------------------------------------------------
GLOBAL_WINDOW_BOUNDED: dict[str, int] = {
    # calendar-bounded daily/periodic rollups (rows = days/years, not corpus)
    "q_cumulative_distinct_users": 1,
    "q_forward_fill": 1,
    "q_granger_lag1": 1,
    "q_rolling_median": 1,
    "q_runs_test": 1,
    "q_ts_feature_matrix": 1,
    "q_yoy_growth": 1,
    "q_spearman_corr": 2,     # ranks over the ~3k-row daily aggregate
    # fixed-k / quantile-bounded tables (deciles, funnel steps, buckets)
    # NOTE r12: queries on operators/quantiles.exact_percentiles_histo
    # carry its bins running-count window — ordered by _qbin, which is
    # clamped to a LITERAL n_bins (<= 1024 rows at any corpus size);
    # the subplan is re-planned once per consumer, hence the count.
    "q_quantile_band_join": 2,   # histo bins cumsum x2 consumers
    "q_decile_lift": 1,
    "q_lorenz_deciles": 1,
    "q_event_funnel": 1,
    "q_emd_lengths": 1,       # length-histogram bucket domain
    "q_kaplan_meier": 2,      # distinct durations (day-granular domain)
    "q_logrank_test": 1,      # same duration domain
    # top-k-capped rank windows (TakeOrdered cut BEFORE the window)
    "q_approx_topk_terms": 1,
    "q_zipf_fit": 1,          # top-_ZIPF_TOP terms only (r7 scale fix)
    "q_knee_detection": 1,    # per-category cumulative curve
    "q_rank_biased_overlap": 2,  # two bounded rankings compared
    "q_rrf_fusion": 3,        # fused top-k candidate lists
    "q_ndcg_mrr": 1,          # ranked list positions (top-k)
    # key-cardinality tables (distinct keys, not corpus rows)
    "q_skew_diagnosis": 2,    # distinct event_type hot-key report
    "q_largest_remainder": 1,  # allocation groups
    # bounded statistical replicates / capped fixtures
    "q_bootstrap_ci": 1,      # B bootstrap replicate means
    "q_pair_selection": 3,    # capped surrogate-features fixture (M10)
}


def _is_global_sorted_window(line: str) -> bool:
    """True when a Window plan line has NO partition spec but HAS an
    order spec — the shape that sorts its whole input on one task.
    Plan text renders ``Window [funcs], [order]`` (global) vs
    ``Window [funcs], [part], [order]`` (partitioned) vs
    ``Window [funcs], [part]`` (partitioned, unordered frame), so
    global-sorted = exactly 2 top-level groups with sort markers in
    the last."""
    i = line.find("Window")
    depth = 0
    groups: list[str] = []
    start = 0
    for j in range(i, len(line)):
        ch = line[j]
        if ch == "[":
            if depth == 0:
                start = j + 1
            depth += 1
        elif ch == "]":
            depth -= 1
            if depth == 0:
                groups.append(line[start:j])
    return len(groups) == 2 and (
        " ASC" in groups[1] or " DESC" in groups[1]
    )


def _scan_plans(spark, eager: bool) -> dict:
    """Build every registry query on one side of EAGER_BUILD. Returns
    {name: (physical-plan text, ANALYZED logical-plan text, output
    schema fields)}; hints survive only in the analyzed plan (the
    optimizer's EliminateResolvedHint consumes them)."""
    from bigdata_deepfakeanalysis_spark.registry import all_queries

    out = {}
    for name, fn in all_queries().items():
        if (name in EAGER_BUILD) != eager:
            continue
        df = fn(spark, SF_DIR)
        qe = df._jdf.queryExecution()
        plan = qe.executedPlan().toString()
        analyzed = qe.analyzed().toString()
        out[name] = (plan, analyzed, df.schema.fields)
    return out


@pytest.fixture(scope="session")
def registry_scan(spark):
    """ONE pass over every lazily-built registry query, shared by all
    blanket checks below."""
    return _scan_plans(spark, eager=False)


def test_no_cartesian_or_row_python_in_any_plan(registry_scan):
    offenders: dict[str, list[str]] = {}
    for name, (plan, _, _) in registry_scan.items():
        hits = [m for m in ("CartesianProduct",) if m in plan]
        if "BatchEvalPython" in plan and name not in PYTHON_EVAL_OK:
            hits.append("BatchEvalPython")
        if hits:
            offenders[name] = hits
    assert not offenders, offenders


def test_no_complex_output_columns_in_any_query(registry_scan):
    """Hard driver-contract rule (VERDICT r7 finding 1): the real
    driver canonicalizes results with pandas ``sort_values`` over the
    result cells, which raises ``TypeError: unhashable type: 'list'``
    on any array/map/struct cell — q_inverted_index failed r7 exactly
    this way while the vendored mimic (which string-joined lists)
    green-lit it. No registered query may return a top-level complex
    column; string-encode (concat_ws) instead. Eager-build queries are
    covered by the same assertion inside
    conftest.assert_matches_oracle, which every oracle-parity test
    runs."""
    offenders: dict[str, list[str]] = {}
    for name, (_, _, fields) in registry_scan.items():
        bad = [
            f"{f.name}:{f.dataType.typeName()}"
            for f in fields
            if f.dataType.typeName() in ("array", "map", "struct")
        ]
        if bad:
            offenders[name] = bad
    assert not offenders, offenders


# ---------------------------------------------------------------------------
# BroadcastNestedLoopJoin build-side audit (VERDICT r8 task 2).
#
# A BNLJ is the plan shape behind every ``crossJoin`` — fine when the
# broadcast build side is a scalar total or otherwise bounded BY
# CONSTRUCTION, fatal when it is a corpus-scaling relation (the r8
# q_mutual_nn_alignment demo form broadcast one full label side). The
# scan walks every ``BroadcastExchange IdentityBroadcastMode`` build
# subtree (Identity mode appears ONLY under nested-loop joins — hash
# joins use HashedRelationBroadcastMode) and requires its top to be
# provably bounded: a scalar aggregate (keys=[]), a limit
# (TakeOrderedAndProject), a single-child wrapper chain over one of
# those, or a nested-loop/hash join of bounded sides. Builds that
# bottom out elsewhere (group-key aggregates, fixed query sets) need a
# BNLJ_BUILD_BOUNDED entry naming the construction bound.
# ---------------------------------------------------------------------------
BNLJ_BUILD_BOUNDED: dict[str, str] = {
    # bounded ANN query sets: the documented broadcast-the-queries
    # design (similarity.py module docstring) — build is the
    # vec_id < 10 query projection, constant-size at any corpus
    "q_ann_cosine_topk": "10-query set",
    "q_ann_fast_consistency": "10-query set",
    # q_knn_classifier: REMOVED late-r9 — its "10-query set" label was
    # wrong (the build was the vec_id % 10 == 0 hold-out, a
    # corpus-scaling 10% fraction); re-expressed on the 2-D tile-grid
    # equi-join, so it no longer carries a BNLJ at all
    # group-key aggregates over small fixed domains
    "q_js_divergence_sources": "distinct source domain",
    "q_pair_selection": "distinct group domain (capped M10 fixture)",
    "q_pairwise_groups": "distinct group domain",
    "q_centroid_classifier": "label domain (2)",
    # scalar-derived key groups (keys are themselves scalar aggregates)
    "q_theil_index": "group keys (n, xx) are scalar totals — 1 row",
    # 1-row literal/range snapshots
    "q_snapshot_time_travel": "1-row snapshot id selector",
    # localCheckpointed literal tables (Scan ExistingRDD tops — a
    # checkpoint erases the provenance, so these carry the bound here)
    "q_acf_daily_revenue": "lag list (max-lag constant rows)",
    "q_range_join": "band boundary table (fixed band count)",
    # Union of group-key sketch aggregates over a ~5-value domain
    "q_hll_distinct_merge": "per-priority HLL sketch union",
    # equi-width histogram rank selection (operators/quantiles.py):
    # the crossJoin build is the bins running-count table, keyed by
    # _qbin which is clamped to a LITERAL n_bins (<= 1024 rows at any
    # corpus size)
    "q_quantile_band_join": "histogram bins table (<= n_bins literal)",
}

_BOUNDED_TOP = (
    "HashAggregate(keys=[]",
    "SortAggregate(keys=[]",
    "ObjectHashAggregate(keys=[]",
    "TakeOrderedAndProject(limit=",
    "CollectLimit",
    "LocalTableScan",  # literal rows
    # ReusedExchange canonical-plan matching only unifies exchanges
    # with the SAME broadcast mode, so an Identity reuse always points
    # at another IdentityBroadcastMode exchange — which this scan
    # audits where it appears.
    "ReusedExchange",
    "Range (",  # driver-side literal range (spine builders)
)
_PASSTHROUGH = (
    "Filter ",
    "Project ",
    "ColumnarToRow",
    "InputAdapter",
    "BroadcastExchange",
    "Exchange",
    "AQEShuffleRead",
    "Sort ",
    "Coalesce",
    "Window ",  # row-preserving
    "Expand",   # multiplies by a constant factor (grouping sets)
    # NOTE deliberately NOT passthrough: Generate/explode — a scalar
    # aggregate collecting the corpus into one array then exploding it
    # would bottom out at keys=[] yet emit corpus-scaling rows
    # (code-review r9 finding); such a build needs an explicit
    # BNLJ_BUILD_BOUNDED entry justifying the array's bound.
)
_JOIN_TOP = ("BroadcastNestedLoopJoin", "BroadcastHashJoin", "SortMergeJoin",
             "ShuffledHashJoin")


def _parse_tree(plan: str) -> list[tuple[int, str]]:
    """(depth, node_text) per plan line; depth from the ':-'/'+-'
    marker column (3 chars per level), root = -1."""
    out = []
    for line in plan.splitlines():
        m = None
        for tok in (":- ", "+- "):
            i = line.find(tok)
            if i >= 0 and (m is None or i < m):
                m = i
        if m is None:
            out.append((-1, line.strip()))
        else:
            out.append((m // 3, line[m + 3:].strip()))
    return out


def _strip_codegen(text: str) -> str:
    import re

    return re.sub(r"^\*\(\d+\)\s*", "", text)


def _children(tree: list[tuple[int, str]], i: int) -> list[int]:
    d = tree[i][0]
    out = []
    for j in range(i + 1, len(tree)):
        dj = tree[j][0]
        if dj <= d:
            break
        if dj == d + 1:
            out.append(j)
    return out


def _plan_root(tree) -> int:
    return 1 if tree[0][1].startswith("AdaptiveSparkPlan") else 0


def _build_is_bounded(tree: list[tuple[int, str]], i: int) -> bool:
    """True when the subtree rooted at line i provably emits a bounded
    (corpus-independent) number of rows."""
    node = _strip_codegen(tree[i][1])
    if node.startswith(_BOUNDED_TOP):
        return True
    kids = _children(tree, i)
    if node.startswith(_JOIN_TOP):
        return bool(kids) and all(_build_is_bounded(tree, k) for k in kids)
    if node.startswith(_PASSTHROUGH):
        return bool(kids) and _build_is_bounded(tree, kids[0])
    return False


def test_bnlj_build_sides_bounded(registry_scan):
    """Every BroadcastNestedLoopJoin build side must be bounded by
    construction (scalar aggregate / limit / join of such) or carry a
    BNLJ_BUILD_BOUNDED justification — a corpus-scaling broadcast
    build is an executor OOM at scale (VERDICT r8 finding 1)."""
    offenders: dict[str, list[str]] = {}
    for name, (plan, _, _) in registry_scan.items():
        if name in BNLJ_BUILD_BOUNDED:
            continue
        tree = _parse_tree(plan)
        bad = []
        for i, (_, text) in enumerate(tree):
            if "BroadcastExchange IdentityBroadcastMode" not in text:
                continue
            kids = _children(tree, i)
            if not kids or not _build_is_bounded(tree, kids[0]):
                bad.append(tree[kids[0]][1][:90] if kids else "<leaf>")
        if bad:
            offenders[name] = bad
    assert not offenders, (
        f"unbounded BroadcastNestedLoopJoin build sides: {offenders} — "
        "re-express the pair generation (salted tile join) or justify "
        "a BNLJ_BUILD_BOUNDED entry"
    )


def test_no_unjustified_global_sorted_window(registry_scan):
    """Every partition-less sorted Window in the registry must be over
    an input bounded by construction (GLOBAL_WINDOW_BOUNDED, with the
    bound named per entry) or be two_pass_rownum's n_parts-row offsets
    cumsum (order column `_pid`, exempted mechanically). Anything else
    is a single-task global sort waiting to happen at corpus scale —
    de-globalize it onto parity.two_pass_rownum / ntile_expr."""
    offenders: dict[str, int] = {}
    for name, (plan, _, _) in registry_scan.items():
        n = 0
        for line in plan.splitlines():
            if "Window" not in line or "windowspecdefinition" not in line:
                continue
            if not _is_global_sorted_window(line):
                continue
            # two_pass_rownum offsets: ORDER BY _pid over n_parts
            # rows. Anchored to the spec's FIRST argument ("(_pid#N")
            # so a corpus-scale column merely named *_pid (user_pid…)
            # cannot ride the exemption.
            spec = line.split("windowspecdefinition", 1)[1]
            if spec.startswith("(_pid#"):
                continue
            n += 1
        if n > GLOBAL_WINDOW_BOUNDED.get(name, 0):
            offenders[name] = n
    assert not offenders, (
        f"unjustified global sorted windows: {offenders} — "
        "de-globalize (parity.two_pass_rownum) or justify an "
        "allowlist entry"
    )


# ---------------------------------------------------------------------------
# Forced-broadcast build audit (r10 sweep completion — the blanket
# form of the r9 manual sweep).
#
# A ``F.broadcast()`` / ``hint("broadcast")`` BYPASSES
# autoBroadcastJoinThreshold: where a threshold decision degrades to a
# shuffle join at scale, the forced hint OOMs the executors. The r9
# sweep removed 33 such hints by hand and r10 found NINE more the
# manual pass missed (q18/q16/q20/q_skyline_pareto/
# q_gini_concentration/q_topk_grouping_sets/q_rake_keywords/
# q_training_pipeline/q_frequent_triples) — so the rule is now
# machine-checked: every ResolvedHint (strategy=broadcast) build
# subtree in every ANALYZED plan must be provably bounded (scalar
# aggregate, limit, literal relation, nation/region scan,
# bounded-domain group keys, or compositions of those) or carry a
# FORCED_BROADCAST_BOUNDED entry naming the construction bound.
# Non-broadcast hints (merge / shuffle_hash) are exempt: they pick a
# shuffle strategy, which carries no build-memory risk.
#
# Mutation-validated (r10): reintroducing the q_skyline_pareto
# customer hint fails the scan; the clean tree passes. r11: listed
# queries are no longer exempted wholesale — each must carry EXACTLY
# its budgeted unbounded-hint count (FORCED_BROADCAST_HINT_BUDGET,
# default 1), so a future second hint on a listed query fails the
# audit and a de-hinted entry fails as stale. The env-gated eager
# variant applies the same budgets to EAGER_BUILD queries (their
# builds execute jobs), closing the r10 hand-audit gap.
# ---------------------------------------------------------------------------
FORCED_BROADCAST_BOUNDED: dict[str, str] = {
    # bounded ANN query sets (broadcast-the-queries design)
    "q_ann_cosine_topk": "10-query set (vec_id < 10 projection)",
    "q_ann_lsh_bucketed": "10-query set",
    "q_ann_fast_consistency": "10-query set",
    # fixed literal tables (localCheckpoint erases provenance)
    "q_batch_retrieval": "fixed (qid, term) query table",
    "q_range_join": "3-row band table",
    "q_acf_daily_revenue": "lag list (max-lag constant rows)",
    # absolute-cap / fixed-set text builds
    "q_contamination_check": "benchmark grams: doc_id < 1e6 absolute cap",
    "q_bm25_topdocs": "df over the fixed _BM25_TERMS set",
    "q_dsir_resample": "hashed-LM count table: fixed hash-bucket width",
    # scalar-derived or functionally-bounded group keys
    # (q_theil_index / q_bloom_prefilter_dedup entries retired r11:
    # the bounded-build walk now proves their hints — the budget
    # audit below flags such dead entries automatically)
    "q_mad_outliers": "keys (flag, median): median is per-flag scalar",
    "q_mutual_information": "marginals of a 5x5 categorical pair",
    "q_cms_heavy_hitters": "CMS (row, bucket) grid — depth x width constants",
    "q_ts_correlation_search": "single reference user's bucketed series",
    # top-K cut keyed sub-joins (Limit upstream, keyed rejoin)
    "q_hotkey_split_join": "top-K hot-key cut keyed sub-joins",
    # deliberate design trade, documented in batch_equiv
    "q_stream_static_join": "stream-static: never shuffle the stream",
    "q_stream_static_anti_join": "stream-static: never shuffle the stream",
    # eager-build entries (audited via the SLOW_SCANS variant, r10)
    "q_ann_lsh_recall": "10-query set + 3-row strategy table",
    "q_ann_ivf_recall": (
        "10-query set + k-centroid table + per-query nprobe cell cut"
    ),
    "q_ann_sq8_rescore": "10-query set",
    "q_kmeans_clusters": "k-centroid table (k rows, checkpointed)",
    "q_link_prediction": (
        "degree table of the top-K-edge sparsified graph (<= 2K nodes)"
    ),
    "q_degree_assortativity": (
        "degree table of the top-K-edge sparsified graph (<= 2K nodes)"
    ),
    "q_mllib_brp_lsh_join": (
        "embedding arrays of the first _BRP_N vectors (vec_id < _BRP_N, "
        "checkpointed)"
    ),
    # count-guarded hint: fp is checkpointed (stats erased), so the
    # query MEASURES the materialized set and hints only when it is
    # provably small at runtime — corpus-grown sets fall back to
    # shuffle joins (see the in-code note)
    "q_frequent_triples": (
        "count-guarded broadcast: applied only when the materialized "
        "level-2 pair set measures <= 200k rows"
    ),
    # bounded by construction but not textually provable
    "q_conformal_interval": (
        "per-grp q90 calibration row (rank-filtered; grp = "
        "o_orderpriority enum)"
    ),
    "q_centroid_silhouette": (
        "per-(cluster, dim) centroid sums — k x dim rows (label "
        "aliased to `own` defeats the key-name rule)"
    ),
    "q_burrows_delta": (
        "stats over the 20-source x top-30-word spine (left-join "
        "multiplicity 1 — the spine side bounds the row count)"
    ),
}

# Expected number of not-textually-provable broadcast hints per
# allowlisted query (absent => 1). The audit asserts EXACT equality,
# so (a) a FUTURE unjustified hint added to an allowlisted query no
# longer hides behind the existing justification (ADVICE r10: the old
# `continue` exempted the whole query), and (b) an entry whose hints
# were later de-hinted or became provably bounded turns into a loud
# stale-entry failure instead of a dead allowlist line. Counts
# measured r11 on the analyzed plans.
FORCED_BROADCAST_HINT_BUDGET: dict[str, int] = {
    "q_ann_fast_consistency": 2,   # query set + strategy table
    "q_frequent_triples": 3,       # count-guarded L2 pairs, 3 join sites
    "q_mutual_information": 2,     # both 5x5 marginals
    # eager-build entries (counted via the SLOW_SCANS variant)
    "q_ann_ivf_recall": 9,         # queries + centroids + nprobe cuts
    "q_ann_lsh_recall": 3,         # queries + strategy + exact top-k
    "q_ann_sq8_rescore": 2,        # queries, shortlist rescore
    "q_degree_assortativity": 2,   # degree table joined on both ends
    "q_link_prediction": 2,        # degree table joined on both ends
    "q_mllib_brp_lsh_join": 2,     # embeddings re-attached to both ids
}

# Group-key columns whose domains are bounded at ANY scale factor
# (enums, calendar units, fixed widths/dims) — an Aggregate keyed
# ONLY by these emits a bounded row count no matter how large its
# input. Names are the package's conventions; adding one here is a
# reviewed decision, same as a FORCED_BROADCAST_BOUNDED entry.
BOUNDED_DOMAIN_COLS = {
    # TPC-H enums / fixed domains
    "c_mktsegment", "segment", "seg", "o_orderstatus", "o_orderpriority",
    "l_returnflag", "l_linestatus", "p_brand", "p_size", "p_type",
    "n_name", "n_nationkey", "s_nationkey", "c_nationkey", "nat",
    "r_name", "region", "nation",
    # synthetic enums
    "label", "c_label", "flag", "grp", "group", "lang", "source", "side",
    "event_type", "prev_event", "series", "fold", "check_name",
    # calendar units (time-bounded, corpus-independent)
    "yr", "mo", "month", "dow", "hour", "period", "cohort", "cohort_week",
    # fixed widths / dims / shard counts / derived binary splits
    "dim", "pos", "shard", "half", "_pid",
    # equi-width histogram bin id (operators/quantiles.py): clamped to
    # a literal n_bins regardless of corpus size
    "_qbin",
}

_L_BOUNDED_LEAF = ("LocalRelation", "OneRowRelation", "Range (",
                   "LogicalRDD_ALLOWLISTED_ONLY")  # LogicalRDD needs an entry
_L_PASSTHROUGH = ("Project", "Filter", "Sort", "Window", "SubqueryAlias",
                  "Expand", "Distinct",
                  "RepartitionByExpression", "Repartition", "Coalesce",
                  "ResolvedHint", "Tail", "WithCTE", "CTERelationRef")


def _top_groups(text: str) -> list[str]:
    groups, depth, start = [], 0, 0
    for j, ch in enumerate(text):
        if ch == "[":
            if depth == 0:
                start = j + 1
            depth += 1
        elif ch == "]":
            depth -= 1
            if depth == 0:
                groups.append(text[start:j])
    return groups


def _hint_build_is_bounded(tree, i) -> bool:
    """True when the ANALYZED subtree at line i provably emits a
    bounded (corpus-independent) row count."""
    import re

    node = tree[i][1]
    kids = _children(tree, i)
    if node.startswith(("Aggregate", "Deduplicate")):
        groups = _top_groups(node)
        if node.startswith("Aggregate") and len(groups) == 1:
            return True  # scalar form: Aggregate [aggs]
        keys = set(re.findall(r"([A-Za-z_][A-Za-z0-9_]*)#\d+", groups[0]))
        if not groups[0].strip() or (keys and keys <= BOUNDED_DOMAIN_COLS):
            return True
        # output rows never exceed input rows for either node
        return bool(kids) and _hint_build_is_bounded(tree, kids[0])
    if node.startswith(("GlobalLimit", "LocalLimit")):
        return True
    if node.startswith(_L_BOUNDED_LEAF):
        return True
    if node.startswith("Relation"):
        cols = _top_groups(node)
        first = cols[0].split(",")[0] if cols else ""
        return first.startswith("n_") or first.startswith("r_")
    if node.startswith(("Join", "Union")):
        return bool(kids) and all(_hint_build_is_bounded(tree, k) for k in kids)
    if node.startswith(_L_PASSTHROUGH):
        return bool(kids) and _hint_build_is_bounded(tree, kids[0])
    if node.startswith(("Generate explode(array(",
                        "Generate posexplode(array(")):
        # constant fan-out: exploding a literal-ARITY array() constructor
        # multiplies rows by at most its syntactic element count, so a
        # bounded child stays bounded (the elements may reference columns
        # — arity, not content, bounds the fan-out)
        return bool(kids) and _hint_build_is_bounded(tree, kids[0])
    return False


def _unbounded_broadcast_hints(analyzed: str) -> list[str]:
    """The not-textually-provable broadcast-hint build subtrees of one
    ANALYZED plan (first-line excerpts). Non-broadcast hints (merge /
    shuffle_hash) are exempt: they pick a shuffle strategy, which
    carries no build-memory risk."""
    tree = _parse_tree(analyzed)
    bad = []
    for i, (_, text) in enumerate(tree):
        if not text.startswith("ResolvedHint"):
            continue
        if "strategy=broadcast" not in text:
            continue
        kids = _children(tree, i)
        if not kids or not _hint_build_is_bounded(tree, kids[0]):
            bad.append(tree[kids[0]][1][:90] if kids else "<leaf>")
    return bad


def _audit_forced_broadcasts(analyzed_by_name: dict) -> dict[str, str]:
    """Shared forced-broadcast contract over a {name: analyzed-plan}
    mapping: unlisted queries may carry ZERO unbounded broadcast
    hints; FORCED_BROADCAST_BOUNDED queries must carry EXACTLY their
    budgeted count — fewer means the entry went stale (de-hinted or
    newly provable: delete it), more means a new hint is hiding
    behind an old justification (ADVICE r10). Returns offender
    messages; empty = clean."""
    offenders: dict[str, str] = {}
    for name, analyzed in analyzed_by_name.items():
        bad = _unbounded_broadcast_hints(analyzed)
        if name not in FORCED_BROADCAST_BOUNDED:
            if bad:
                offenders[name] = (
                    f"forced broadcast on unbounded build sides: {bad} — "
                    "drop the hint (let autoBroadcastJoinThreshold "
                    "decide) or justify a FORCED_BROADCAST_BOUNDED entry"
                )
            continue
        budget = FORCED_BROADCAST_HINT_BUDGET.get(name, 1)
        if len(bad) > budget:
            offenders[name] = (
                f"{len(bad)} unbounded broadcast hints exceed the "
                f"budgeted {budget}: {bad} — a new hint is riding an "
                "old justification; justify it (raise the budget) or "
                "drop it"
            )
        elif len(bad) < budget:
            offenders[name] = (
                f"stale FORCED_BROADCAST_BOUNDED entry: only "
                f"{len(bad)} unbounded hints remain of the budgeted "
                f"{budget} — delete/shrink the entry so the dead "
                "justification can't mask a future hint"
            )
    return offenders


def test_forced_broadcast_builds_bounded(registry_scan):
    """Every forced-broadcast build (ResolvedHint strategy=broadcast
    in the analyzed plan) must be bounded by construction or carry a
    FORCED_BROADCAST_BOUNDED justification — a forced hint on a
    corpus/SF-scaling side bypasses autoBroadcastJoinThreshold and
    OOMs at scale where the threshold decision would degrade to a
    shuffle join (VERDICT r9; completed as a machine contract r10;
    exact hint budgets + stale-entry detection r11)."""
    offenders = _audit_forced_broadcasts(
        {n: a for n, (_, a, _) in registry_scan.items()}
    )
    assert not offenders, offenders


def test_forced_broadcast_audit_detects_mutations():
    """Mutation validation of the audit helper itself: a stale
    allowlist entry (0 remaining hints), an over-budget query, and an
    unlisted offender must each fail loudly — the three ways the r10
    whole-query exemption could silently rot."""
    # q_range_join budgets 1 unbounded hint; q5_regional_revenue is
    # unlisted. A fabricated plan with one unbounded broadcast hint:
    hinted = (
        "Project [x#1]\n"
        "+- ResolvedHint (strategy=broadcast)\n"
        "   +- Relation [x#1] parquet\n"
    )
    clean = "Project [x#1]\n+- Relation [x#1] parquet\n"
    # in-budget listed query + clean unlisted query: no offenders
    assert _audit_forced_broadcasts(
        {"q_range_join": hinted, "q5_regional_revenue": clean}
    ) == {}
    # stale entry: listed query lost its hint
    got = _audit_forced_broadcasts({"q_range_join": clean})
    assert "stale" in got.get("q_range_join", "")
    # over budget: a second hint rides the justification
    double = hinted + "+- ResolvedHint (strategy=broadcast)\n" \
        "   +- Relation [y#2] parquet\n"
    got = _audit_forced_broadcasts({"q_range_join": double})
    assert "exceed" in got.get("q_range_join", "")
    # unlisted query with a hint
    got = _audit_forced_broadcasts({"q5_regional_revenue": hinted})
    assert "unbounded build sides" in got.get("q5_regional_revenue", "")


# ---------------------------------------------------------------------------
# Single-partition final sort audit (parity.sort_bounded).
#
# ``sort_bounded`` sorts a final result on ONE partition
# (``coalesce(1).orderBy``): no range-sampling job, no range-shuffle
# job. That is only sound when the sort input is bounded by
# construction, and coalesce is narrow — everything between it and the
# nearest exchange runs in the one task. So for every query whose root
# Sort sits over ``Coalesce 1``:
#   (a) the ANALYZED sort input passes the bounded-build walk, or the
#       query carries a SINGLE_PARTITION_SORT_BOUNDED entry naming its
#       bound (entries, not BOUNDED_DOMAIN_COLS additions — the forced-
#       broadcast audit reads that set too);
#   (b) in the physical plan every path below ``Coalesce 1`` reaches an
#       Exchange / BroadcastExchange before any scan, Window or Python
#       node, so the one task merges aggregate rows instead of scanning,
#       windowing or running Python over raw rows.
# ---------------------------------------------------------------------------
SINGLE_PARTITION_SORT_BOUNDED: dict[str, str] = {
    # grouping key is a Python-UDF output, so the walk cannot read it
    "q_pandas_scalar_udf": "16 hex nibbles",
    # (flag, med, iqr): med/iqr are per-flag constants of the stats join
    "q_robust_scale": "one row per l_returnflag",
}

_EXCHANGE_TOP = ("Exchange", "BroadcastExchange", "ReusedExchange")
_ONE_TASK_FORBIDDEN = ("Window", "ArrowEvalPython", "BatchEvalPython",
                       "ArrowAggregatePython", "ArrowWindowPython",
                       "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas",
                       "MapInPandas", "MapInArrow", "PythonMapInArrow")


def _one_task_leaks(tree, i) -> list[str]:
    """Nodes below line i that a ``Coalesce 1`` at i would pull into its
    one task: leaves (scans) and Window / Python nodes reached before
    any exchange. (Python nodes may print with a leading '!'.)"""
    node = _strip_codegen(tree[i][1]).lstrip("!")
    if node.startswith(_EXCHANGE_TOP):
        return []
    kids = _children(tree, i)
    if not kids or node.startswith(_ONE_TASK_FORBIDDEN):
        return [node[:90]]
    return [bad for k in kids for bad in _one_task_leaks(tree, k)]


def _audit_single_partition_sorts(scan: dict) -> dict[str, str]:
    """The single-partition sort contract over a {name: (physical plan,
    analyzed plan)} mapping. Returns offender messages; empty = clean.
    A SINGLE_PARTITION_SORT_BOUNDED entry whose query no longer sorts on
    one partition, or whose sort input the walk now proves bounded, is
    reported stale."""
    offenders: dict[str, str] = {}
    for name, (plan, analyzed) in scan.items():
        tree = _parse_tree(plan)
        root = _plan_root(tree)
        kids = _children(tree, root)
        single = (
            _strip_codegen(tree[root][1]).startswith("Sort ")
            and len(kids) == 1
            and _strip_codegen(tree[kids[0]][1]).startswith("Coalesce 1")
        )
        if not single:
            if name in SINGLE_PARTITION_SORT_BOUNDED:
                offenders[name] = (
                    "stale SINGLE_PARTITION_SORT_BOUNDED entry: no "
                    "Coalesce 1 under the root Sort"
                )
            continue
        atree = _parse_tree(analyzed)
        akids = _children(atree, 0)
        bounded = bool(akids) and _hint_build_is_bounded(atree, akids[0])
        if name in SINGLE_PARTITION_SORT_BOUNDED and bounded:
            offenders[name] = (
                "stale SINGLE_PARTITION_SORT_BOUNDED entry: the walk "
                "proves the sort input bounded — delete the entry"
            )
        elif not bounded and name not in SINGLE_PARTITION_SORT_BOUNDED:
            offenders[name] = (
                f"single-partition sort over an unbounded input "
                f"({atree[akids[0]][1][:90] if akids else '<leaf>'}) — "
                "use a plain orderBy or name the bound in "
                "SINGLE_PARTITION_SORT_BOUNDED"
            )
            continue
        leaks = _one_task_leaks(tree, kids[0])
        if leaks:
            offenders[name] = (
                f"Coalesce 1 reaches {leaks} before any exchange — the "
                "whole subtree would run in one task"
            )
    return offenders


def test_single_partition_sorts_bounded(registry_scan):
    """Every sort_bounded caller sorts a bounded input (walk or named
    bound) and pulls no scan, Window or Python node into its one task."""
    offenders = _audit_single_partition_sorts(
        {n: (p, a) for n, (p, a, _) in registry_scan.items()}
    )
    assert not offenders, offenders
    # the helper is in use; a revert to plain orderBy everywhere would
    # otherwise pass vacuously
    assert "Coalesce 1" in registry_scan["q1_pricing_summary"][0]


def test_single_partition_sort_audit_detects_mutations(spark):
    """Mutation validation: sort_bounded applied to a row-level query
    (q_filter_project: a filtered lineitem projection) fails both
    rules; over a bare nation scan it passes (a) but fails (b); a
    stale entry fails; the q1 shape passes."""
    from bigdata_deepfakeanalysis_spark.catalog import table
    from bigdata_deepfakeanalysis_spark.operators.parity import sort_bounded
    from bigdata_deepfakeanalysis_spark.operators.relational import (
        q1_pricing_summary,
        q_filter_project,
    )

    def plans(df):
        qe = df._jdf.queryExecution()
        return qe.executedPlan().toString(), qe.analyzed().toString()

    rows = sort_bounded(q_filter_project(spark, SF_DIR), "l_orderkey")
    got = _audit_single_partition_sorts({"q_filter_project": plans(rows)})
    assert "unbounded input" in got.get("q_filter_project", ""), got

    nation = sort_bounded(table(spark, SF_DIR, "nation"), "n_name")
    got = _audit_single_partition_sorts({"q_nation": plans(nation)})
    assert "before any exchange" in got.get("q_nation", ""), got

    q1 = plans(q1_pricing_summary(spark, SF_DIR))
    assert _audit_single_partition_sorts({"q1_pricing_summary": q1}) == {}
    got = _audit_single_partition_sorts({"q_robust_scale": q1})
    assert "stale" in got.get("q_robust_scale", ""), got
    plain = plans(table(spark, SF_DIR, "nation").orderBy("n_name"))
    got = _audit_single_partition_sorts({"q_pandas_scalar_udf": plain})
    assert "stale" in got.get("q_pandas_scalar_udf", ""), got


# ---------------------------------------------------------------------------
# Root range-sort audit.
#
# Order is not part of the result contract: the driver hashes results
# order-insensitively, and so do conftest.assert_matches_oracle and
# perfbench/check.py. Under AQE a root ``orderBy`` plans ``Exchange
# rangepartitioning`` and costs a RangePartitioner sampling job plus a
# range-shuffle map job that re-sends the whole result, to buy an order
# nothing reads. So a root Sort over a range exchange (looking through
# root Projects, where a sort key was dropped after sorting) needs an
# ORDERED_RESULTS entry naming what observes the order: a test or
# docstring that asserts it, or an operator that depends on partition
# order. A sort under a limit plans TakeOrderedAndProject and a
# sort_bounded sort plans Coalesce 1; neither is a range sort.
# ---------------------------------------------------------------------------
ORDERED_RESULTS: dict[str, str] = {}


def _root_range_sort(plan: str) -> bool:
    tree = _parse_tree(plan)
    i = _plan_root(tree)
    kids = _children(tree, i)
    while _strip_codegen(tree[i][1]).startswith("Project ") and len(kids) == 1:
        i = kids[0]
        kids = _children(tree, i)
    return (
        _strip_codegen(tree[i][1]).startswith("Sort ")
        and len(kids) == 1
        and _strip_codegen(tree[kids[0]][1]).startswith(
            "Exchange rangepartitioning"
        )
    )


def _audit_root_range_sorts(plans: dict[str, str]) -> dict[str, str]:
    """The root range-sort contract over a {name: physical plan} mapping.
    Returns offender messages; empty = clean."""
    offenders: dict[str, str] = {}
    for name, plan in plans.items():
        sorted_root = _root_range_sort(plan)
        if sorted_root and name not in ORDERED_RESULTS:
            offenders[name] = (
                "root range sort that nothing observes — drop the "
                "orderBy, or name what reads the order in ORDERED_RESULTS"
            )
        elif not sorted_root and name in ORDERED_RESULTS:
            offenders[name] = (
                "stale ORDERED_RESULTS entry: no root range sort"
            )
    return offenders


def test_root_range_sorts_declared(registry_scan):
    """Every root range sort carries an ORDERED_RESULTS reason, and
    every entry still range-sorts."""
    offenders = _audit_root_range_sorts(
        {n: p for n, (p, _, _) in registry_scan.items()}
    )
    assert not offenders, offenders


def test_root_range_sort_audit_detects_mutations(spark, monkeypatch):
    """Mutation validation: an orderBy on q_window_topk_per_group's
    result fails, also when a Project sits over the sort; a stale entry
    fails; a declared sort passes."""
    from bigdata_deepfakeanalysis_spark.catalog import table
    from bigdata_deepfakeanalysis_spark.operators.relational import (
        q_window_topk_per_group,
    )

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    name = "q_window_topk_per_group"
    topk = q_window_topk_per_group(spark, SF_DIR)
    assert _audit_root_range_sorts({name: plan(topk)}) == {}
    mutant = plan(topk.orderBy("c_custkey", "rk"))
    got = _audit_root_range_sorts({name: mutant})
    assert "nothing observes" in got.get(name, ""), got
    projected = plan(
        table(spark, SF_DIR, "nation").orderBy("n_name").select("n_nationkey")
    )
    got = _audit_root_range_sorts({"q_nation": projected})
    assert "nothing observes" in got.get("q_nation", ""), got

    monkeypatch.setitem(ORDERED_RESULTS, name, "mutation")
    assert _audit_root_range_sorts({name: mutant}) == {}
    got = _audit_root_range_sorts({name: plan(topk)})
    assert "stale" in got.get(name, ""), got


@pytest.mark.skipif(
    not __import__("os").environ.get("SPARK_GRAFT_SLOW_SCANS"),
    reason="eager builds execute Spark jobs (~half the suite); set "
    "SPARK_GRAFT_SLOW_SCANS=1 to run",
)
def test_forced_broadcast_builds_bounded_eager(spark):
    """The EAGER_BUILD half of the plan audits: the queries the shared
    registry_scan fixture skips (their DataFrame construction executes
    jobs — checkpoints, MLlib fits, staged writes) get one plan scan of
    their own, checked by the forced-broadcast, single-partition sort
    and root range-sort audits. Env-gated so the default suite stays
    fast; run with SPARK_GRAFT_SLOW_SCANS=1 after touching any eager
    query's join structure or final sort."""
    scan = _scan_plans(spark, eager=True)
    offenders = {
        "forced broadcast": _audit_forced_broadcasts(
            {n: a for n, (_, a, _) in scan.items()}
        ),
        "single-partition sort": _audit_single_partition_sorts(
            {n: (p, a) for n, (p, a, _) in scan.items()}
        ),
        "root range sort": _audit_root_range_sorts(
            {n: p for n, (p, _, _) in scan.items()}
        ),
    }
    assert not any(offenders.values()), offenders


def test_global_window_allowlist_matches_registry():
    """Every allowlisted name must still exist — a renamed query would
    silently leave a stale justification behind."""
    from bigdata_deepfakeanalysis_spark.registry import all_queries

    names = set(all_queries())
    missing = (
        (EAGER_BUILD | PYTHON_EVAL_OK | set(GLOBAL_WINDOW_BOUNDED)
         | set(BNLJ_BUILD_BOUNDED) | set(FORCED_BROADCAST_BOUNDED)
         | set(SINGLE_PARTITION_SORT_BOUNDED) | set(ORDERED_RESULTS)) - names
    )
    assert not missing, missing


if __name__ == "__main__":
    pytest.main([__file__, "-v"])
