"""Iterative graph analytics: fixed-point PageRank (M11d extension).

Web-corpus pipelines rank crawl hosts by link centrality as a quality
prior (the CCNet/Common-Crawl filtering family); the engine's graph
here is the customer↔supplier co-purchase bipartite graph derived from
``lineitem ⋈ orders`` — same algorithm, engine-checkable fixture.

Cross-engine exactness: float PageRank never hash-matches across
engines (summation order), so ranks are FIXED-POINT BIGINT —
``r0 = 2^20``; each round is ``r' = (15·2^20) DIV 100 + (85·Σ
(r_j DIV outdeg_j)) DIV 100`` with truncating integer division
(Spark ``DIV`` ≡ DuckDB ``//`` on positives) and a FIXED iteration
count, so every intermediate is an exact integer in both engines.
Bound: Σ contribs ≤ N·2^20 ≈ 2^31, ×85 ≈ 2^38 — no int64 overflow.

Scale design (the Pregel shape on DataFrames): edges are built once
and ``localCheckpoint``-ed; every superstep is contribs = edges ⋈
ranks (shuffle on dst) → hash-agg → rank update, i.e. one narrow
shuffle per iteration with partial aggregation map-side — identical to
GraphX's Pregel but without leaving the DataFrame planner. Lineage is
checkpoint-truncated per round (same rationale as
``dedup.connected_components``: cached plans re-analyze compounding
lineage). At 100 TB, pre-partition edges and ranks on the node key so
the per-round join co-locates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..registry import query
from ..session import pinned

_SCALE = 1 << 20
_BASE = (15 * _SCALE) // 100  # (1-d) mass per node, d = 0.85
_ITERS = 3


def pagerank_fixed(edges: DataFrame, iters: int = _ITERS) -> DataFrame:
    """Fixed-point PageRank over directed (src, dst) BIGINT edges.
    Returns (id, rank) with rank an exact fixed-point BIGINT.

    Checkpoints are LAZY (eager=False): they truncate the logical plan
    per superstep (the Catalyst re-analysis cost that motivates
    checkpointing — see ``dedup.connected_components``) and run no
    result job of their own. They do not defer all work to the final
    action: under AQE a lazy checkpoint of a plan with a shuffle runs
    that shuffle's map stage when it is called (1 job for a
    ``groupBy``; 0 with AQE off), so each superstep still starts jobs
    during the build: 4, one per shuffle map stage of its two joins
    and its groupBy. ``q_pagerank_copurchase`` at sf0.01 runs 19 build
    jobs and 1 write job. Unlike components, PageRank has NO per-round
    driver decision (fixed iteration count), so nothing needs the
    intermediate results early — measured 2-3× end-to-end vs eager.
    Dropping the checkpoints is worse: the unrolled plan ran 58 jobs
    in 4.6-5.2 s against 27 jobs in 1.4-1.8 s (sf0.01, measured while
    AQE still rewrote joins to broadcasts at runtime)."""
    edges = edges.select(
        F.col("src").cast("long"), F.col("dst").cast("long")
    ).localCheckpoint(eager=False)
    outdeg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    # outdeg is loop-invariant: attach it to the edge list ONCE (and
    # pin the result) instead of re-joining it inside every superstep
    # — drops one shuffle join per iteration. The weighted edge list
    # is exactly what a cluster deployment would materialize as the
    # partitioned edge table.
    edges_w = edges.join(outdeg, "src").localCheckpoint(eager=False)
    nodes = (
        edges.select("src")
        .unionByName(edges.select(F.col("dst").alias("src")))
        .distinct()
        .withColumnRenamed("src", "id")
        .localCheckpoint(eager=False)
    )
    ranks = nodes.withColumn("rank", F.lit(_SCALE).cast("long"))
    for _ in range(iters):
        contribs = (
            edges_w.join(ranks.withColumnRenamed("id", "src"), "src")
            .select(
                F.col("dst").alias("id"),
                F.expr("rank DIV outdeg").alias("c"),
            )
            .groupBy("id")
            .agg(F.sum("c").alias("s"))
        )
        ranks = (
            nodes.join(contribs, "id", "left")
            .select(
                "id",
                (
                    F.lit(_BASE)
                    + F.expr("(85 * coalesce(s, CAST(0 AS BIGINT))) DIV 100")
                )
                .cast("long")
                .alias("rank"),
            )
            .localCheckpoint(eager=False)
        )
    return ranks


def _oracle_iter(prev: str, out: str) -> str:
    return f"""
    {out} AS (
        SELECT n.id,
               CAST({_BASE} + (85 * COALESCE(s.s, 0)) // 100 AS BIGINT)
                   AS rank
        FROM nodes n LEFT JOIN (
            SELECT e.dst AS id, SUM(r.rank // d.outdeg) AS s
            FROM edges e
            JOIN outdeg d ON e.src = d.src
            JOIN {prev} r ON e.src = r.id
            GROUP BY e.dst) s ON n.id = s.id)"""


@query(
    "q_pagerank_copurchase",
    f"""
    WITH pairs AS (
        SELECT DISTINCT o.o_custkey * 2 AS c, l.l_suppkey * 2 + 1 AS s
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
    edges AS (
        SELECT c AS src, s AS dst FROM pairs
        UNION ALL
        SELECT s AS src, c AS dst FROM pairs),
    outdeg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
    nodes AS (SELECT DISTINCT src AS id FROM edges),
    r0 AS (SELECT id, CAST({_SCALE} AS BIGINT) AS rank FROM nodes),
    {_oracle_iter("r0", "r1")},
    {_oracle_iter("r1", "r2")},
    {_oracle_iter("r2", "r3")}
    SELECT CASE WHEN id % 2 = 0 THEN 'customer' ELSE 'supplier' END
               AS node_type,
           CAST(id // 2 AS BIGINT) AS node_key,
           rank AS rank_fp
    FROM r3 ORDER BY rank_fp DESC, node_type, node_key LIMIT 20
    """,
)
def q_pagerank_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 customer/supplier nodes by fixed-point PageRank over the
    undirected co-purchase graph (edge per distinct customer↔supplier
    trading pair). 3 supersteps — enough for rank mass to cross the
    bipartite graph twice; the count is part of the operator contract
    (the oracle unrolls the same 3 rounds)."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    pairs = (
        li.select("l_orderkey", "l_suppkey")
        .join(
            o.select("o_orderkey", "o_custkey"),
            li.l_orderkey == o.o_orderkey,
        )
        .select(
            (F.col("o_custkey") * 2).alias("c"),
            (F.col("l_suppkey") * 2 + 1).alias("s"),
        )
        .distinct()
    )
    edges = pairs.select(
        F.col("c").alias("src"), F.col("s").alias("dst")
    ).unionByName(
        pairs.select(F.col("s").alias("src"), F.col("c").alias("dst"))
    )
    ranks = pagerank_fixed(edges)
    return (
        ranks.select(
            F.when(F.col("id") % 2 == 0, "customer")
            .otherwise("supplier")
            .alias("node_type"),
            F.expr("id DIV 2").alias("node_key"),
            F.col("rank").alias("rank_fp"),
        )
        .orderBy(F.desc("rank_fp"), "node_type", "node_key")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Triangle counting — the clustering-coefficient numerator, over the
# supplier co-customer graph sparsified to its top-E heaviest edges.
# ---------------------------------------------------------------------------

_TRI_EDGES = 200  # top edges kept by (shared-customer count, s1, s2)

def copurchase_top_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared graph every algorithm below runs on: supplier
    co-customer edges (two suppliers sharing a customer), sparsified to
    the top-{_TRI_EDGES} heaviest by shared-customer count with fully
    deterministic ties (cnt DESC, s1, s2) — columns (s1 < s2, cnt).

    Built ONCE per (session, SF) and ``localCheckpoint``-pinned, then
    reused by all nine graph operators (r6: each previously rebuilt the
    identical edge set, and the build — a per-customer supplier
    self-join — dominated every graph query's wall time, ~2.9 s of
    q_lpa_communities' 4.0 s at sf0.1). At 100 TB this is exactly how
    a graph workload runs: materialize the edge list once (here the
    pinned checkpoint; on a cluster a parquet/bucketed table), then
    amortize it across algorithms. Determinism of the full tie-break
    makes the cache a pure optimization — every oracle recomputes the
    same set in SQL. The memo and its dead-session eviction are
    ``session.pinned``."""
    return pinned(spark, sf_dir, "copurchase_top_edges",
                  lambda: _top_edges(spark, sf_dir))


def _top_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    cs = (
        li.select("l_orderkey", "l_suppkey")
        .join(
            o.select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    a = cs.select("c", F.col("s").alias("s1"))
    b = cs.select("c", F.col("s").alias("s2"))
    return (
        a.join(b, "c")
        .where(F.col("s1") < F.col("s2"))
        .groupBy("s1", "s2")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), "s1", "s2")
        .limit(_TRI_EDGES)
    )


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-node triangle participation over undirected (s1, s2) edges,
    enumerated with DEGREE-ORDERED orientation (Suri & Vassilvitskii's
    MapReduce triangle counting): each edge is directed from its
    lower-(degree, id) endpoint to the higher; a triangle is a wedge
    u→v, u→w (with v before w in the same order) closed by the
    oriented edge v→w. Every wedge join key is a node's OUT-degree,
    which the orientation bounds by O(sqrt(|E|)) even when raw degrees
    are power-law skewed — the property that makes this the production
    formulation (the oracle enumerates via the naive id-canonical
    triple join; per-node counts are orientation-invariant, so the two
    independent formulations must agree exactly).

    Returns (id, n_triangles) for every node in the edge set, zeros
    included."""
    e = edges.select("s1", "s2").localCheckpoint(eager=True)
    # total degree per node (undirected)
    deg = (
        e.select(F.col("s1").alias("id"))
        .unionAll(e.select(F.col("s2").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    with_deg = (
        e.join(F.broadcast(deg.withColumnRenamed("id", "s1")
                           .withColumnRenamed("deg", "d1")), "s1")
        .join(F.broadcast(deg.withColumnRenamed("id", "s2")
                          .withColumnRenamed("deg", "d2")), "s2")
    )
    lower_first = (F.col("d1") < F.col("d2")) | (
        (F.col("d1") == F.col("d2")) & (F.col("s1") < F.col("s2"))
    )
    oriented = with_deg.select(
        F.when(lower_first, F.col("s1")).otherwise(F.col("s2")).alias("u"),
        F.when(lower_first, F.col("d1")).otherwise(F.col("d2")).alias("du"),
        F.when(lower_first, F.col("s2")).otherwise(F.col("s1")).alias("v"),
        F.when(lower_first, F.col("d2")).otherwise(F.col("d1")).alias("dv"),
    ).localCheckpoint(eager=True)
    e1 = oriented.select("u", F.col("v").alias("v"), F.col("dv").alias("odv"))
    e2 = oriented.select("u", F.col("v").alias("w"), F.col("dv").alias("odw"))
    wedges = (
        e1.join(e2, "u")
        # v strictly before w in the (deg, id) order: each unordered
        # wedge once, matching the closing edge's orientation
        .where(
            (F.col("odv") < F.col("odw"))
            | ((F.col("odv") == F.col("odw")) & (F.col("v") < F.col("w")))
        )
    )
    closing = oriented.select(
        F.col("u").alias("v"), F.col("v").alias("w")
    )
    tri = wedges.join(closing, ["v", "w"])
    corners = (
        tri.select(F.col("u").alias("id"))
        .unionAll(tri.select(F.col("v").alias("id")))
        .unionAll(tri.select(F.col("w").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    nodes = deg.select("id")
    return nodes.join(corners, "id", "left").select(
        "id", F.coalesce("n_triangles", F.lit(0)).cast("bigint").alias("n_triangles")
    )


@query(
    "q_triangle_count",
    f"""
    WITH cs AS (
        SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
    w AS (
        SELECT a.s AS s1, b.s AS s2, COUNT(*) AS cnt
        FROM cs a JOIN cs b ON a.c = b.c AND a.s < b.s
        GROUP BY a.s, b.s),
    e AS (
        SELECT s1, s2 FROM (
            SELECT s1, s2,
                   ROW_NUMBER() OVER (ORDER BY cnt DESC, s1, s2) AS rk
            FROM w) WHERE rk <= {_TRI_EDGES}),
    tri AS (
        SELECT e1.s1 AS a, e1.s2 AS b, e2.s2 AS c
        FROM e e1 JOIN e e2 ON e1.s2 = e2.s1
        JOIN e e3 ON e3.s1 = e1.s1 AND e3.s2 = e2.s2),
    corners AS (
        SELECT id, COUNT(*) AS n_triangles FROM (
            SELECT a AS id FROM tri
            UNION ALL SELECT b FROM tri
            UNION ALL SELECT c FROM tri) GROUP BY id),
    nodes AS (SELECT DISTINCT s1 AS id FROM e
              UNION SELECT s2 FROM e)
    SELECT n.id AS suppkey,
           CAST(COALESCE(c.n_triangles, 0) AS BIGINT) AS n_triangles
    FROM nodes n LEFT JOIN corners c ON n.id = c.id
    ORDER BY n_triangles DESC, suppkey LIMIT 20
    """,
)
def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 suppliers by triangle participation in the co-customer
    graph (edge = two suppliers sharing a customer, sparsified to the
    {_TRI_EDGES} heaviest edges by shared-customer count, deterministic
    ties). Triangle density over a co-occurrence graph is the standard
    community-tightness signal (clustering coefficient numerator).

    The top-E sparsification is a TakeOrdered top-k (no global sort);
    the kept edge set is localCheckpoint-pinned, then enumerated with
    degree-ordered orientation (see ``triangle_counts`` — wedge
    fan-out bounded O(sqrt(|E|)) on skewed graphs) while the oracle
    uses the naive id-canonical triple join: two independent
    formulations, one exact answer."""
    edges = copurchase_top_edges(spark, sf_dir)
    return (
        triangle_counts(edges)
        .select(F.col("id").alias("suppkey"), "n_triangles")
        .orderBy(F.desc("n_triangles"), "suppkey")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Label-propagation communities (synchronous LPA, fixed rounds) — the
# community-detection counterpart of connected components: where
# components answer "is there ANY path", LPA's majority vote finds
# densely-linked clusters inside one component. Deterministic variant:
# argmax neighbor-label count with smallest-label tie-break, a FIXED
# round count as part of the operator contract (the oracle unrolls the
# identical rounds).
# ---------------------------------------------------------------------------

_LPA_ROUNDS = 3


def _lpa_round_sql(prev: str, out: str) -> str:
    # MATERIALIZED: DuckDB inlines CTEs by default, and each round
    # references edges/nodes/{prev} — without the hint the whole
    # quadratic cs-self-join chain re-expands per round (the
    # bpe_oracle_sql lesson; measured as an 80 GB temp-spill
    # ORACLE-ERR at sf0.1 before the hint landed).
    return f"""{out} AS MATERIALIZED (
        SELECT n.id,
               COALESCE((
                   SELECT lbl FROM (
                       SELECT l.label AS lbl, COUNT(*) AS c
                       FROM edges e JOIN {prev} l ON e.dst = l.id
                       WHERE e.src = n.id
                       GROUP BY l.label
                       ORDER BY c DESC, lbl LIMIT 1)), n.id) AS label
        FROM nodes n)"""


def lpa_labels(edges: DataFrame) -> DataFrame:
    """Synchronous LPA over undirected (src, dst) edges, _LPA_ROUNDS
    fixed rounds, deterministic argmax (count DESC, smallest label).
    Per round: one shuffle-join of edges against labels, one
    (node, label) count, one per-node max_by argmax — lazy
    localCheckpoints truncate lineage (no per-round driver decision,
    the pagerank_fixed rationale). Returns (id, label)."""
    labels = edges.select(F.col("src").alias("id")).distinct().withColumn(
        "label", F.col("id")
    ).localCheckpoint(eager=True)
    for _ in range(_LPA_ROUNDS):
        votes = (
            edges.join(
                labels.select(
                    F.col("id").alias("dst"), "label"
                ),
                "dst",
            )
            .groupBy(F.col("src").alias("id"), "label")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        labels = (
            votes.groupBy("id")
            .agg(
                F.expr(
                    "max_by(label, struct(c, -label))"
                ).alias("label")
            )
            .localCheckpoint(eager=False)
        )
    return labels


@query(
    "q_lpa_communities",
    f"""
    WITH cs AS MATERIALIZED (
        SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
    w AS MATERIALIZED (
        SELECT a.s AS s1, b.s AS s2, COUNT(*) AS cnt
        FROM cs a JOIN cs b ON a.c = b.c AND a.s < b.s
        GROUP BY a.s, b.s),
    top_e AS MATERIALIZED (
        SELECT s1, s2 FROM (
            SELECT s1, s2,
                   ROW_NUMBER() OVER (ORDER BY cnt DESC, s1, s2) AS rk
            FROM w) WHERE rk <= {_TRI_EDGES}),
    edges AS MATERIALIZED (
        SELECT s1 AS src, s2 AS dst FROM top_e
        UNION ALL SELECT s2, s1 FROM top_e),
    nodes AS MATERIALIZED (SELECT DISTINCT src AS id FROM edges),
    l0 AS MATERIALIZED (SELECT id, id AS label FROM nodes),
    {", ".join(_lpa_round_sql(f"l{r}", f"l{r + 1}")
               for r in range(_LPA_ROUNDS))}
    SELECT label AS community,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(MIN(id) AS BIGINT) AS min_member
    FROM l{_LPA_ROUNDS}
    GROUP BY label ORDER BY n_members DESC, community LIMIT 20
    """,
)
def q_lpa_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous label propagation over the top-{_TRI_EDGES}-edge
    co-customer supplier graph: {_LPA_ROUNDS} fixed rounds of "adopt
    the most frequent neighbor label, smallest label on ties", then
    community sizes. Deterministic end-to-end, so the driver
    hash-checks community structure — most LPA implementations give up
    determinism for speed; fixing round count and tie order keeps both.

    Scale shape per round: one shuffle-join of edges against labels,
    one (node, label) count, one per-node argmax via max_by — the same
    per-superstep cost as PageRank, with localCheckpoint truncating
    lineage between rounds."""
    top_e = copurchase_top_edges(spark, sf_dir)
    edges = (
        top_e.select(F.col("s1").alias("src"), F.col("s2").alias("dst"))
        .unionAll(top_e.select(F.col("s2").alias("src"),
                               F.col("s1").alias("dst")))
        .localCheckpoint(eager=True)
    )
    labels = lpa_labels(edges)
    return (
        labels.groupBy(F.col("label").alias("community"))
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.min("id").cast("bigint").alias("min_member"),
        )
        .orderBy(F.desc("n_members"), "community")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# k-core decomposition (fixed-round peeling) — the degeneracy-based
# density filter: repeatedly drop nodes with degree < k until the
# k-core remains. A FIXED round count is part of the operator contract
# (the oracle unrolls the identical rounds, the pytest invariant
# proves the fixed point was reached — peeling converges in a handful
# of rounds on any graph because each round strictly shrinks the node
# set until stable). Per round: one degree aggregation + one semi-join
# — the Pregel peel at scale.
# ---------------------------------------------------------------------------

_KCORE_K = 3
_KCORE_ROUNDS = 8


def _kcore_round_sql(prev_e: str, out_e: str) -> str:
    """One peel: keep edges whose BOTH endpoints have degree >= k in
    the current edge set."""
    return f"""
    deg_{out_e} AS MATERIALIZED (
        SELECT id, COUNT(*) AS d FROM (
            SELECT s1 AS id FROM {prev_e}
            UNION ALL SELECT s2 FROM {prev_e}) GROUP BY id),
    keep_{out_e} AS MATERIALIZED (
        SELECT id FROM deg_{out_e} WHERE d >= {_KCORE_K}),
    {out_e} AS MATERIALIZED (
        SELECT e.s1, e.s2 FROM {prev_e} e
        JOIN keep_{out_e} ka ON e.s1 = ka.id
        JOIN keep_{out_e} kb ON e.s2 = kb.id)"""


def _kcore_oracle() -> str:
    chain = ",\n".join(
        _kcore_round_sql(f"e{r}", f"e{r + 1}") for r in range(_KCORE_ROUNDS)
    )
    last = f"e{_KCORE_ROUNDS}"
    return f"""
    WITH cs AS MATERIALIZED (
        SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
    w AS MATERIALIZED (
        SELECT a.s AS s1, b.s AS s2, COUNT(*) AS cnt
        FROM cs a JOIN cs b ON a.c = b.c AND a.s < b.s
        GROUP BY a.s, b.s),
    e0 AS MATERIALIZED (
        SELECT s1, s2 FROM (
            SELECT s1, s2,
                   ROW_NUMBER() OVER (ORDER BY cnt DESC, s1, s2) AS rk
            FROM w) WHERE rk <= {_TRI_EDGES}),
    {chain},
    core_deg AS (
        SELECT id, COUNT(*) AS core_degree FROM (
            SELECT s1 AS id FROM {last}
            UNION ALL SELECT s2 FROM {last}) GROUP BY id)
    SELECT CAST(core_degree AS BIGINT) AS core_degree,
           CAST(COUNT(*) AS BIGINT) AS n_nodes,
           CAST(MIN(id) AS BIGINT) AS min_suppkey
    FROM core_deg
    GROUP BY core_degree
    ORDER BY core_degree
    """


def kcore_edges(edges: DataFrame) -> DataFrame:
    """Peel undirected (s1, s2) edges, each given once, for
    _KCORE_ROUNDS fixed rounds: each round keeps the edges whose both
    endpoints have degree >= _KCORE_K in the current edge set
    (``_kcore_round_sql``). Each round is a lazily-checkpointed
    degree-filter semi-join. Returns the surviving (s1, s2) edges."""
    for _ in range(_KCORE_ROUNDS):
        deg = (
            edges.select(F.col("s1").alias("id"))
            .unionAll(edges.select(F.col("s2").alias("id")))
            .groupBy("id")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        keep = deg.where(F.col("d") >= _KCORE_K).select("id")
        edges = (
            edges.join(
                F.broadcast(keep.withColumnRenamed("id", "s1")), "s1"
            )
            .join(F.broadcast(keep.withColumnRenamed("id", "s2")), "s2")
            .select("s1", "s2")
            .localCheckpoint(eager=False)
        )
    return edges


@query("q_kcore", _kcore_oracle())
def q_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{_KCORE_K}-core of the sparsified supplier co-purchase graph
    (same top-{_TRI_EDGES} edge set as q_triangle_count): degree
    distribution of the surviving core with a witness node per degree.
    Spark runs the same {_KCORE_ROUNDS} fixed peel rounds the oracle
    unrolls (``kcore_edges``) — the scale shape is one narrow shuffle
    per round over a strictly shrinking edge set."""
    edges = kcore_edges(copurchase_top_edges(spark, sf_dir).select("s1", "s2"))
    core_deg = (
        edges.select(F.col("s1").alias("id"))
        .unionAll(edges.select(F.col("s2").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("core_degree"))
    )
    return (
        core_deg.groupBy("core_degree")
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.min("id").cast("bigint").alias("min_suppkey"),
        )
        .select(
            F.col("core_degree").cast("bigint").alias("core_degree"),
            "n_nodes",
            "min_suppkey",
        )
    )


# ---------------------------------------------------------------------------
# Link prediction (common-neighbors / Jaccard) — "which suppliers
# SHOULD be connected": score every non-edge reachable by a wedge
# with |N(a) ∩ N(b)| and Jaccard |∩|/|∪|. The wedge join over the
# sparsified edge set is the same bounded fan-out as triangle
# counting; scores are exact integers plus one final division.
# ---------------------------------------------------------------------------

@query(
    "q_link_prediction",
    f"""
    WITH cs AS MATERIALIZED (
        SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
    w AS MATERIALIZED (
        SELECT a.s AS s1, b.s AS s2, COUNT(*) AS cnt
        FROM cs a JOIN cs b ON a.c = b.c AND a.s < b.s
        GROUP BY a.s, b.s),
    e AS MATERIALIZED (
        SELECT s1, s2 FROM (
            SELECT s1, s2,
                   ROW_NUMBER() OVER (ORDER BY cnt DESC, s1, s2) AS rk
            FROM w) WHERE rk <= {_TRI_EDGES}),
    adj AS MATERIALIZED (
        SELECT s1 AS u, s2 AS v FROM e
        UNION ALL SELECT s2, s1 FROM e),
    deg AS MATERIALIZED (
        SELECT u AS id, COUNT(*) AS d FROM adj GROUP BY u),
    wedge AS (
        SELECT a.v AS x, b.v AS y, COUNT(*) AS cn
        FROM adj a JOIN adj b ON a.u = b.u AND a.v < b.v
        GROUP BY a.v, b.v),
    nonedge AS (
        SELECT w2.x, w2.y, w2.cn FROM wedge w2
        LEFT JOIN e ON w2.x = e.s1 AND w2.y = e.s2
        WHERE e.s1 IS NULL)
    SELECT CAST(n.x AS BIGINT) AS supp_a,
           CAST(n.y AS BIGINT) AS supp_b,
           CAST(n.cn AS BIGINT) AS common_neighbors,
           CAST(n.cn AS DOUBLE) / (da.d + db.d - n.cn) AS jaccard
    FROM nonedge n
    JOIN deg da ON n.x = da.id
    JOIN deg db ON n.y = db.id
    ORDER BY common_neighbors DESC, jaccard DESC, supp_a, supp_b
    LIMIT 15
    """,
)
def q_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-15 predicted supplier links in the sparsified co-purchase
    graph (same top-{_TRI_EDGES} edge set as triangles/k-core):
    candidate = wedge-connected non-edge, scored by common-neighbor
    count and Jaccard over neighborhoods. The wedge enumeration and
    the e-anti-join are the only joins; degrees broadcast."""
    e = copurchase_top_edges(spark, sf_dir).select("s1", "s2")
    adj = e.select(F.col("s1").alias("u"), F.col("s2").alias("v")).unionAll(
        e.select(F.col("s2").alias("u"), F.col("s1").alias("v"))
    )
    deg = adj.groupBy(F.col("u").alias("id")).agg(F.count(F.lit(1)).alias("d"))
    wa = adj.select("u", F.col("v").alias("x"))
    wb = adj.select("u", F.col("v").alias("y"))
    wedge = (
        wa.join(wb, "u")
        .where(F.col("x") < F.col("y"))
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).alias("cn"))
    )
    nonedge = wedge.join(
        e,
        (F.col("x") == F.col("s1")) & (F.col("y") == F.col("s2")),
        "left_anti",
    )
    da = deg.select(F.col("id").alias("x"), F.col("d").alias("da"))
    db = deg.select(F.col("id").alias("y"), F.col("d").alias("db"))
    return (
        nonedge.join(F.broadcast(da), "x")
        .join(F.broadcast(db), "y")
        .select(
            F.col("x").cast("bigint").alias("supp_a"),
            F.col("y").cast("bigint").alias("supp_b"),
            F.col("cn").cast("bigint").alias("common_neighbors"),
            (
                F.col("cn").cast("double")
                / (F.col("da") + F.col("db") - F.col("cn"))
            ).alias("jaccard"),
        )
        .orderBy(
            F.desc("common_neighbors"), F.desc("jaccard"), "supp_a", "supp_b"
        )
        .limit(15)
    )


# ---------------------------------------------------------------------------
# Degree assortativity — Pearson correlation of endpoint degrees over
# the edge list (Newman 2002): do hubs link to hubs (+) or to leaves
# (-)? One degree rollup + one pass of integer moments over edges;
# the cancellations run in exact DECIMAL before double conversion
# (the q_ols_elasticity parity lesson).
# ---------------------------------------------------------------------------

@query(
    "q_degree_assortativity",
    f"""
    WITH cs AS MATERIALIZED (
        SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
    w AS MATERIALIZED (
        SELECT a.s AS s1, b.s AS s2, COUNT(*) AS cnt
        FROM cs a JOIN cs b ON a.c = b.c AND a.s < b.s
        GROUP BY a.s, b.s),
    e AS MATERIALIZED (
        SELECT s1, s2 FROM (
            SELECT s1, s2,
                   ROW_NUMBER() OVER (ORDER BY cnt DESC, s1, s2) AS rk
            FROM w) WHERE rk <= {_TRI_EDGES}),
    adj AS (
        SELECT s1 AS u, s2 AS v FROM e UNION ALL SELECT s2, s1 FROM e),
    deg AS (SELECT u AS id, COUNT(*) AS d FROM adj GROUP BY u),
    pairs AS (
        -- each undirected edge contributes BOTH orientations, the
        -- standard symmetric treatment
        SELECT da.d AS x, db.d AS y
        FROM adj a JOIN deg da ON a.u = da.id JOIN deg db ON a.v = db.id),
    m AS (
        SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
               SUM(CAST(x AS DECIMAL(38,0)) * y) AS sxy,
               SUM(CAST(x AS DECIMAL(38,0)) * x) AS sxx,
               SUM(CAST(y AS DECIMAL(38,0)) * y) AS syy
        FROM pairs)
    SELECT CAST(n AS BIGINT) AS n_directed_edges,
           CAST(n * sxy - CAST(sx AS DECIMAL(38,0)) * sy AS DOUBLE)
               / NULLIF(sqrt(CAST(n * sxx - CAST(sx AS DECIMAL(38,0)) * sx
                                  AS DOUBLE)
                             * CAST(n * syy - CAST(sy AS DECIMAL(38,0)) * sy
                                    AS DOUBLE)), 0) AS assortativity
    FROM m
    """,
)
def q_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the sparsified co-purchase graph: the
    Pearson r of (deg(u), deg(v)) over both orientations of every
    edge. Moments are exact integers/decimals; only the final
    compact covariance/variance remainders convert to double.

    Degenerate graphs (every endpoint the same degree — e.g. the
    sf0.001 fixture's sparsified top-edge set is a perfect matching)
    have zero degree variance: r is undefined, both sides return NULL
    (NULLIF-guarded denominator; by Cauchy-Schwarz over the exact
    decimal moments the numerator is 0 whenever a variance is 0, so
    NULL-vs-±inf ambiguity cannot arise). Found by the registry-wide
    sf0.001 sweep — Spark under ANSI threw DIVIDE_BY_ZERO where the
    DuckDB oracle produced NaN; non-degenerate SFs are bit-identical
    (guarded division is plain division when the divisor is
    nonzero)."""
    e = copurchase_top_edges(spark, sf_dir).select("s1", "s2")
    adj = e.select(F.col("s1").alias("u"), F.col("s2").alias("v")).unionAll(
        e.select(F.col("s2").alias("u"), F.col("s1").alias("v"))
    )
    deg = adj.groupBy(F.col("u").alias("id")).agg(
        F.count(F.lit(1)).alias("d")
    )
    pairs = (
        adj.join(
            F.broadcast(deg.select(F.col("id").alias("u"), F.col("d").alias("x"))),
            "u",
        )
        .join(
            F.broadcast(deg.select(F.col("id").alias("v"), F.col("d").alias("y"))),
            "v",
        )
        .select("x", "y")
    )
    m = pairs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.expr("SUM(CAST(x AS DECIMAL(38,0)) * y)").alias("sxy"),
        F.expr("SUM(CAST(x AS DECIMAL(38,0)) * x)").alias("sxx"),
        F.expr("SUM(CAST(y AS DECIMAL(38,0)) * y)").alias("syy"),
    )
    return m.select(
        F.col("n").cast("bigint").alias("n_directed_edges"),
        F.expr(
            "CAST(n * sxy - CAST(sx AS DECIMAL(38,0)) * sy AS DOUBLE)"
            " / NULLIF(sqrt(CAST(n * sxx - CAST(sx AS DECIMAL(38,0)) * sx"
            " AS DOUBLE)"
            " * CAST(n * syy - CAST(sy AS DECIMAL(38,0)) * sy AS DOUBLE)),"
            " 0D)"
        ).alias("assortativity"),
    )


# ---------------------------------------------------------------------------
# Two-hop reach — distinct friends-of-friends per node: the audience-
# expansion / influence-radius metric. One wedge join over the
# sparsified adjacency, one distinct per endpoint; self and direct
# neighbors excluded.
# ---------------------------------------------------------------------------

@query(
    "q_two_hop_reach",
    f"""
    WITH cs AS MATERIALIZED (
        SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
    w AS MATERIALIZED (
        SELECT a.s AS s1, b.s AS s2, COUNT(*) AS cnt
        FROM cs a JOIN cs b ON a.c = b.c AND a.s < b.s
        GROUP BY a.s, b.s),
    e AS MATERIALIZED (
        SELECT s1, s2 FROM (
            SELECT s1, s2,
                   ROW_NUMBER() OVER (ORDER BY cnt DESC, s1, s2) AS rk
            FROM w) WHERE rk <= {_TRI_EDGES}),
    adj AS MATERIALIZED (
        SELECT s1 AS u, s2 AS v FROM e UNION ALL SELECT s2, s1 FROM e),
    two_hop AS (
        SELECT DISTINCT a.u AS node, b.v AS reach
        FROM adj a JOIN adj b ON a.v = b.u
        WHERE b.v <> a.u),
    pruned AS (
        SELECT t.node, t.reach FROM two_hop t
        LEFT JOIN adj d ON t.node = d.u AND t.reach = d.v
        WHERE d.u IS NULL),
    counts AS (
        SELECT d.u AS node,
               COUNT(DISTINCT d.v) AS n_direct,
               (SELECT COUNT(*) FROM pruned p WHERE p.node = d.u)
                   AS n_two_hop
        FROM adj d GROUP BY d.u)
    SELECT CAST(node AS BIGINT) AS node,
           CAST(n_direct AS BIGINT) AS n_direct,
           CAST(n_two_hop AS BIGINT) AS n_two_hop
    FROM counts
    ORDER BY n_two_hop DESC, node
    LIMIT 20
    """,
)
def q_two_hop_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 suppliers by strict two-hop reach (distinct nodes at
    exactly distance 2 — self and direct neighbors excluded) in the
    sparsified co-purchase graph, next to their direct degree. One
    wedge join + one anti-join against the adjacency."""
    e = copurchase_top_edges(spark, sf_dir).select("s1", "s2")
    adj = e.select(F.col("s1").alias("u"), F.col("s2").alias("v")).unionAll(
        e.select(F.col("s2").alias("u"), F.col("s1").alias("v"))
    )
    h1 = adj.select(F.col("u").alias("node"), F.col("v").alias("mid"))
    h2 = adj.select(F.col("u").alias("mid"), F.col("v").alias("reach"))
    two_hop = (
        h1.join(h2, "mid")
        .where(F.col("reach") != F.col("node"))
        .select("node", "reach")
        .distinct()
    )
    pruned = two_hop.join(
        adj.select(F.col("u").alias("node"), F.col("v").alias("reach")),
        ["node", "reach"],
        "left_anti",
    )
    direct = adj.groupBy(F.col("u").alias("node")).agg(
        F.countDistinct("v").alias("n_direct")
    )
    reach_counts = pruned.groupBy("node").agg(
        F.count(F.lit(1)).alias("n_two_hop")
    )
    return (
        direct.join(reach_counts, "node", "left")
        .select(
            F.col("node").cast("bigint").alias("node"),
            F.col("n_direct").cast("bigint").alias("n_direct"),
            F.coalesce(F.col("n_two_hop"), F.lit(0))
            .cast("bigint")
            .alias("n_two_hop"),
        )
        .orderBy(F.desc("n_two_hop"), "node")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Local clustering coefficient — triangles normalized by wedge
# capacity per node: THE community-tightness score (a node whose
# neighbors all know each other scores 1). Reuses the degree-ordered
# triangle enumeration and the top-E sparsified co-customer edge set.
# ---------------------------------------------------------------------------

@query(
    "q_local_clustering",
    f"""
    WITH cs AS (
        SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
    w AS (
        SELECT a.s AS s1, b.s AS s2, COUNT(*) AS cnt
        FROM cs a JOIN cs b ON a.c = b.c AND a.s < b.s
        GROUP BY a.s, b.s),
    e AS (
        SELECT s1, s2 FROM (
            SELECT s1, s2,
                   ROW_NUMBER() OVER (ORDER BY cnt DESC, s1, s2) AS rk
            FROM w) WHERE rk <= {_TRI_EDGES}),
    tri AS (
        SELECT e1.s1 AS a, e1.s2 AS b, e2.s2 AS c
        FROM e e1 JOIN e e2 ON e1.s2 = e2.s1
        JOIN e e3 ON e3.s1 = e1.s1 AND e3.s2 = e2.s2),
    corners AS (
        SELECT id, COUNT(*) AS n_triangles FROM (
            SELECT a AS id FROM tri
            UNION ALL SELECT b FROM tri
            UNION ALL SELECT c FROM tri) GROUP BY id),
    deg AS (
        SELECT id, COUNT(*) AS d FROM (
            SELECT s1 AS id FROM e UNION ALL SELECT s2 FROM e)
        GROUP BY id)
    SELECT CAST(deg.id AS BIGINT) AS suppkey,
           CAST(deg.d AS BIGINT) AS degree,
           CAST(COALESCE(c.n_triangles, 0) AS BIGINT) AS n_triangles,
           CAST(CAST(CAST(2 * COALESCE(c.n_triangles, 0) AS DOUBLE)
                     / (deg.d * (deg.d - 1))
                AS DECIMAL(18,9)) AS DOUBLE) AS clustering_coeff
    FROM deg LEFT JOIN corners c ON deg.id = c.id
    WHERE deg.d >= 2
    ORDER BY clustering_coeff DESC, suppkey LIMIT 25
    """,
)
def q_local_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-25 suppliers by local clustering coefficient
    2*T(v) / (d(v)*(d(v)-1)) over the sparsified co-customer graph
    (nodes with degree >= 2). Triangles come from the degree-ordered
    wedge enumeration (O(sqrt(|E|)) fan-out bound); degrees from one
    rollup over the pinned edge set; the coefficient is an exact
    integer ratio so both engines see identical doubles."""
    edges = copurchase_top_edges(spark, sf_dir).select("s1", "s2")
    tri = triangle_counts(edges)
    deg = (
        edges.select(F.col("s1").alias("id"))
        .unionAll(edges.select(F.col("s2").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    return (
        deg.join(tri, "id", "left")
        .where(F.col("d") >= 2)
        .select(
            F.col("id").cast("bigint").alias("suppkey"),
            F.col("d").cast("bigint").alias("degree"),
            F.coalesce("n_triangles", F.lit(0))
            .cast("bigint")
            .alias("n_triangles"),
            F.expr(
                "CAST(CAST(CAST(2 * COALESCE(n_triangles, 0) AS DOUBLE)"
                " / (d * (d - 1)) AS DECIMAL(18,9)) AS DOUBLE)"
            ).alias("clustering_coeff"),
        )
        .orderBy(F.desc("clustering_coeff"), "suppkey")
        .limit(25)
    )


# ---------------------------------------------------------------------------
# Multi-round BFS distance — single-source shortest hops over the
# sparsified co-customer graph: the Pregel frontier-expansion shape
# (one narrow join + one min-rollup per round, fixed 4 rounds as part
# of the operator contract). The oracle replays it as a recursive CTE
# and keeps the min distance per node.
# ---------------------------------------------------------------------------

_BFS_ROUNDS = 4


def bfs_distances(edges: DataFrame) -> DataFrame:
    """Hop distance (<= _BFS_ROUNDS) from the smallest ``s1`` over
    undirected (s1, s2) edges: per round one join of the current
    distance table against the undirected edge list plus a min-rollup
    — the BFS superstep every distributed graph engine runs; the
    frontier table never exceeds the node set. The root is
    ``MIN(s1)``, as in the oracle, so an empty edge list has a NULL
    root: one row (NULL, 0). Returns (id, dist)."""
    und = edges.select(
        F.col("s1").alias("a"), F.col("s2").alias("b")
    ).unionAll(edges.select(F.col("s2").alias("a"), F.col("s1").alias("b")))
    und = und.localCheckpoint(eager=True)
    dist = edges.agg(F.min("s1").alias("id")).select(
        "id", F.lit(0).alias("dist")
    )
    for _ in range(_BFS_ROUNDS):
        expanded = (
            dist.join(und, dist["id"] == und["a"])
            .select(F.col("b").alias("id"), (F.col("dist") + 1).alias("dist"))
        )
        dist = (
            dist.unionAll(expanded)
            .groupBy("id")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint(eager=False)
        )
    return dist


@query(
    "q_bfs_distance",
    f"""
    WITH RECURSIVE cs AS (
        SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
    w AS (
        SELECT a.s AS s1, b.s AS s2, COUNT(*) AS cnt
        FROM cs a JOIN cs b ON a.c = b.c AND a.s < b.s
        GROUP BY a.s, b.s),
    e AS MATERIALIZED (
        SELECT s1, s2 FROM (
            SELECT s1, s2,
                   ROW_NUMBER() OVER (ORDER BY cnt DESC, s1, s2) AS rk
            FROM w) WHERE rk <= {_TRI_EDGES}),
    und AS MATERIALIZED (
        SELECT s1 AS a, s2 AS b FROM e UNION ALL SELECT s2, s1 FROM e),
    seed AS (SELECT MIN(s1) AS root FROM e),
    walk(id, dist) AS (
        SELECT root, 0 FROM seed
        UNION ALL
        SELECT u.b, w2.dist + 1
        FROM walk w2 JOIN und u ON w2.id = u.a
        WHERE w2.dist < {_BFS_ROUNDS})
    SELECT CAST(id AS BIGINT) AS suppkey,
           CAST(MIN(dist) AS INTEGER) AS dist
    FROM walk GROUP BY id ORDER BY dist, suppkey
    """,
)
def q_bfs_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hop distance (<= {_BFS_ROUNDS}) from the smallest supplier in
    the sparsified co-customer edge set (``bfs_distances``)."""
    dist = bfs_distances(copurchase_top_edges(spark, sf_dir).select("s1", "s2"))
    return dist.select(
        F.col("id").cast("bigint").alias("suppkey"),
        F.col("dist").cast("int").alias("dist"),
    )


# ---------------------------------------------------------------------------
# Modularity of the LPA partition — the standard "is this community
# structure real" score: Q = sum_c [ L_c/m - (D_c/2m)^2 ]. Every
# ingredient (intra-community edge count, community degree mass, m)
# is an exact integer from the same deterministic LPA labels the
# driver already hash-checks, so Q is exactly reproducible.
# ---------------------------------------------------------------------------

@query(
    "q_modularity",
    f"""
    WITH cs AS MATERIALIZED (
        SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
    w AS MATERIALIZED (
        SELECT a.s AS s1, b.s AS s2, COUNT(*) AS cnt
        FROM cs a JOIN cs b ON a.c = b.c AND a.s < b.s
        GROUP BY a.s, b.s),
    top_e AS MATERIALIZED (
        SELECT s1, s2 FROM (
            SELECT s1, s2,
                   ROW_NUMBER() OVER (ORDER BY cnt DESC, s1, s2) AS rk
            FROM w) WHERE rk <= {_TRI_EDGES}),
    edges AS MATERIALIZED (
        SELECT s1 AS src, s2 AS dst FROM top_e
        UNION ALL SELECT s2, s1 FROM top_e),
    nodes AS MATERIALIZED (SELECT DISTINCT src AS id FROM edges),
    l0 AS MATERIALIZED (SELECT id, id AS label FROM nodes),
    {", ".join(_lpa_round_sql(f"l{r}", f"l{r + 1}")
               for r in range(_LPA_ROUNDS))},
    fin AS (SELECT id, label FROM l{_LPA_ROUNDS}),
    m AS (SELECT COUNT(*) AS m FROM top_e),
    intra AS (
        SELECT la.label, COUNT(*) AS lc
        FROM top_e e
        JOIN fin la ON e.s1 = la.id
        JOIN fin lb ON e.s2 = lb.id AND la.label = lb.label
        GROUP BY la.label),
    degs AS (
        SELECT f.label, COUNT(*) AS dc
        FROM edges e JOIN fin f ON e.src = f.id
        GROUP BY f.label),
    contrib AS (
        SELECT d.label,
               COALESCE(i.lc, 0) AS lc, d.dc,
               CAST(CAST(COALESCE(i.lc, 0) AS DOUBLE) / (SELECT m FROM m)
                    - (CAST(d.dc AS DOUBLE) / (2 * (SELECT m FROM m)))
                      * (CAST(d.dc AS DOUBLE) / (2 * (SELECT m FROM m)))
                    AS DECIMAL(18,12)) AS q_c
        FROM degs d LEFT JOIN intra i ON d.label = i.label),
    sizes AS (SELECT label, COUNT(*) AS n FROM fin GROUP BY label),
    total AS (
        SELECT CAST(CAST(SUM(q_c) AS DECIMAL(18,9)) AS DOUBLE) AS q
        FROM contrib)
    SELECT CAST(c.label AS BIGINT) AS community,
           CAST(s.n AS BIGINT) AS n_members,
           CAST(c.lc AS BIGINT) AS intra_edges,
           CAST(c.dc AS BIGINT) AS degree_mass,
           CAST(CAST(c.q_c AS DECIMAL(18,9)) AS DOUBLE) AS contribution,
           (SELECT q FROM total) AS modularity
    FROM contrib c JOIN sizes s ON c.label = s.label
    ORDER BY n_members DESC, community LIMIT 20
    """,
)
def q_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the deterministic LPA partition over the
    sparsified co-customer graph: per-community intra-edge counts and
    degree mass (exact integers), per-community contribution, and the
    global Q repeated as a broadcast column. The only passes beyond
    LPA itself are two label joins against the pinned edge list."""
    top_e = copurchase_top_edges(spark, sf_dir).select("s1", "s2")
    edges = top_e.select(
        F.col("s1").alias("src"), F.col("s2").alias("dst")
    ).unionAll(
        top_e.select(F.col("s2").alias("src"), F.col("s1").alias("dst"))
    )
    fin = lpa_labels(edges).localCheckpoint(eager=True)
    m = top_e.agg(F.count(F.lit(1)).alias("m"))
    la = fin.select(F.col("id").alias("s1"), F.col("label").alias("lab_a"))
    lb = fin.select(F.col("id").alias("s2"), F.col("label").alias("lab_b"))
    intra = (
        top_e.join(F.broadcast(la), "s1")
        .join(F.broadcast(lb), "s2")
        .where(F.col("lab_a") == F.col("lab_b"))
        .groupBy(F.col("lab_a").alias("label"))
        .agg(F.count(F.lit(1)).alias("lc"))
    )
    degs = (
        edges.join(
            F.broadcast(fin.select(F.col("id").alias("src"), "label")), "src"
        )
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("dc"))
    )
    contrib = (
        degs.join(intra, "label", "left")
        .crossJoin(F.broadcast(m))
        .select(
            "label",
            F.coalesce("lc", F.lit(0)).alias("lc"),
            "dc",
            F.expr(
                "CAST(CAST(COALESCE(lc, 0) AS DOUBLE) / m"
                " - (CAST(dc AS DOUBLE) / (2 * m))"
                "   * (CAST(dc AS DOUBLE) / (2 * m))"
                " AS DECIMAL(18,12))"
            ).alias("q_c"),
        )
    )
    contrib = contrib.localCheckpoint(eager=True)
    total = contrib.agg(
        F.expr("CAST(CAST(SUM(q_c) AS DECIMAL(18,9)) AS DOUBLE)").alias("q")
    )
    sizes = fin.groupBy("label").agg(F.count(F.lit(1)).alias("n"))
    return (
        contrib.join(F.broadcast(sizes), "label")
        .crossJoin(F.broadcast(total))
        .select(
            F.col("label").cast("bigint").alias("community"),
            F.col("n").cast("bigint").alias("n_members"),
            F.col("lc").cast("bigint").alias("intra_edges"),
            F.col("dc").cast("bigint").alias("degree_mass"),
            F.expr("CAST(CAST(q_c AS DECIMAL(18,9)) AS DOUBLE)").alias(
                "contribution"
            ),
            F.col("q").alias("modularity"),
        )
        .orderBy(F.desc("n_members"), "community")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Degree-distribution power-law fit — is the customer→supplier
# bipartite degree distribution heavy-tailed, and with what exponent?
# Degrees come straight off the distinct-pair rollup (NO pairwise
# projection — this is the one graph statistic that never needs the
# quadratic co-purchase expansion), histogram over the bounded degree
# domain, then the shared integer-moment log-log OLS.
# ---------------------------------------------------------------------------

@query(
    "q_degree_powerlaw",
    """
    WITH cs AS (
        SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
    deg AS (SELECT s, COUNT(*) AS d FROM cs GROUP BY s),
    hist AS (SELECT d, COUNT(*) AS n_d FROM deg GROUP BY d),
    pts AS (
        SELECT CAST(floor(ln(CAST(d AS DOUBLE)) * 1000000) AS BIGINT)
                   AS x,
               CAST(floor(ln(CAST(n_d AS DOUBLE)) * 1000000) AS BIGINT)
                   AS y
        FROM hist),
    m AS (
        SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
               SUM(CAST(x AS DECIMAL(38,0)) * y) AS sxy,
               SUM(CAST(x AS DECIMAL(38,0)) * x) AS sxx
        FROM pts),
    mx AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
               CAST(MAX(d) AS BIGINT) AS max_degree
        FROM deg)
    SELECT mx.n_nodes, mx.max_degree,
           CAST(m.n AS BIGINT) AS n_distinct_degrees,
           CAST(m.n * m.sxy - CAST(m.sx AS DECIMAL(38,0)) * m.sy AS DOUBLE)
               / CAST(m.n * m.sxx - CAST(m.sx AS DECIMAL(38,0)) * m.sx
                      AS DOUBLE) AS powerlaw_slope
    FROM m CROSS JOIN mx
    """,
)
def q_degree_powerlaw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-law exponent of the supplier degree distribution in the
    customer-supplier bipartite graph: degree = distinct customers per
    supplier (one distinct + one rollup, no edge projection), degree
    histogram over the bounded degree domain, log-log OLS slope via
    1e-6 fixed-point ln moments with DECIMAL-exact cancellation. The
    slope is the -(alpha) scale-free diagnostic; near-Poisson degree
    data fits a steep, poorly-correlated line instead. Every stage is
    a hash agg — at 100 TB this runs where triangle/assortativity
    pipelines can't afford their quadratic expansions."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    cs = (
        li.select("l_orderkey", "l_suppkey")
        .join(
            o.select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    deg = cs.groupBy("s").agg(F.count(F.lit(1)).alias("d"))
    hist = deg.groupBy("d").agg(F.count(F.lit(1)).alias("n_d"))
    pts = hist.select(
        F.expr(
            "CAST(floor(ln(CAST(d AS DOUBLE)) * 1000000) AS BIGINT)"
        ).alias("x"),
        F.expr(
            "CAST(floor(ln(CAST(n_d AS DOUBLE)) * 1000000) AS BIGINT)"
        ).alias("y"),
    )
    m = pts.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.expr("SUM(CAST(x AS DECIMAL(38,0)) * y)").alias("sxy"),
        F.expr("SUM(CAST(x AS DECIMAL(38,0)) * x)").alias("sxx"),
    )
    mx = deg.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
        F.max("d").cast("bigint").alias("max_degree"),
    )
    return m.crossJoin(F.broadcast(mx)).select(
        "n_nodes",
        "max_degree",
        F.col("n").cast("bigint").alias("n_distinct_degrees"),
        F.expr(
            "CAST(n * sxy - CAST(sx AS DECIMAL(38,0)) * sy AS DOUBLE)"
            " / CAST(n * sxx - CAST(sx AS DECIMAL(38,0)) * sx AS DOUBLE)"
        ).alias("powerlaw_slope"),
    )
