"""Dedup-family invariants beyond the oracle compare: the IVF-blocked
cosine variant must still find every planted scaled copy, and
connected-components must fail loud instead of returning partial
labels."""

from __future__ import annotations

import os
import re

import pytest

from bigdata_deepfakeanalysis_spark.registry import all_queries

from .conftest import SF_DIR, jobs_of


def test_ivf_cosine_near_dup_covers_planted_copies(spark):
    """aug_emb plants vec_id+1000000 as a 1.01-scaled copy of every
    vec_id % 5 == 0 vector (cosine exactly 1). k-means must put each
    copy in its original's cell, so the IVF-blocked pair set must
    contain every (v, v+1000000) pair."""
    from bigdata_deepfakeanalysis_spark.operators.dedup import (
        ivf_cosine_pairs,
    )

    pairs = ivf_cosine_pairs(spark, SF_DIR).toPandas()
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    planted = [
        r.vec_id
        for r in emb.where("vec_id % 5 = 0").select("vec_id").collect()
    ]
    got = set(zip(pairs["vec_a"], pairs["vec_b"]))
    missing = [v for v in planted if (v, v + 1000000) not in got]
    assert not missing, f"planted copies not paired: {missing[:5]}"


def test_semantic_dedup_removes_planted_copies(spark):
    """Every label's removed count must equal its planted-copy count:
    originals (lower id = component label) survive, the 1.01-scaled
    copies do not."""
    from pyspark.sql import functions as F

    from bigdata_deepfakeanalysis_spark.operators.dedup import (
        semantic_dedup_accounting,
    )

    out = semantic_dedup_accounting(spark, SF_DIR).toPandas()
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    planted = (
        emb.where("vec_id % 5 = 0")
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("n_planted"))
        .toPandas()
        .set_index("label")["n_planted"]
    )
    for _, row in out.iterrows():
        assert row["n_removed"] >= planted.get(row["label"], 0), row
        assert (
            row["n_survivors"] + row["n_removed"] == row["n_vectors"]
        ), row


def test_connected_components_raises_on_non_convergence(spark, monkeypatch):
    """A 5-node chain needs 4 propagation rounds; a budget of 1 round
    must raise, never silently return partial labels. The round budget
    ``_CC_MAX_ITER`` is read by the driver loop, so the test patches
    it."""
    from bigdata_deepfakeanalysis_spark.operators import dedup
    from bigdata_deepfakeanalysis_spark.operators.dedup import (
        connected_components,
    )

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(4)], "doc_a long, doc_b long"
    )
    monkeypatch.setattr(dedup, "_CC_MAX_ITER", 1)
    with pytest.raises(RuntimeError, match="did not converge") as err:
        connected_components(chain).collect()
    # the message carries the observed changed-count of the last round
    still = re.search(r"\((\d+) labels still changing\)", str(err.value))
    assert still and int(still.group(1)) > 0, str(err.value)

    monkeypatch.setattr(dedup, "_CC_MAX_ITER", 10)
    ok = connected_components(chain)
    labels = {r.component for r in ok.collect()}
    assert labels == {0}


def test_star_components_handle_deep_chains(spark, monkeypatch):
    """A path graph is the worst case for plain min-label propagation
    (O(diameter) rounds). r12's adaptive pointer halving converges it
    in O(log diameter) rounds inside the default round budget — but a
    hard cap below that bound must still fail loud, and the large-star
    / small-star alternation remains the O(log n) reference."""
    import pytest

    from bigdata_deepfakeanalysis_spark.operators import dedup
    from bigdata_deepfakeanalysis_spark.operators.dedup import (
        connected_components,
        connected_components_star,
    )

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(80)], "doc_a long, doc_b long"
    )
    # pointer halving: an 80-edge path now converges within 10 rounds,
    # half the default budget (plain propagation needed ~80 rounds)
    monkeypatch.setattr(dedup, "_CC_MAX_ITER", 10)
    labels_lp = connected_components(chain).collect()
    assert len(labels_lp) == 81
    assert all(r.component == 0 for r in labels_lp)
    # the loud-divergence contract survives: 3 rounds reach <= ~7 hops
    monkeypatch.setattr(dedup, "_CC_MAX_ITER", 3)
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain)
    labels = connected_components_star(chain).collect()
    assert len(labels) == 81
    assert all(r.component == 0 for r in labels)


def test_star_components_equal_label_propagation(spark, monkeypatch):
    """Both algorithms must produce identical (id, min-of-component)
    labelings — checked on the LSH candidate graph and on a seeded
    random graph with isolated self-pair nodes."""
    import random

    from bigdata_deepfakeanalysis_spark.operators import dedup
    from bigdata_deepfakeanalysis_spark.operators.dedup import (
        aug_docs,
        connected_components,
        connected_components_star,
        lsh_candidate_pairs,
        minhash_bands,
    )

    from .conftest import SF_DIR

    pairs = lsh_candidate_pairs(minhash_bands(aug_docs(spark, SF_DIR)))
    a = {(r.id, r.component) for r in connected_components(pairs).collect()}
    b = {
        (r.id, r.component)
        for r in connected_components_star(pairs).collect()
    }
    assert a == b and len(a) > 0

    rng = random.Random(42)
    edges = [
        (rng.randrange(200), rng.randrange(200)) for _ in range(150)
    ] + [(777, 777)]  # self-pair → isolated node keeps its own id
    g = spark.createDataFrame(edges, "doc_a long, doc_b long")
    # sparse random graphs have long paths: give propagation the
    # rounds it needs (the star variant needs ~5 alternations)
    monkeypatch.setattr(dedup, "_CC_MAX_ITER", 80)
    a = {(r.id, r.component) for r in connected_components(g).collect()}
    b = {(r.id, r.component) for r in connected_components_star(g).collect()}
    assert a == b
    assert (777, 777) in b


def _component_minima(edges):
    """Reference labels: union-find, every node labeled with the
    smallest id of its component."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {(x, find(x)) for x in parent}


def _grid_edges(n):
    return [
        (r * n + c, r * n + c + 1) for r in range(n) for c in range(n - 1)
    ] + [(r * n + c, (r + 1) * n + c) for r in range(n - 1) for c in range(n)]


@pytest.fixture(scope="module")
def lsh_cliques(spark):
    """The LSH candidate pairs of the fixture corpus, pinned: disjoint
    near-dup cliques that converge in one propagation round."""
    from bigdata_deepfakeanalysis_spark.operators.dedup import (
        aug_docs,
        lsh_candidate_pairs,
        minhash_bands,
    )

    return lsh_candidate_pairs(
        minhash_bands(aug_docs(spark, SF_DIR))
    ).localCheckpoint(eager=True)


@pytest.mark.parametrize(
    "graph", ["empty", "self_pair", "one_pair", "path300", "grid40", "lsh"]
)
def test_components_variants_give_component_minima(
    spark, lsh_cliques, graph
):
    """Both connected-components variants label every node with its
    component minimum on degenerate, deep (path, grid) and clique
    (LSH candidate) graphs, and return on the empty and tiny ones."""
    from bigdata_deepfakeanalysis_spark.operators.dedup import (
        connected_components,
        connected_components_star,
    )

    if graph == "lsh":
        pairs = lsh_cliques
        edges = [(r.doc_a, r.doc_b) for r in pairs.collect()]
    else:
        edges = {
            "empty": [],
            "self_pair": [(5, 5)],
            "one_pair": [(3, 9)],
            "path300": [(i, i + 1) for i in range(299)],
            "grid40": _grid_edges(40),
        }[graph]
        pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    expected = _component_minima(edges)
    assert expected or graph == "empty"
    for cc in (connected_components, connected_components_star):
        got = {(r.id, r.component) for r in cc(pairs).collect()}
        assert got == expected, cc.__name__


def test_components_round_runs_no_count_job(spark, lsh_cliques):
    """On one-round cliques the build is one round, and the operator
    pins nothing of its own: the seed labels and round 0 read one
    shuffle of the edge list, and the changed-count rides on the
    round's checkpoint job as an observed metric. That is 3 jobs under
    AQE: the edge and the neighbor-min shuffle map stages, and the
    checkpoint's result job. An edge pin (+1), a seed that shuffles the
    edges again (+1), a separate count job (+2 under AQE), a seed pin
    (+2) or a runtime broadcast of the round's labels side (+1) would
    show here."""
    from bigdata_deepfakeanalysis_spark.operators.dedup import (
        connected_components,
    )

    jobs = jobs_of(spark, lambda: connected_components(lsh_cliques))
    assert jobs == 3, jobs


def test_components_nullable_ids_share_the_edge_shuffle(spark):
    """Nullable id columns run the same 3 build jobs as NOT NULL ones:
    the operator drops pairs with a NULL endpoint above the shared
    edge shuffle, so Catalyst infers no not-null filter below it (that
    split the exchange: +2 jobs). A pair with a NULL endpoint is no
    edge: the labels are union-find over the non-null pairs."""
    from bigdata_deepfakeanalysis_spark.operators.dedup import (
        connected_components,
    )

    def build_jobs(schema):
        pairs = spark.createDataFrame([(1, 2)], schema).localCheckpoint(
            eager=True
        )
        return jobs_of(spark, lambda: connected_components(pairs))

    assert build_jobs("doc_a long not null, doc_b long not null") == 3
    assert build_jobs("doc_a long, doc_b long") == 3

    edges = [(1, 2), (2, 3), (7, 8)]
    with_nulls = edges + [(3, None), (None, 9), (None, None), (5, None)]
    pairs = spark.createDataFrame(with_nulls, "doc_a long, doc_b long")
    got = {
        (r.id, r.component) for r in connected_components(pairs).collect()
    }
    assert got == _component_minima(edges)


def test_components_exact_on_duplicate_edges_and_self_loops(spark):
    """The edge list is not deduplicated: every edge given three times
    in both directions, plus self-loops (one on an isolated node),
    still gives the union-find component minima."""
    from bigdata_deepfakeanalysis_spark.operators.dedup import (
        connected_components,
    )

    edges = _grid_edges(6) + [(9, 70), (70, 71)]
    noisy = 3 * (edges + [(b, a) for a, b in edges])
    noisy += [(0, 0), (70, 70), (500, 500), (500, 500)]
    pairs = spark.createDataFrame(noisy, "doc_a long, doc_b long")
    got = {
        (r.id, r.component) for r in connected_components(pairs).collect()
    }
    assert got == _component_minima(noisy)
    assert (500, 500) in got


# Every caller of connected_components, by enclosing function, and the
# registered queries that reach each (q_semantic_dedup through
# semantic_dedup_accounting).
_COMPONENTS_CALLERS = {
    "q_dedup_components": "q_dedup_components",
    "q_dup_cluster_sizes": "q_dup_cluster_sizes",
    "semantic_dedup_accounting": "q_semantic_dedup",
    "q_semantic_dedup_lsh": "q_semantic_dedup_lsh",
    "q_record_linkage": "q_record_linkage",
    "q_grid_dbscan": "q_grid_dbscan",
}


def test_components_callers_give_each_edge_once(spark, monkeypatch):
    """connected_components does not deduplicate its edge list (a
    duplicate edge is joined once per copy every round), so each caller
    gives every undirected edge once: the edge list made symmetric has
    no duplicates. The callers are found in the package source, so a
    new one fails here until it is listed."""
    import ast
    import pathlib

    import bigdata_deepfakeanalysis_spark as pkg
    from bigdata_deepfakeanalysis_spark.operators import dedup
    from pyspark.sql import functions as F

    callers = set()
    for p in pathlib.Path(pkg.__file__).parent.rglob("*.py"):
        for fn in ast.walk(ast.parse(p.read_text())):
            if isinstance(fn, ast.FunctionDef) and any(
                isinstance(n, ast.Call)
                and getattr(n.func, "id", None) == "connected_components"
                for n in ast.walk(fn)
            ):
                callers.add(fn.name)
    assert callers == set(_COMPONENTS_CALLERS)

    original = dedup.connected_components
    seen = []

    def checked(pairs, src="doc_a", dst="doc_b", **kw):
        e = pairs.select(F.col(src).alias("s"), F.col(dst).alias("d"))
        sym = e.unionByName(
            e.select(F.col("d").alias("s"), F.col("s").alias("d"))
        )
        seen.append((sym.count(), sym.distinct().count()))
        return original(pairs, src, dst, **kw)

    monkeypatch.setattr(dedup, "connected_components", checked)
    queries = all_queries()
    for name in _COMPONENTS_CALLERS.values():
        seen.clear()
        queries[name](spark, SF_DIR)
        assert seen, name
        for n_sym, n_distinct in seen:
            assert n_sym == n_distinct > 0, (name, n_sym, n_distinct)


def _build_and_write_jobs(spark, name: str) -> int:
    """Jobs of a query's second build plus its noop write: the first
    run fills the session's pinned tables, so the second counts the
    query's own work."""
    q = all_queries()[name]

    def run():
        q(spark, SF_DIR).write.format("noop").mode("overwrite").save()

    run()
    return jobs_of(spark, run)


def test_pagerank_build_and_write_jobs(spark):
    """q_pagerank_copurchase's second build plus its noop write, once
    the shared edge list is pinned: the supersteps' lazy checkpoints
    run their shuffle map stages and the write its result stage,
    18 jobs. A runtime broadcast rewrite of a superstep join
    (+1 each) would show here."""
    jobs = _build_and_write_jobs(spark, "q_pagerank_copurchase")
    assert jobs == 18, jobs


def test_dedup_components_build_and_write_jobs(spark):
    """q_dedup_components's second build plus its noop write, once the
    shared LSH pairs are pinned: one 3-job components round and the
    write's one job over the checkpointed labels, 4 jobs. An edge pin
    inside the operator or a runtime broadcast of the round's labels
    side (+1 each) would show here."""
    jobs = _build_and_write_jobs(spark, "q_dedup_components")
    assert jobs == 4, jobs


# Second build plus noop write of every connected_components caller,
# at the test session's 8 shuffle partitions. The operator pins no
# edges, so the callers own the pin: the LSH callers pass pinned
# pairs, both semantic-dedup paths pin their cosine pairs, and so does
# q_grid_dbscan, whose cell grid takes several rounds (without: 30).
# q_record_linkage converges in one round and pins none (with: 16).
_COMPONENTS_CALLER_JOBS = {
    "q_dedup_components": 4,
    "q_dup_cluster_sizes": 11,
    "q_semantic_dedup": 20,
    "q_semantic_dedup_lsh": 14,
    "q_record_linkage": 15,
    "q_grid_dbscan": 28,
}


def test_components_callers_build_and_write_jobs(spark):
    """A caller that stops pinning pairs that are expensive to
    recompute, or starts pinning pairs that are cheap, changes its
    exact job count here."""
    assert set(_COMPONENTS_CALLER_JOBS) == set(_COMPONENTS_CALLERS.values())
    got = {
        name: _build_and_write_jobs(spark, name)
        for name in _COMPONENTS_CALLER_JOBS
    }
    assert got == _COMPONENTS_CALLER_JOBS, got


def test_pinned_evicts_stale_applications(spark):
    """session.pinned builds once per (live application, sf_dir, key),
    and every call drops and unpersists the entries of other
    applications, also when their handle is dead."""
    from bigdata_deepfakeanalysis_spark import session

    class Stale:
        unpersisted = False

        def unpersist(self):
            Stale.unpersisted = True

    class Dead:
        def unpersist(self):
            raise RuntimeError("JVM gone")

    stale = ("app-gone", "/x", "k")
    dead = ("app-dead", "/x", "k")
    session._PINNED[stale] = Stale()
    session._PINNED[dead] = Dead()
    builds = []

    def build():
        builds.append(1)
        return spark.range(3)

    try:
        first = session.pinned(spark, SF_DIR, "test-key", build)
        again = session.pinned(spark, SF_DIR + "/.", "test-key", build)
        assert Stale.unpersisted
        assert stale not in session._PINNED and dead not in session._PINNED
        assert again is first and len(builds) == 1
        assert sorted(r.id for r in first.collect()) == [0, 1, 2]
    finally:
        app = spark.sparkContext.applicationId
        session._PINNED.pop(
            (app, os.path.realpath(SF_DIR), "test-key"), None
        )


def test_quality_dedup_prefers_clean_case_originals(spark):
    """Every duplicate group's survivor must be the original (clean
    case ⇒ higher quality), never the planted SHOUTY re-post."""
    from bigdata_deepfakeanalysis_spark.registry import all_queries

    from .conftest import SF_DIR

    rows = all_queries()["q_quality_dedup"](spark, SF_DIR).collect()
    assert len(rows) > 0
    assert all(r.survivor < 3000000 for r in rows)
    assert all(r.n_copies >= 2 for r in rows)


def test_lm_score_bounded_and_total(spark):
    """Mean transition probability lies in (0, 1]; every multi-token
    doc is scored."""
    from pyspark.sql import functions as F

    from bigdata_deepfakeanalysis_spark.catalog import table
    from bigdata_deepfakeanalysis_spark.registry import all_queries

    from .conftest import SF_DIR

    scored = all_queries()["q_lm_quality_score"](spark, SF_DIR)
    stats = scored.agg(
        F.count(F.lit(1)).alias("n"),
        F.min("lm_score").alias("lo"),
        F.max("lm_score").alias("hi"),
    ).collect()[0]
    n_docs = table(spark, SF_DIR, "documents").count()
    assert stats.n == n_docs  # every doc has >= 2 tokens in the fixture
    assert 0 < stats.lo <= stats.hi <= 1.0


def test_snm_catches_every_planted_suffix_dup(spark):
    """Sorted-neighborhood recall on the planted suffix variants must
    be 100%: the variant shares its original's 40-char sort prefix, so
    they sort adjacent (doc_id tiebreak) and the capped edit distance
    is <= 14."""
    from bigdata_deepfakeanalysis_spark.catalog import table
    from bigdata_deepfakeanalysis_spark.registry import all_queries

    from .conftest import SF_DIR

    pairs = {
        (r.doc_a, r.doc_b)
        for r in all_queries()["q_snm_dedup"](spark, SF_DIR).collect()
    }
    planted = [
        r.doc_id
        for r in table(spark, SF_DIR, "documents")
        .where("doc_id % 5 = 0")
        .select("doc_id")
        .collect()
    ]
    assert planted
    missing = [d for d in planted if (d, d + 1000000) not in pairs]
    assert not missing, missing


def test_edit_distance_join_finds_every_planted_deletion(spark):
    """The prefix filter is lossless for ed <= k: every planted
    single-char-deletion variant must pair with its original."""
    from pyspark.sql import functions as F

    from bigdata_deepfakeanalysis_spark.catalog import table

    got = {
        (r.doc_a, r.doc_b)
        for r in all_queries()["q_edit_distance_join"](spark, SF_DIR).collect()
    }
    planted = {
        (r.doc_id, r.doc_id + 5000000)
        for r in table(spark, SF_DIR, "documents")
        .where((F.col("doc_id") % 7 == 0) & (F.length("text") >= 2))
        .select("doc_id")
        .collect()
    }
    missing = planted - got
    assert not missing, f"planted pairs missed: {sorted(missing)[:5]}"


def test_containment_finds_planted_wrappers(spark):
    """Every planted wrapper (short prefix of doc d republished as
    doc d+2000000) must surface as a containment>=0.9 pair with its
    host, while its Jaccard stays low (the asymmetric-metric point)."""
    from bigdata_deepfakeanalysis_spark.registry import all_queries

    from .conftest import SF_DIR

    rows = all_queries()["q_containment_dedup"](spark, SF_DIR).collect()
    pairs = {(r.small_id, r.big_id): r for r in rows}
    planted = [
        (d + 2000000, d) for d in range(0, 300, 30)
    ]
    found = []
    for wrapper, host in planted:
        # the smaller shingle set takes the small_id slot — a very
        # short host can flip the orientation
        r = pairs.get((wrapper, host)) or pairs.get((host, wrapper))
        assert r is not None, (wrapper, host)
        assert r.containment >= 0.8
        found.append(r)
    # the asymmetric-metric point: at least one planted pair has HIGH
    # containment but LOW Jaccard (a long host dilutes the symmetric
    # score below any dedup threshold)
    assert any(r.jaccard < 0.5 for r in found), found


def test_normalized_dedup_collapses_planted_republications(spark):
    """Every planted case/whitespace-mangled republication must fall
    into a 2-copy group (histogram shows exactly 16 such groups for
    the 400-doc fixture at sf0.01)."""
    from bigdata_deepfakeanalysis_spark.registry import all_queries

    from .conftest import SF_DIR

    rows = {r.n_copies: r for r in
            all_queries()["q_normalized_exact_dedup"](spark, SF_DIR).collect()}
    assert 2 in rows, rows
    assert rows[2].n_groups >= 16
    # survivors are the ORIGINAL ids (min-id rule)
    assert rows[2].min_survivor < 3000000


def test_adaptive_planes_rule_mirrors_sql_and_buckets_agree(
    spark, monkeypatch
):
    """r11 adaptive coarse stage: (a) the Python integer-doubling
    plane rule and its DuckDB CTE mirror must pick the IDENTICAL
    plane count for every corpus size, including exact power-of-two
    boundaries (a float-log formulation can flip by 1 ulp there);
    (b) with the plane count forced ABOVE the 4-plane floor, the
    gated bucket SQL must produce bit-identical bucket ids to
    Spark's lsh_bucket at _N_PLANES=P — the p-gating arithmetic is
    the only code path the grading-scale oracle (P=4) never
    exercises. The occupancy target and plane count are module
    constants read on the driver; (b) patches them."""
    import duckdb
    import numpy as np

    from bigdata_deepfakeanalysis_spark.operators import similarity as S
    from bigdata_deepfakeanalysis_spark.operators.similarity import (
        adaptive_bucket_sql,
        adaptive_planes,
        lsh_bucket,
    )

    # (a) rule mirror across boundaries: target*2^p == n exactly,
    # +-1, tiny, huge (beyond the hi cap)
    counts = [1, 1499, 1500 * 16 - 1, 1500 * 16, 1500 * 16 + 1,
              1500 * 128, 1500 * 128 + 1, 10**7, 10**12]
    con = duckdb.connect()
    for n in counts:
        want = adaptive_planes(n)
        got = con.execute(
            "WITH nrow AS (SELECT CAST(? AS BIGINT) AS n), "
            "np AS (SELECT COALESCE(MIN(p), 12) AS np "
            "FROM (SELECT UNNEST(range(4, 13)) AS p) pp, nrow "
            "WHERE 1500 * (1 << p) >= n) SELECT np FROM np",
            [n],
        ).fetchone()[0]
        assert got == want, (n, got, want)

    # (b) bucket identity above the floor: 40 vectors, target=2
    # forces np=5 (2*2^5=64 >= 40 > 2*2^4=32)
    rng = np.random.default_rng(9)
    vecs = [rng.standard_normal(64).astype(np.float64) for _ in range(40)]
    q = [np.floor(v * 1048576.0).astype(np.int64) for v in vecs]
    import pyarrow as pa

    con.register(
        "qv_src",
        pa.table(
            {
                "vec_id": pa.array(range(40), pa.int64()),
                "q": pa.array(
                    [[int(x) for x in v] for v in q],
                    pa.list_(pa.int64()),
                ),
            }
        ),
    )
    monkeypatch.setattr(S, "_ADAPTIVE_TARGET", 2)
    sql = adaptive_bucket_sql("qv_src")
    duck_buckets = dict(
        con.execute(
            f"WITH qv AS (SELECT vec_id, q FROM qv_src), {sql.strip()} "
            "SELECT vec_id, bucket FROM buckets ORDER BY vec_id"
        ).fetchall()
    )
    n_planes = adaptive_planes(40)
    assert n_planes == 5
    monkeypatch.setattr(S, "_N_PLANES", n_planes)
    sdf = spark.createDataFrame(
        [(i, [int(x) for x in v]) for i, v in enumerate(q)],
        "vec_id int, q array<bigint>",
    ).withColumn("bucket", lsh_bucket("q"))
    spark_buckets = {r.vec_id: r.bucket for r in sdf.collect()}
    assert spark_buckets == duck_buckets
    assert max(duck_buckets.values()) >= 16  # planes past the floor used
    con.close()


def test_adaptive_lsh_bucket_production_path_and_hi_fallback(
    spark, monkeypatch
):
    """ADVICE r11: the (a)-(b) parity test above never ran the
    PRODUCTION adaptive_lsh_bucket path — the gated CASE column, the
    in-plan count broadcast, and the empty-filter fallback — which is
    what hid the ANSI element_at crash. Pin all three here:
    (1) above the 4-plane floor, adaptive_lsh_bucket must equal
    lsh_bucket at _N_PLANES=adaptive_planes(n) row-for-row;
    (2) with n PAST target*2^hi (every plane saturated, the filtered
    array empty) the hi fallback must ENGAGE — under default ANSI mode
    plain element_at throws INVALID_ARRAY_INDEX_IN_ELEMENT_AT there,
    so this case is the crash regression test — and the buckets must
    equal the fixed hi-plane form."""
    import numpy as np

    from bigdata_deepfakeanalysis_spark.operators import similarity as S
    from bigdata_deepfakeanalysis_spark.operators.similarity import (
        adaptive_lsh_bucket,
        adaptive_planes,
        lsh_bucket,
    )

    def fixed_planes(df, n_planes):
        with monkeypatch.context() as m:
            m.setattr(S, "_N_PLANES", n_planes)
            return df.withColumn("bucket", lsh_bucket("_q"))

    rng = np.random.default_rng(9)
    q = [
        [int(x) for x in np.floor(
            rng.standard_normal(64) * 1048576.0).astype(np.int64)]
        for _ in range(40)
    ]
    sdf = spark.createDataFrame(
        [(i, v) for i, v in enumerate(q)], "vec_id int, _q array<bigint>"
    )

    # (1) production path above the floor: n=40, target=2 -> np=5
    monkeypatch.setattr(S, "_ADAPTIVE_TARGET", 2)
    np5 = adaptive_planes(40)
    assert np5 == 5
    got = {
        r.vec_id: r.bucket
        for r in adaptive_lsh_bucket(sdf).collect()
    }
    want = {r.vec_id: r.bucket for r in fixed_planes(sdf, np5).collect()}
    assert got == want
    assert max(got.values()) >= 16  # gated planes past the floor fired

    # (2) hi fallback: 2 * 2^3 = 16 < 40, filter() comes back empty ->
    # np must fall back to hi=3 instead of throwing
    monkeypatch.setattr(S, "_ADAPTIVE_LO", 2)
    monkeypatch.setattr(S, "_ADAPTIVE_HI", 3)
    assert adaptive_planes(40) == 3
    got_hi = {
        r.vec_id: r.bucket
        for r in adaptive_lsh_bucket(sdf).collect()
    }
    want_hi = {r.vec_id: r.bucket for r in fixed_planes(sdf, 3).collect()}
    assert got_hi == want_hi
    assert max(got_hi.values()) <= 7  # only 3 planes -> bucket < 8


def test_cosine_pairs_strip_chunking_preserves_pairs(spark, monkeypatch):
    """r12: the sf25 probe caught cosine_pairs' block kernel
    materializing the FULL within-block cosine matrix (669 GiB on a
    300k-vector block) — quadratic memory where only quadratic FLOPs
    are declared. The kernel now strips its matmul like the kNN /
    mutual-NN tile kernels (~32 MB row blocks). Strip boundaries must
    not change the pair set: force 1-row strips over duplicate-heavy
    vectors (exact cosine-1 twins land on both sides of every
    boundary) and require output identical to the single-strip run."""
    import numpy as np
    from pyspark.sql import functions as F

    from bigdata_deepfakeanalysis_spark.operators import similarity as S
    from bigdata_deepfakeanalysis_spark.operators.dedup import cosine_pairs

    rng = np.random.default_rng(7)
    base = [rng.standard_normal(16) for _ in range(5)]
    rows = [
        (i, (np.asarray(base[i % 5]) * (1.0 + 0.001 * (i // 5))).tolist())
        for i in range(25)
    ]
    sdf = spark.createDataFrame(
        rows, "vec_id long, vec array<double>"
    ).withColumn("blk", F.lit(1))

    def canon(df):
        return sorted(
            (r.vec_a, r.vec_b, r.cosine) for r in df.collect()
        )

    monkeypatch.setattr(S, "_TILE_STRIP_ELEMS", 10**9)
    one = canon(cosine_pairs(sdf, "blk", 0.999))
    monkeypatch.setattr(S, "_TILE_STRIP_ELEMS", 1)  # 1-row strips
    many = canon(cosine_pairs(sdf, "blk", 0.999))
    assert many == one
    assert len(one) > 0  # scaled twins: cosine exactly 1 >= 0.999


def test_adaptive_sample_rule_mirrors_sql_and_thresholds_agree(
    spark, monkeypatch
):
    """r12 adaptive audit sample: (a) the Python integer-doubling
    halving rule and its DuckDB CTE mirror must pick the IDENTICAL
    halving count for every corpus size including exact boundaries;
    (b) the threshold literals must select exactly fraction 1/2^k
    under bytewise string comparison at every hex-digit width; (c)
    the PRODUCTION adaptive_sample path (in-plan count broadcast,
    CASE threshold, md5 filter) must equal the direct
    md5 < sample_threshold(adaptive_sample_k(n)) filter row-for-row,
    including the hi fallback. (c) patches the driver-read constants
    _SAMPLE_TARGET and _SAMPLE_HI."""
    import duckdb

    from bigdata_deepfakeanalysis_spark.operators import similarity as S
    from bigdata_deepfakeanalysis_spark.operators.similarity import (
        adaptive_sample,
        adaptive_sample_k,
        adaptive_sample_sql,
        sample_threshold,
    )

    # (a) rule mirror across boundaries
    counts = [1, 11999, 12000 * 2 - 1, 12000 * 2, 12000 * 2 + 1,
              12000 * 256, 12000 * 256 + 1, 10**7, 10**12, 10**15]
    con = duckdb.connect()
    for n in counts:
        want = adaptive_sample_k(n)
        got = con.execute(
            "WITH snrow AS (SELECT CAST(? AS BIGINT) AS n), "
            "sk AS (SELECT COALESCE(MIN(k), 30) AS k "
            "FROM (SELECT UNNEST(range(1, 31)) AS k) kk, snrow "
            "WHERE 12000 * (1 << k) >= n) SELECT k FROM sk",
            [n],
        ).fetchone()[0]
        assert got == want, (n, got, want)
        # the full CTE block must emit the matching literal
        cte = adaptive_sample_sql("dummy_src").strip().replace(
            "snrow AS (SELECT COUNT(*) AS n FROM dummy_src)",
            f"snrow AS (SELECT CAST({n} AS BIGINT) AS n)",
        )
        thr = con.execute(
            f"WITH {cte} SELECT thr FROM sthr"
        ).fetchone()[0]
        assert thr == sample_threshold(want), (n, thr, want)

    # (b) literal widths: k=1 is the historical '8'; each k selects
    # 1/2^k of an exhaustive 2-hex-digit prefix space
    assert sample_threshold(1) == "8"
    assert sample_threshold(4) == "1"
    assert sample_threshold(5) == "08"
    assert sample_threshold(8) == "01"
    assert sample_threshold(9) == "008"
    prefixes = [format(i, "02x") for i in range(256)]
    for k in range(1, 9):
        frac = sum(1 for p in prefixes if p < sample_threshold(k)) / 256
        assert frac == 1.0 / (1 << k), (k, frac)

    # (c) production path vs direct filter: n=40, target=8 -> k=3
    # ('2'); hi fallback: hi=2 -> k=2 ('4')
    from pyspark.sql import functions as F

    sdf = spark.range(40).select(F.col("id").alias("vec_id"))
    monkeypatch.setattr(S, "_SAMPLE_TARGET", 8)
    assert adaptive_sample_k(40) == 3
    got = sorted(
        r.vec_id
        for r in adaptive_sample(sdf).collect()
    )
    want_ids = sorted(
        r.vec_id
        for r in sdf.where(
            F.md5(F.col("vec_id").cast("string")) < sample_threshold(3)
        ).collect()
    )
    assert got == want_ids and 0 < len(got) < 40
    monkeypatch.setattr(S, "_SAMPLE_HI", 2)
    assert adaptive_sample_k(40) == 2
    got_hi = sorted(
        r.vec_id
        for r in adaptive_sample(sdf).collect()
    )
    want_hi = sorted(
        r.vec_id
        for r in sdf.where(
            F.md5(F.col("vec_id").cast("string")) < sample_threshold(2)
        ).collect()
    )
    assert got_hi == want_hi
    con.close()


def test_components_result_runs_one_job(spark):
    """q_dedup_components returns its labels unsorted: after the build
    (which runs the component rounds), writing the result runs one job
    over the checkpointed labels, with no RangePartitioner sampling job
    or range-shuffle map job (a root orderBy runs 3)."""
    df = all_queries()["q_dedup_components"](spark, SF_DIR)
    write = df.write.format("noop").mode("overwrite")
    assert jobs_of(spark, write.save) == 1
