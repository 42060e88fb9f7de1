"""Graph operators on degenerate inputs: the empty edge list and a
single edge give exact results (checked against plain-Python
references of the same integer recurrences and rounds), never a hang."""

from __future__ import annotations

from collections import Counter

import pytest

_GRAPHS = {"empty": [], "one_edge": [(1, 2)]}


def _pagerank_reference(edges, iters):
    """pagerank_fixed's fixed-point recurrence, serially."""
    from bigdata_deepfakeanalysis_spark.operators.graph import _BASE, _SCALE

    outdeg = Counter(s for s, _ in edges)
    ranks = {n: _SCALE for e in edges for n in e}
    for _ in range(iters):
        got = Counter()
        for s, d in edges:
            got[d] += ranks[s] // outdeg[s]
        ranks = {n: _BASE + (85 * got[n]) // 100 for n in ranks}
    return ranks


def _lpa_reference(edges, rounds):
    """lpa_labels' synchronous rounds, serially: each node takes its
    neighbors' most frequent label, the smallest on a tie."""
    labels = {s: s for s, _ in edges}
    for _ in range(rounds):
        votes = {}
        for s, d in edges:
            if d in labels:
                votes.setdefault(s, Counter())[labels[d]] += 1
        labels = {
            n: min(c, key=lambda lbl: (-c[lbl], lbl))
            for n, c in votes.items()
        }
    return labels


@pytest.mark.parametrize("graph", sorted(_GRAPHS))
def test_pagerank_fixed_on_degenerate_graphs(spark, graph):
    """Directed edges as given: the empty graph has no ranks, and a
    single edge gives both endpoints their exact fixed-point ranks."""
    from bigdata_deepfakeanalysis_spark.operators.graph import (
        _ITERS,
        pagerank_fixed,
    )

    edges = _GRAPHS[graph]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.id: r.rank for r in pagerank_fixed(df).collect()}
    assert got == _pagerank_reference(edges, _ITERS)
    assert len(got) == 2 * len(edges)


@pytest.mark.parametrize("graph", sorted(_GRAPHS))
def test_lpa_labels_on_degenerate_graphs(spark, graph):
    """Undirected edges given in both directions: the empty graph has
    no labels, and the two ends of a single edge swap labels every
    round."""
    from bigdata_deepfakeanalysis_spark.operators.graph import (
        _LPA_ROUNDS,
        lpa_labels,
    )

    edges = _GRAPHS[graph] + [(d, s) for s, d in _GRAPHS[graph]]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.id: r.label for r in lpa_labels(df).collect()}
    assert got == _lpa_reference(edges, _LPA_ROUNDS)
    assert len(got) == len(edges)


def _kcore_reference(edges, k, rounds):
    """kcore_edges' fixed peel rounds, serially."""
    for _ in range(rounds):
        deg = Counter(n for e in edges for n in e)
        edges = [(a, b) for a, b in edges if deg[a] >= k and deg[b] >= k]
    return sorted(edges)


def _bfs_reference(edges, rounds):
    """bfs_distances' rounds, serially, from the smallest ``s1``: on no
    edges the root is None (SQL ``MIN`` over no rows) at distance 0."""
    root = min((a for a, _ in edges), default=None)
    dist = {root: 0}
    for _ in range(rounds):
        step = dict(dist)
        for a, b in edges + [(b, a) for a, b in edges]:
            if a in dist:
                step[b] = min(step.get(b, dist[a] + 1), dist[a] + 1)
        dist = step
    return dist


_K4 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]


@pytest.mark.parametrize("graph", sorted(_GRAPHS) + ["k4"])
def test_kcore_edges_on_degenerate_graphs(spark, graph):
    """The empty graph has no core and a single edge is peeled in the
    first round; K4, where every node has degree 3, is its own
    3-core."""
    from bigdata_deepfakeanalysis_spark.operators.graph import (
        _KCORE_K,
        _KCORE_ROUNDS,
        kcore_edges,
    )

    edges = _K4 if graph == "k4" else _GRAPHS[graph]
    df = spark.createDataFrame(edges, "s1 long, s2 long")
    got = sorted(map(tuple, kcore_edges(df).collect()))
    assert got == _kcore_reference(edges, _KCORE_K, _KCORE_ROUNDS)
    assert got == (_K4 if graph == "k4" else [])


@pytest.mark.parametrize("graph", sorted(_GRAPHS))
def test_bfs_distances_on_degenerate_graphs(spark, graph):
    """A single edge puts its far end one hop from the root. The empty
    graph gives the one row the oracle's ``MIN(s1)`` root gives: a NULL
    root at distance 0. That row pins a known defect (an empty graph
    should give no rows); drop the NULL root in ``bfs_distances`` and
    in the oracle's seed CTE together, then expect ``{}`` here."""
    from bigdata_deepfakeanalysis_spark.operators.graph import (
        _BFS_ROUNDS,
        bfs_distances,
    )

    edges = _GRAPHS[graph]
    df = spark.createDataFrame(edges, "s1 long, s2 long")
    got = {r.id: r.dist for r in bfs_distances(df).collect()}
    assert got == _bfs_reference(edges, _BFS_ROUNDS)
    assert got == ({1: 0, 2: 1} if edges else {None: 0})
