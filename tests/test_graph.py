"""Graph operators on degenerate inputs: the empty edge list and a
single edge give exact results (checked against plain-Python
references of the same integer recurrences), never a hang."""

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
