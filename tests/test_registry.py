"""Registry window contract: the driver hash-checks exactly the first
50 queries in ``queries()`` iteration order, so the window must (a) be
exactly 50 real names, (b) lead iteration order, and (c) cover every
operator module — the round-2 failure mode was whole modules (ml,
streaming, multimodal, sources, bucketing) never receiving a driver
row because they registered after slot 50."""

from __future__ import annotations

from bigdata_deepfakeanalysis_spark import registry


def test_window_is_exactly_50_unique_registered_names():
    win = registry.window()
    assert len(win) == 50
    assert len(set(win)) == 50
    qs = registry.all_queries()
    missing = [n for n in win if n not in qs]
    assert not missing, f"window names not registered: {missing}"


def test_window_leads_iteration_order():
    first50 = list(registry.all_queries())[:50]
    assert first50 == registry.window()
    # oracles iterate in the same priority order (driver zips by key,
    # but keep both surfaces consistent anyway)
    oracle_names = list(registry.all_oracles())
    windowed_oracles = [n for n in registry.window() if n in oracle_names]
    assert oracle_names[: len(windowed_oracles)] == windowed_oracles


def _driver_green_names() -> set[str]:
    """Names whose LATEST driver grade is hash-green — shared with the
    coverage ledger via tools.recount_union.green_names() so the
    module-coverage exemption and the ledger arithmetic can never use
    two different green predicates (code-review r9 finding)."""
    from tools.recount_union import green_names

    return green_names()


def test_window_covers_every_query_module():
    """Every operator module must be driver-verified: either a query of
    its sits in the current 50-slot window, or EVERY query it registers
    already carries a hash-green row in a committed CORRECTNESS
    artifact (r9 amendment — after r8 the never-graded residue lives
    entirely in text/advanced/relational, so forcing one filler per
    fully-green module would burn 16 of 50 slots re-grading queries
    the driver already verified; VERDICT r8 task 1 targets a ≥45-fresh
    window). The rule's intent — no module ever escapes driver grading
    — is preserved: a module with ANY ungraded or failed query still
    requires a window slot."""
    qs = registry.all_queries()
    win = set(registry.window())
    green = _driver_green_names()
    by_module: dict[str, list[str]] = {}
    for name, fn in qs.items():
        by_module.setdefault(fn.__module__, []).append(name)
    uncovered = {
        mod: sorted(set(names) - green)
        for mod, names in by_module.items()
        if not (set(names) & win) and not set(names) <= green
    }
    assert not uncovered, (
        f"modules with no windowed query AND ungraded residue: {uncovered}"
    )


def test_all_queries_registered_beyond_window_still_present():
    qs = registry.all_queries()
    assert len(qs) >= 96  # nothing dropped by the reorder


def test_coverage_ledger_matches_artifacts():
    """COVERAGE.md embeds a machine-readable union line that
    tools/recount_union.py derives from the committed
    CORRECTNESS_r*.json artifacts — this re-derivation pins the
    ledger's arithmetic to the artifacts so it cannot drift again
    (VERDICT r8 finding 2: a hand-added '46 fresh' was really 45)."""
    import os
    import re

    from tools.recount_union import machine_line, recount

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "COVERAGE.md")) as f:
        text = f.read()
    m = re.search(r"<!-- union-recount:.*?-->", text)
    assert m, "COVERAGE.md lost its union-recount line"
    assert m.group(0) == machine_line(recount()), (
        "COVERAGE.md union line is stale — run "
        "`python tools/recount_union.py --update-coverage`"
    )


def test_bench_census_covers_registry():
    """Bench census as a contract: bench.py times every registered
    query except the ones bench.UNBENCHED excuses, each with a reason
    from the documented vocabulary. A new query is benched by default;
    an excuse for a name that is not registered fails here, and the
    benched count is pinned, so a new excuse or query is a visible
    change to this test."""
    import bench

    qs = set(registry.all_queries())
    stale = sorted(set(bench.UNBENCHED) - qs)
    assert not stale, f"excused but unregistered: {stale}"
    allowed = {"scalar-demo", "staged-io", "eager-ml", "stream-sibling"}
    bad = {n: r for n, r in bench.UNBENCHED.items() if r not in allowed}
    assert not bad, f"unknown census reasons: {bad}"
    assert len(bench.benched()) == 341
