#!/usr/bin/env python
"""Scaling-curve probe for the heaviest query families (r11 VERDICT
task 3): measure time(sf5)/time(sf1) against the 5x row growth, so the
100-TB design claims rest on a measured curve, not only on plan shape
+ adversarial unit tests.

Stages an sf5-equivalent (50 key-shifted, content-perturbed copies of
sf0.1 — tools/stage_sf1.py's mechanism at copies=50) next to the sf1
staging, then times each probe query INTERLEAVED A=sf1 / B=sf5 in one
tuned session with bench.py's harness (`bench.warm` of the page cache,
`bench.time_query`; one discarded warmup per arm, min of --runs).
Interleaving makes the ratio host-load-proof; absolute times are not
comparable across sessions (co-tenant host load).

Prints one JSON line per query:
    {"query", "sf1_sec", "sf5_sec", "ratio", "rows_ratio": 5.0,
     "runs_sf1": [...], "runs_sf5": [...]}
and a trailing summary line. Perf evidence only — the staged dirs are
never oracle inputs.

Usage: python tools/scale_probe.py [--runs 2] [--arms sf1,sf5]
           [q_name ...]

--arms picks the two interleaved measurement points (r12 adds sf25 =
250 copies for the adaptive-quantizer families, where the integer-
doubling plane rule crosses its next doubling): each arm is sf1 (the
bench's 10-copy staging) or sf<K> (a K*10-copy staging via
stage_scale). The reported rows_ratio is armB_copies / armA_copies.
"""
from __future__ import annotations

import json
import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from bench import time_query, warm

# the three families the VERDICT names (MinHash/LSH dedup, tile-grid
# mutual-NN/kNN, PageRank/LPA) + two linear references (exact dedup,
# TPC-H join-agg) to anchor what "near-linear" looks like on this host
DEFAULT_PROBES = [
    "q_exact_dedup",            # linear reference: hash groupBy
    "q5_regional_revenue",      # linear reference: join + agg
    "q_minhash_near_dup",       # MinHash K=12 + banded LSH join
    "q_semantic_dedup_lsh",     # sign-LSH coarse -> blocked cosine -> CC
    "q_mutual_nn_alignment",    # tile-grid all-pairs (O(|A||B|) FLOPs
                                # by declared-exact semantics; BLAS
                                # absorbs the 25x FLOP growth at these
                                # sizes — measured 2.5x at 5x rows)
    "q_knn_classifier",         # same grid + BLAS kernel, 5-NN holdout
                                # (the r9 join-fold form measured DNF
                                # here — the r11 rewrite's motivation)
    "q_pagerank_copurchase",    # 3 supersteps on top-E edge list
    "q_lpa_communities",        # label propagation on top-E edge list
]

def main() -> int:
    runs = 2
    arms = ("sf1", "sf5")
    stage_tables = None
    names: list[str] = []
    argv = iter(sys.argv[1:])
    for a in argv:
        if a == "--runs":
            runs = int(next(argv))
        elif a == "--arms":
            arms = tuple(next(argv).split(","))
            assert len(arms) == 2, "--arms wants exactly two, e.g. sf5,sf25"
        elif a == "--tables":
            # restrict NEW scale stagings to the fact tables the probe
            # queries actually read (e.g. documents,embeddings for the
            # adaptive-quantizer families) — an sfK arm needing more
            # tables later upgrades the same dir in place
            stage_tables = set(next(argv).split(","))
        else:
            names.append(a)
    names = names or DEFAULT_PROBES

    from bigdata_deepfakeanalysis_spark.registry import all_queries
    from bigdata_deepfakeanalysis_spark.session import get_spark
    from tools.stage_sf1 import sf1_dir, scale_dir, stage, stage_scale

    spark = get_spark("scale-probe")

    def arm_dir(label: str):
        """Resolve + stage an arm: 'sf1' is the bench's own staging;
        'sf<K>' is a K*10-copy scale staging. Returns (dir, copies)."""
        if label == "sf1":
            d = sf1_dir()
            if not (d / ".complete").exists():
                stage(spark)
            return d, 10
        assert label.startswith("sf"), label
        copies = int(label[2:]) * 10
        d = scale_dir(label)
        if not (d / ".complete").exists():
            print(
                f"staging {label} ({copies} copies of sf0.1)...",
                file=sys.stderr,
            )
            stage_scale(spark, label, copies, stage_tables)
        return d, copies

    d1, copies_a = arm_dir(arms[0])
    d5, copies_b = arm_dir(arms[1])
    rows_ratio = copies_b / copies_a
    warm(spark, str(d1), cache=False)
    warm(spark, str(d5), cache=False)

    qs = all_queries()

    def run_once(name: str, d: str) -> float:
        return time_query(lambda: qs[name](spark, d), 1)[0]

    results = []
    for name in names:
        if name not in qs:
            print(json.dumps({"query": name, "err": "unknown"}))
            continue
        run_once(name, str(d1))  # warmup (codegen, broadcast caches)
        run_once(name, str(d5))
        a, b = [], []
        for _ in range(runs):
            a.append(round(run_once(name, str(d1)), 3))
            b.append(round(run_once(name, str(d5)), 3))
        row = {
            "query": name,
            f"{arms[0]}_sec": min(a),
            f"{arms[1]}_sec": min(b),
            "ratio": round(min(b) / max(min(a), 1e-9), 2),
            "rows_ratio": rows_ratio,
            f"runs_{arms[0]}": a,
            f"runs_{arms[1]}": b,
        }
        results.append(row)
        print(json.dumps(row), flush=True)

    print(
        json.dumps(
            {
                "summary": {
                    r["query"]: r["ratio"] for r in results
                },
                "arms": list(arms),
                "rows_ratio": rows_ratio,
                "runs": runs,
            }
        )
    )
    return 0


if __name__ == "__main__":
    os.environ.setdefault("SPARK_GRAFT_CPUS", "32")
    raise SystemExit(main())
