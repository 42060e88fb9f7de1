#!/usr/bin/env python
"""Interleaved timing harness for named registry queries, for
adjudicating cross-round bench moves.

Usage:
    python tools/time_queries.py q_name [q_name ...]
        [--sf-dir DIR | --sf1] [--runs 3]
        [--ab key=value]          # arm B sets this conf, arm A unsets

Boots the bench's session (`session.get_spark`, local[$SPARK_GRAFT_CPUS])
and warms it the way bench.py does at that scale (`bench.warm`: tables
cached, or only the page cache for --sf1), then per query one discarded
warmup run and `--runs` timed runs (`bench.time_query`), interleaved
A/B when --ab is given. Only interleaved numbers are comparable;
absolute times swing 2-5x with host load. Prints one JSON line per
query: {"query", "sf_dir", "runs": [...], "min", plus "runs_b"/"min_b"
under --ab}.
"""
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import SF_DIR, time_query, warm


def main() -> int:
    names: list = []
    runs = 3
    ab = None
    sf_dir = SF_DIR
    cache = True
    argv = iter(sys.argv[1:])
    for a in argv:
        if a == "--runs":
            runs = int(next(argv))
        elif a == "--sf-dir":
            sf_dir = next(argv)
        elif a == "--sf1":
            from tools.stage_sf1 import sf1_dir

            p = sf1_dir()
            assert (p / ".complete").exists(), "stage sf1 first"
            sf_dir = str(p)
            cache = False
        elif a == "--ab":
            ab = next(argv).split("=", 1)
        elif a.startswith("--"):
            print(f"unknown option {a}", file=sys.stderr)
            return 2
        else:
            names.append(a)

    from bigdata_deepfakeanalysis_spark.registry import all_queries
    from bigdata_deepfakeanalysis_spark.session import get_spark

    qs = all_queries()
    unknown = [n for n in names if n not in qs]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        return 2

    spark = get_spark("time-queries")
    warm(spark, sf_dir, cache)

    for name in names:
        def build():
            return qs[name](spark, sf_dir)

        time_query(build, 1)  # discard: JIT + shuffle-dir warm
        times_a, times_b = [], []
        for _ in range(runs):
            if ab is not None:
                spark.conf.unset(ab[0])
            times_a += time_query(build, 1)
            if ab is not None:
                spark.conf.set(ab[0], ab[1])
                times_b += time_query(build, 1)
        out = {
            "query": name,
            "sf_dir": sf_dir,
            "runs": [round(t, 3) for t in times_a],
            "min": round(min(times_a), 3),
        }
        if ab is not None:
            out["ab_conf"] = f"{ab[0]}={ab[1]}"
            out["runs_b"] = [round(t, 3) for t in times_b]
            out["min_b"] = round(min(times_b), 3)
        print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
