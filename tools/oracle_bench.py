#!/usr/bin/env python
"""Time the DuckDB oracle SQL for each benched-and-oracled registry
query at $SPARK_GRAFT_SF_DIR (default sf0.1) — the judge's yardstick.

Prints one JSON line {"queries": {name: sec}, "timeouts": [...],
"total": sec} so the Spark/DuckDB per-query ratio can be inspected
without guessing.

Some oracles are deliberately NAIVE formulations of queries whose
Spark form is blocked/bucketed (the recursive transitive-closure
oracle behind q_semantic_dedup_lsh needs ~341 s at sf0.1 where the
Spark composition takes ~1 s — that asymmetry IS the design win being
verified). A per-query wall-clock cap ($ORACLE_BENCH_TIMEOUT, default
60 s) interrupts those instead of stalling the whole tool; capped
names are reported under "timeouts", not silently dropped.
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from bench import SF_DIR, benched
from bigdata_deepfakeanalysis_spark.catalog import TABLES
from bigdata_deepfakeanalysis_spark.registry import all_oracles

PER_QUERY_TIMEOUT = float(os.environ.get("ORACLE_BENCH_TIMEOUT", "60"))


def main() -> None:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF_DIR}/{t}.parquet')"
        )
    oracles = all_oracles()
    # warm the OS page cache the way bench.py's .cache() warms Spark
    for t in TABLES:
        con.execute(f"SELECT count(*) FROM {t}").fetchall()

    def timed_attempt(sql: str) -> float | None:
        """Run one attempt under a fresh watchdog. Returns elapsed
        seconds, or None on interrupt. ``done`` is set IMMEDIATELY
        after fetchall() returns — any gap between query completion
        and done.set() is a race window where the watchdog fires
        against an idle connection and the pending interrupt aborts
        the NEXT query (advisor finding r6)."""
        done = threading.Event()

        def _watchdog() -> None:
            if not done.wait(PER_QUERY_TIMEOUT):
                con.interrupt()

        w = threading.Thread(target=_watchdog, daemon=True)
        t0 = time.time()
        w.start()
        try:
            con.execute(sql).fetchall()
            done.set()
            return time.time() - t0
        except duckdb.InterruptException:
            return None
        finally:
            done.set()
            w.join()

    timings: dict[str, float] = {}
    timeouts: list[str] = []
    for name in benched():
        sql = oracles.get(name)
        if sql is None:
            continue
        t0 = time.time()
        elapsed = timed_attempt(sql)
        if elapsed is None and time.time() - t0 < PER_QUERY_TIMEOUT:
            # interrupted well before the deadline: a stale interrupt
            # left over from a prior query's watchdog race, not a
            # genuine timeout — retry once under a fresh watchdog.
            elapsed = timed_attempt(sql)
        if elapsed is None:
            timeouts.append(name)
            print(
                f"TIMEOUT >{PER_QUERY_TIMEOUT:.0f}s: {name}",
                file=sys.stderr,
            )
        else:
            timings[name] = round(elapsed, 3)
    print(
        json.dumps(
            {
                "queries": timings,
                "timeouts": timeouts,
                "per_query_timeout_s": PER_QUERY_TIMEOUT,
                "total": round(sum(timings.values()), 3),
            }
        )
    )


if __name__ == "__main__":
    main()
