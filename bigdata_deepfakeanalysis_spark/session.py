"""SparkSession factory tuned for the engine.

Designed for a multi-executor cluster (partition sizing, AQE, broadcast
thresholds); tested on local[N]. The driver may hand us an existing
session — ``tune()`` applies only runtime-settable confs in that case.
"""

from __future__ import annotations

import os
from typing import Callable, Hashable

from pyspark.sql import DataFrame, SparkSession

# Runtime-settable confs: safe to apply to an externally-owned session.
_RUNTIME_CONF = {
    # AQE: runtime re-plan (partition coalescing, skew-join splitting,
    # empty-relation propagation). Essential at 100 TB where static
    # estimates are wrong.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Let AQE rewrite a planned sort-merge join to shuffled-hash at
    # runtime when EVERY post-shuffle partition's build side fits 64 MB
    # (guide §3.1): skips both sort passes with a per-partition size
    # gate, so it cannot OOM at corpus scale the way a blind static
    # preferSortMergeJoin=false could (that static flip was A/B'd too:
    # same net win locally, but it trusts planner size estimates —
    # rejected). Interleaved min-of-3 over a 10-query join-heavy
    # subset at sf0.1: net 0.97x, biggest movers q_topk_grouping_sets
    # 3.81->3.04 s, q5 0.95->0.83 s, no structural regression.
    "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold": str(
        64 * 1024 * 1024
    ),
    # No runtime sort-merge -> broadcast rewrite. AQE almost always
    # makes it after BOTH sides' shuffles have run, when it saves no
    # shuffle and adds one broadcast job. Still on: static broadcasts
    # planned from estimates under autoBroadcastJoinThreshold below,
    # the runtime shuffled-hash rewrite above (no extra job), partition
    # coalescing and skew splitting. Lost: a runtime-broadcast probe
    # side reads its shuffle locally, a gain only at cluster scale;
    # where one side's exchange had not run yet, the rewrite saved that
    # shuffle (q_rank_biased_overlap and q_sparse_cosine_pairs were
    # restructured for it); and a cached table whose scan stage has
    # materialized when AQE re-plans a join is sized by runtime stats,
    # so it is no longer broadcast then (q20_dominant_suppliers' part
    # semi-join, in some runs). Whole-bench census (sf0.01, local[4],
    # each query's second build + noop write): jobs 2,223 -> 2,169 and
    # tasks 3,372 -> 3,330 over 341 queries; jobs fall for 26 queries
    # (q_grid_dbscan 40 -> 31, q_pagerank_copurchase 27 -> 20,
    # q_hll_distinct_merge 26 -> 22) and rise for none.
    "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    # Arrow for every pandas UDF / toPandas boundary (SURVEY §2.9).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # Broadcast small dimension tables (region/nation/customer/supplier
    # all qualify at any sane scale; lineitem never does).
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Columnar outputs.
    "spark.sql.parquet.compression.codec": "zstd",
    # Join differently-generation bucketed tables (8 vs 4 buckets)
    # without re-shuffling either side — q_bucket_coalesced_join's
    # layout-evolution guarantee, a no-op for matching layouts.
    "spark.sql.bucketing.coalesceBucketsInJoin.enabled": "true",
    # Wide-aggregate codegen: the SimHash vote (64 SUM columns) and
    # MinHash (12 MIN columns) aggregates exceed the default
    # maxFields=100 and silently fall back to interpreted evaluation —
    # measured 2.2× on the SimHash fingerprint stage at sf0.1.
    "spark.sql.codegen.maxFields": "1000",
    # Let Python DataSources receive pushed filters (the pyavro
    # reader pre-filters rows before the worker->JVM transfer).
    # Runtime-settable; avro_lite additionally builds a reader
    # WITHOUT pushFilters when this is off, because Spark fails any
    # read whose reader implements the method under a disabled conf.
    "spark.sql.python.filterPushdown.enabled": "true",
}

_STARTUP_CONF = {
    # Sized for the test harness; a real cluster overrides via spark-submit.
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    # local-mode driver == the whole "cluster": size the heap so cached
    # tables + checkpoint blocks + broadcast vars don't GC-thrash a
    # long bench session (the container has 128 GiB; 8g showed 5-8×
    # slowdowns on late-bench queries purely from collector pressure)
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"),
    "spark.ui.enabled": "false",
}


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine confs to an existing session."""
    for k, v in _RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # conf locked down — keep going, defaults are fine
            pass
    return spark


def get_spark(app_name: str = "bigdata-deepfakeanalysis-spark") -> SparkSession:
    """Get or create a tuned SparkSession (local[N] for tests)."""
    active = SparkSession.getActiveSession()
    if active is not None:
        return tune(active)
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = SparkSession.builder.appName(app_name).master(f"local[{cpus}]")
    for k, v in {**_STARTUP_CONF, **_RUNTIME_CONF}.items():
        builder = builder.config(k, v)
    return tune(builder.getOrCreate())


# Shared derived artifacts (the co-purchase edge list, the LSH
# candidate pairs, the basket tables), one entry per live application,
# realpath(sf_dir) and artifact key.
_PINNED: dict[tuple, DataFrame] = {}


def pinned(
    spark: SparkSession, sf_dir: str, key: Hashable,
    build: Callable[[], DataFrame],
) -> DataFrame:
    """``build()`` pinned with an eager ``localCheckpoint``, built once
    per (session, sf_dir, key) and shared by every later caller. The
    sf_dir is realpath-normalized, so relative and absolute spellings
    share one entry. Every call first drops the entries of applications
    other than the live one and unpersists them: a module-global with
    no eviction would pin a dead session's partitions for the life of
    the process, and would hand them to a new session."""
    app_id = spark.sparkContext.applicationId
    for stale in [k for k in _PINNED if k[0] != app_id]:
        try:
            _PINNED.pop(stale).unpersist()
        except Exception:
            pass  # dead JVM handle — dropping the reference is enough
    full = (app_id, os.path.realpath(str(sf_dir)), key)
    cached = _PINNED.get(full)
    if cached is not None:
        return cached
    # setdefault: if a concurrent first call raced us here, keep the
    # winner and let our duplicate build be garbage-collected.
    return _PINNED.setdefault(full, build().localCheckpoint(eager=True))
