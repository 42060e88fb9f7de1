# python tools/ab_pagerank_bucketed.py [--rounds 3]
#
# r13 task 3 (VERDICT r12): the three PageRank supersteps re-shuffle
# the edge table every round — localCheckpoint does NOT preserve
# partitioning (probed: a repartition("src") followed by localCheckpoint
# joins with a fresh ENSURE_REQUIREMENTS Exchange on that side), so
# each round pays Exchange(edges_w by src) + Exchange(ranks) +
# Exchange(groupBy dst) + Exchange(nodes join). The guide §6/§3 shape
# is a bucketed-by-src edge table: pay the layout shuffle ONCE at
# write, then every superstep's src-join reuses HashPartitioning(src).
#
# Arms (interleaved, one session, same derived edges):
#   A: pagerank_fixed (status quo: lazy-checkpointed edges_w)
#   B: bucketed edges_w staged to a per-run temp table inside the
#      timed region (the honest placement: derived data, so the write
#      is part of the query), then the same 3 supersteps off the
#      bucketed scan.
# Also prints the superstep-only decomposition (edges build vs loop).
# Session and timing are bench.py's (`warm`, `time_query`).
import sys

sys.path.insert(0, __file__.rsplit("/", 2)[0])

from pyspark.sql import functions as F

from bench import SF_DIR, time_query, warm
from bigdata_deepfakeanalysis_spark.catalog import table


def _edges(spark, sf_dir):
    """Bipartite customer/supplier co-purchase edges, both directions
    (customers even ids, suppliers odd)."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    pairs = (
        li.select("l_orderkey", "l_suppkey")
        .join(o.select("o_orderkey", "o_custkey"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .select((F.col("o_custkey") * 2).alias("c"),
                (F.col("l_suppkey") * 2 + 1).alias("s"))
        .distinct()
    )
    return pairs.select(
        F.col("c").alias("src"), F.col("s").alias("dst")
    ).unionByName(pairs.select(F.col("s").alias("src"), F.col("c").alias("dst")))


def main() -> int:
    rounds = 3
    argv = iter(sys.argv[1:])
    for a in argv:
        if a == "--rounds":
            rounds = int(next(argv))
    sf_dir = SF_DIR

    from bigdata_deepfakeanalysis_spark.catalog import staging_dir
    from bigdata_deepfakeanalysis_spark.operators.graph import (
        _BASE, _SCALE, _ITERS, pagerank_fixed,
    )
    from bigdata_deepfakeanalysis_spark.session import get_spark

    spark = get_spark("ab-pagerank-bucketed")
    warm(spark, sf_dir, cache=True)

    def pagerank_bucketed(iters=_ITERS):
        edges = _edges(spark, sf_dir).select(
            F.col("src").cast("long"), F.col("dst").cast("long")
        )
        outdeg = edges.groupBy("src").agg(
            F.count(F.lit(1)).alias("outdeg")
        )
        name = "pr_edges_w_ab"
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        path = staging_dir("pr_ab") / name
        import shutil

        shutil.rmtree(path, ignore_errors=True)
        (
            edges.join(outdeg, "src")
            .write.mode("overwrite")
            .bucketBy(32, "src")
            .option("path", str(path))
            .saveAsTable(name)
        )
        edges_w = spark.table(name)
        nodes = (
            edges_w.select("src")
            .unionByName(edges_w.select(F.col("dst").alias("src")))
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
                        + F.expr(
                            "(85 * coalesce(s, CAST(0 AS BIGINT))) DIV 100"
                        )
                    )
                    .cast("long")
                    .alias("rank"),
                )
                .localCheckpoint(eager=False)
            )
        return ranks

    # equality check once
    a = pagerank_fixed(_edges(spark, sf_dir))
    b = pagerank_bucketed()
    diff = a.exceptAll(b).count() + b.exceptAll(a).count()
    print(f"rank diff rows: {diff}")
    assert diff == 0

    # decomposition of arm A: edges build alone vs full
    (t_edges,) = time_query(lambda: _edges(spark, sf_dir), 1)
    print(f"edges-build noop: {t_edges:.2f}s")

    ta, tb = [], []
    for i in range(rounds):
        (a_s,) = time_query(lambda: pagerank_fixed(_edges(spark, sf_dir)), 1)
        (b_s,) = time_query(pagerank_bucketed, 1)
        ta.append(round(a_s, 3))
        tb.append(round(b_s, 3))
        print(f"round {i}: statusquo {ta[-1]}  bucketed {tb[-1]}",
              flush=True)
    print(
        f"RESULT statusquo(min={min(ta)}, all={ta})"
        f" bucketed(min={min(tb)}, all={tb})"
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
