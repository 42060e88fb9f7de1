"""Self-consistency invariants for the non-SQL-expressible ML ops
(SURVEY §5.2) — mirroring the reference's own inline guards."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from bigdata_deepfakeanalysis_spark.registry import all_queries

from .conftest import SF_DIR


def test_pca_invariants(spark):
    """The fit the summary query runs keeps its invariants per row;
    the registered summary query's guarantee booleans must all be
    genuinely TRUE (the oracle hashes them as literals)."""
    from pyspark.sql import functions as F

    from bigdata_deepfakeanalysis_spark.catalog import table
    from bigdata_deepfakeanalysis_spark.ml import pca2d

    coords, (ev1, ev2), _ = pca2d(table(spark, SF_DIR, "embeddings"))
    df = coords.select(
        F.element_at("_coords", 1).alias("pc1"),
        F.element_at("_coords", 2).alias("pc2"),
    ).toPandas()
    assert len(df) > 0
    assert 0 < ev2 <= ev1 <= 1 and ev1 + ev2 <= 1
    assert df.pc1.map(math.isfinite).all() and df.pc2.map(math.isfinite).all()

    summ = all_queries()["q_pca_explained_variance"](spark, SF_DIR).toPandas()
    assert len(summ) == 1 and summ.n_rows.iloc[0] == len(df)
    for c in (
        "ev_descending_in_range",
        "ev_sum_le_1",
        "coords_finite",
        "components_orthonormal",
    ):
        assert bool(summ[c].iloc[0]), c


def test_cv_accuracy_bounds(spark):
    """Raw accuracies stay in range (the property the registered
    query's booleans assert); the hashed surface carries the
    deterministic fold sizes."""
    from bigdata_deepfakeanalysis_spark.catalog import table
    from bigdata_deepfakeanalysis_spark.ml import cv_separability

    folds = cv_separability(
        table(spark, SF_DIR, "embeddings"), "logreg", n_partitions=1
    ).toPandas()
    assert len(folds) == 5
    assert ((folds.accuracy >= 0) & (folds.accuracy <= 1)).all()

    df = all_queries()["q_logreg_cv_separability"](spark, SF_DIR).toPandas()
    assert df.accuracy_in_range.all()
    mean_row = df[df.fold == -1]
    assert len(mean_row) == 1 and int(mean_row.n_test.iloc[0]) == 500
    assert int(df[df.fold >= 0].n_test.sum()) == 500  # folds partition


def test_cka_bounds(spark, duck):
    from bigdata_deepfakeanalysis_spark.registry import all_oracles

    df = all_queries()["q_cka_pairs"](spark, SF_DIR).toPandas()
    assert len(df) > 0
    assert ((df.cka >= 0) & (df.cka <= 1 + 1e-9)).all()


def test_tsne_kl_decreases_and_separates():
    """The vendored solver is a real t-SNE: its KL objective decreases
    over iterations, and planted clusters end up separated."""
    import numpy as np

    from bigdata_deepfakeanalysis_spark.tsne import tsne_exact

    rng = np.random.RandomState(0)
    X = np.concatenate(
        [rng.normal(0, 0.05, (40, 16)), rng.normal(1, 0.05, (40, 16))]
    )
    Y, kl = tsne_exact(X, perplexity=15, n_iter=400, seed=42)
    assert Y.shape == (80, 2)
    assert np.isfinite(Y).all() and np.isfinite(kl).all()
    assert len(kl) >= 3 and kl[-1] < kl[0]  # objective actually optimized
    # cluster separation: within-cluster spread << between-cluster gap
    c0, c1 = Y[:40].mean(0), Y[40:].mean(0)
    gap = np.linalg.norm(c0 - c1)
    spread = max(
        np.linalg.norm(Y[:40] - c0, axis=1).mean(),
        np.linalg.norm(Y[40:] - c1, axis=1).mean(),
    )
    assert gap > 2 * spread
    # determinism
    Y2, _ = tsne_exact(X, perplexity=15, n_iter=400, seed=42)
    assert np.abs(Y - Y2).max() < 1e-12


def test_tsne_shape_and_determinism(spark):
    from bigdata_deepfakeanalysis_spark.ml import tsne2d
    from bigdata_deepfakeanalysis_spark.operators.fixtures import (
        grouped_embeddings,
    )

    a = (
        tsne2d(grouped_embeddings(spark, SF_DIR), cap=50)
        .orderBy("group", "image_key")
        .toPandas()
    )
    assert len(a) > 0
    assert a.x.map(math.isfinite).all() and a.y.map(math.isfinite).all()
    b = (
        tsne2d(grouped_embeddings(spark, SF_DIR), cap=50)
        .orderBy("group", "image_key")
        .toPandas()
    )
    assert (a[["group", "image_key"]].values == b[["group", "image_key"]].values).all()
    assert (a.x - b.x).abs().max() < 1e-9 and (a.y - b.y).abs().max() < 1e-9

    summ = all_queries()["q_tsne2d"](spark, SF_DIR).toPandas()
    assert len(summ) == len(a)
    assert summ.coords_finite.all()


def test_ann_fast_consistency_full_overlap(spark):
    df = all_queries()["q_ann_fast_consistency"](spark, SF_DIR).toPandas()
    assert len(df) == 10
    assert (df.n_overlap == 5).all()


def test_ann_ivf_recall_ladder(spark):
    """IVF: probing more quantizer cells must buy recall (the
    recall_monotone boolean is per-query, a superset theorem), and the
    hashed exact-top-3 side must equal the brute-force exact ranking."""
    df = all_queries()["q_ann_ivf_recall"](spark, SF_DIR).toPandas()
    assert len(df) == 10
    assert df.recall1_in_range.all() and df.recall4_in_range.all()
    assert df.recall_monotone.all()
    exact = (
        all_queries()["q_ann_cosine_topk"](spark, SF_DIR)
        .where("rk <= 3")
        .toPandas()
        .sort_values(["query_id", "rk"])
        .groupby("query_id")["cand_id"]
        .apply(lambda s: ",".join(str(int(x)) for x in s))
    )
    got = df.set_index("query_id")["exact_top3"]
    assert (exact.sort_index() == got.sort_index()).all()


def test_ann_lsh_recall_ladder(spark):
    """More probes / more tables must buy recall; the 16-table index
    must recover most of the exact top-3 on the fixture."""
    df = all_queries()["q_ann_lsh_recall"](spark, SF_DIR).toPandas()
    mean = df.groupby("strategy")["recall"].mean()
    assert set(mean.index) == {"single", "multiprobe1", "tables16"}
    assert mean["multiprobe1"] >= mean["single"]
    assert mean["tables16"] >= mean["multiprobe1"]
    assert mean["tables16"] >= 0.6
    assert ((df.recall >= 0) & (df.recall <= 1)).all()


def test_kmeans_cluster_profile(spark):
    """k clusters, sizes partition the corpus, deterministic re-run
    (per-cluster profile); the registered summary's guarantee booleans
    must be genuinely TRUE."""
    from bigdata_deepfakeanalysis_spark.catalog import table
    from bigdata_deepfakeanalysis_spark.ml import kmeans_profile

    a = kmeans_profile(table(spark, SF_DIR, "embeddings")).toPandas()
    assert len(a) == 8
    assert a["n"].sum() == 500
    assert (a["n"].values == sorted(a["n"].values, reverse=True)).all()
    assert (a["mean_dist"] > 0).all()
    b = kmeans_profile(table(spark, SF_DIR, "embeddings")).toPandas()
    assert a.equals(b)

    summ = all_queries()["q_kmeans_clusters"](spark, SF_DIR).toPandas()
    assert len(summ) == 1
    assert summ.n_clusters.iloc[0] == 8 and summ.n_points.iloc[0] == 500
    for c in ("sizes_partition_corpus", "sizes_desc", "dist_finite"):
        assert bool(summ[c].iloc[0]), c


def test_ann_sq8_rescore_overlap(spark):
    """SQ8 shortlist + exact rescore must recover most of the exact
    top-3 (the dequantization error only perturbs the shortlist edge)."""
    sq8 = all_queries()["q_ann_sq8_rescore"](spark, SF_DIR).toPandas()
    exact = (
        all_queries()["q_ann_cosine_topk"](spark, SF_DIR)
        .where("rk <= 3")
        .toPandas()
    )
    s = set(zip(sq8.query_id, sq8.cand_id))
    e = set(zip(exact.query_id, exact.cand_id))
    assert len(sq8) == len(exact) == 30
    assert len(s & e) >= 20  # mean overlap >= 2/3


def test_index_signs_arrow_matches_sql_form(spark):
    """The Arrow matmul index-build kernel must produce bit-identical
    sign arrays to the SQL transform-over-aggregate form it replaced
    (int64 arithmetic both sides — no tolerance)."""
    from pyspark.sql import functions as F

    import bigdata_deepfakeanalysis_spark.operators.similarity as S
    from bigdata_deepfakeanalysis_spark.catalog import table

    from .conftest import SF_DIR

    base = (
        table(spark, SF_DIR, "embeddings")
        .select(F.col("vec_id").alias("cand_id"),
                S.quantize("embedding").alias("cq"))
    )
    sql_signs = {
        r.cand_id: list(r.signs)
        for r in base.withColumn("signs", S.plane_signs("cq", 64))
        .select("cand_id", "signs").collect()
    }
    arrow_signs = {
        r.cand_id: list(r.signs)
        for r in S.index_signs_arrow(base, 64)
        .select("cand_id", "signs").collect()
    }
    assert sql_signs == arrow_signs
    assert len(sql_signs) > 0


def test_ml_pipeline_invariants(spark):
    """Composed Pipeline (scaler→PCA→logreg): per-label accuracies in
    [0,1]; support covers the whole deterministic holdout."""
    from bigdata_deepfakeanalysis_spark.registry import all_queries

    from .conftest import SF_DIR

    rows = all_queries()["q_ml_pipeline"](spark, SF_DIR).collect()
    assert len(rows) > 0
    # accuracy ∈ [0,1] and full holdout scored, folded into the
    # driver-hashable boolean
    assert all(r.accuracy_valid for r in rows)
    # deterministic holdout: vec_id < 400 AND vec_id % 5 == 0
    assert sum(r.support for r in rows) == 80


def test_permutation_importance_is_a_bijection(spark):
    """Shape and algebra of the permutation-importance report: all 16
    audited dims present, probe weights are the odd md5 digits in
    [-17, 13], and importance is EXACTLY w * (base - perm) — the
    linear-probe collapse the oracle replays. (The bijection property
    itself — permuted multiset == original multiset per dim — is what
    the DuckDB oracle hash attests, since both engines replay the
    identical shift.)"""
    df = all_queries()["q_permutation_importance"](spark, SF_DIR).toPandas()
    assert len(df) == 16
    assert set(df["dim"]) == set(range(0, 64, 4))
    # every weight is odd (2*digit - 17) and within [-17, 13]
    assert ((df["w"] % 2 != 0) & (df["w"].abs() <= 17)).all()
    # importance = w * (base - perm) exactly
    assert (
        df["importance"] == df["w"] * (df["base_contrib"] - df["perm_contrib"])
    ).all()


def test_xgb_estimator_path_or_gate(spark):
    """SURVEY M7's primary path (xgboost.spark.SparkXGBClassifier,
    reference params verbatim) either RUNS — when the optional extra
    is installed, a 2-fold CV over a capped fixture must return
    in-range accuracies under the same fold scheme as the fallback —
    or fails eagerly on the driver with a clear gate message (the
    torch_extras pattern). Unknown estimator names fail loudly either
    way."""
    import pytest

    from bigdata_deepfakeanalysis_spark import ml

    from .conftest import SF_DIR

    emb = (
        ml.table(spark, SF_DIR, "embeddings")
        .where((F.col("vec_id") < 60) & (F.col("label") < 2))
    )
    if ml.HAS_XGBOOST:
        folds = ml.cv_separability(
            emb, "xgb", n_folds=2, n_partitions=1
        ).collect()
        assert [r.fold for r in folds] == [0, 1]
        assert all(0.0 <= r.accuracy <= 1.0 for r in folds)
        assert all(r.estimator == "xgb" for r in folds)
    else:
        with pytest.raises(
            NotImplementedError, match="xgboost optional extra"
        ):
            ml.cv_separability(emb, "xgb", n_folds=2, n_partitions=1)
    with pytest.raises(ValueError, match="unknown estimator"):
        ml.cv_separability(emb, "catboost", n_folds=2, n_partitions=1)


def test_mutual_nn_tile_count_invariance(spark):
    """The r9 tiled mutual-NN derives n_tiles from
    spark.sql.shuffle.partitions — the RESULT must be invariant to
    that knob (tiling only partitions the pair enumeration; every
    (a, b) pair is generated exactly once under any tile count)."""
    from bigdata_deepfakeanalysis_spark.operators.similarity import (
        q_mutual_nn_alignment,
    )

    from .conftest import SF_DIR

    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        r7 = [tuple(r) for r in q_mutual_nn_alignment(spark, SF_DIR).collect()]
        spark.conf.set("spark.sql.shuffle.partitions", "33")
        r33 = [tuple(r) for r in q_mutual_nn_alignment(spark, SF_DIR).collect()]
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert r7 == r33
    assert len(r7) == 10 and r7[0][3] > 0  # n_mutual populated


def test_mutual_nn_kernel_rejects_out_of_bound_magnitudes():
    """The tile kernel's float64 matmul is only integer-exact while
    4 * dim * M^2 < 2^53 (M = snapped coordinate magnitude). Inside
    the bound it must run; past it, it must raise instead of
    returning silently inexact distances."""
    import numpy as np
    import pandas as pd
    import pytest

    from bigdata_deepfakeanalysis_spark.operators.similarity import (
        _mutual_nn_tile_kernel,
    )

    def frame(ids, col, scale):
        rng = np.random.default_rng(7)
        return pd.DataFrame(
            {
                col: ids,
                "embedding": [
                    rng.random(8, dtype=np.float32) * scale for _ in ids
                ],
                "ta": [0] * len(ids),
                "tb": [0] * len(ids),
            }
        )

    # in-bound: ordinary magnitudes run fine
    out = _mutual_nn_tile_kernel(frame([1, 2], "a", 4.0), frame([3], "b", 4.0))
    assert len(out) == 3  # one partial per point per side

    # out-of-bound: dim=8 bound is floor(sqrt(2^53/32)) ~= 2^24.25;
    # raw coords ~2^12 snap to ~2^26 — past it
    with pytest.raises(ValueError, match="integer-exactness bound"):
        _mutual_nn_tile_kernel(
            frame([1, 2], "a", 4096.0), frame([3], "b", 4096.0)
        )


def test_tile_kernels_strip_chunking_preserves_first_min(monkeypatch):
    """r11: both tile kernels strip their matmuls so per-invocation
    memory is bounded at any cell occupancy. The strip boundary is
    where tie-break bugs live — the B-side running min must keep the
    EARLIER strip's winner on equal d2 (first-min = smallest sorted
    id), and the kNN margin cut must be strip-invariant. Force 1-row
    strips over tie-heavy data (duplicate embeddings => exact d2 /
    cosine ties across strip boundaries) and require output identical
    to the single-strip run."""
    import numpy as np
    import pandas as pd

    from bigdata_deepfakeanalysis_spark.operators import similarity as S

    rng = np.random.default_rng(5)
    base = [rng.random(8, dtype=np.float32) for _ in range(6)]
    # duplicates spread across ids: ids 1..12 cycle 6 base vectors,
    # so every vector has an exact twin with a different id
    a_emb = [base[i % 6] for i in range(12)]
    b_emb = [base[(i * 3 + 1) % 6] for i in range(10)]

    def mnn_frames():
        la = pd.DataFrame(
            {"a": range(1, 13), "embedding": a_emb, "ta": 0, "tb": 0}
        )
        rb = pd.DataFrame(
            {"b": range(101, 111), "embedding": b_emb, "ta": 0, "tb": 0}
        )
        return la, rb

    def knn_frames():
        q16 = [np.floor(np.asarray(e, dtype=np.float64) * (1 << 20))
               for e in a_emb]
        c16 = [np.floor(np.asarray(e, dtype=np.float64) * (1 << 20))
               for e in b_emb]
        cands = pd.DataFrame(
            {
                "cand_id": range(101, 111),
                "cand_label": [i % 3 for i in range(10)],
                "cq": [v.astype(np.int64) for v in c16],
                "nc": [int((v * v).sum()) for v in c16],
                "tc": 0,
                "tq": 0,
            }
        )
        qs = pd.DataFrame(
            {
                "query_id": range(1, 13),
                "true_label": [i % 3 for i in range(12)],
                "qq": [v.astype(np.int64) for v in q16],
                "nq": [int((v * v).sum()) for v in q16],
                "tq": 0,
                "tc": 0,
            }
        )
        return cands, qs

    def canon(df):
        return sorted(map(tuple, df.itertuples(index=False)))

    monkeypatch.setattr(S, "_TILE_STRIP_ELEMS", 10**9)
    one_mnn = canon(S._mutual_nn_tile_kernel(*mnn_frames()))
    one_knn = canon(S._knn_tile_kernel(*knn_frames()))
    monkeypatch.setattr(S, "_TILE_STRIP_ELEMS", 1)  # 1-row strips
    many_mnn = canon(S._mutual_nn_tile_kernel(*mnn_frames()))
    many_knn = canon(S._knn_tile_kernel(*knn_frames()))
    assert many_mnn == one_mnn
    assert many_knn == one_knn


def test_mutual_nn_kernel_runs_once_per_grid_cell(
    spark, tmp_path, monkeypatch
):
    """Regression guard for the ReusedExchange claim: the rows branch
    and the scalar n_mutual branch share the kernel subtree, and AQE
    collapses them so the Arrow kernel executes EXACTLY once per grid
    cell end-to-end. Mutation-tested (r10): the side-filter + join
    mutuality form (pushed side = X filters split the argmin
    exchange) re-executes the kernel and FAILS this test; the
    count(1)-in-total variant turned out benign on this Spark version
    (the pair rollup's min(d2) keeps the exchange identical), but the
    guarantee is pinned here either way. Each invocation appends to
    a shared file (O_APPEND, same host in local mode), so the line
    count IS the invocation count."""
    import math

    import bigdata_deepfakeanalysis_spark.operators.similarity as sim

    from .conftest import SF_DIR

    marker = str(tmp_path / "kernel_calls.log")
    real = sim._mutual_nn_tile_kernel

    def counting_kernel(left, right):
        with open(marker, "a") as f:
            f.write("x\n")
        return real(left, right)

    monkeypatch.setattr(sim, "_mutual_nn_tile_kernel", counting_kernel)
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "16")
        g = max(4, math.isqrt(16))
        rows = sim.q_mutual_nn_alignment(spark, SF_DIR).collect()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert len(rows) == 10 and rows[0][3] > 0
    with open(marker) as f:
        calls = sum(1 for _ in f)
    assert calls == g * g, (
        f"kernel ran {calls}x for {g * g} grid cells — the count "
        "branch or the mutuality rollup regressed to a form that "
        "re-executes the pair grid"
    )


def test_mutual_nn_grid_bounds_cells_under_residue_skew(
    spark, tmp_path, monkeypatch
):
    """The 100-TB claim the mutual-NN docstring makes is per-cell
    memory |A|/g + |B|/g. An id-RESIDUE tiling (pmod(id, g)) breaks
    that under shard-strided keys: ids all congruent mod g collapse
    one whole side into a single grid row, and the kernel's dense
    block grows to |A| x |B|/g. The hash tiling must keep every
    cell's occupancy near |A|/g for exactly such an adversarial id
    pattern — this test feeds one (every A id a multiple of 64, so
    id % g == 0 for any g dividing 64) and records actual per-cell
    sizes from inside the kernel."""
    import numpy as np
    import pandas as pd

    import bigdata_deepfakeanalysis_spark.operators.similarity as sim

    rng = np.random.default_rng(11)
    n_a, n_b = 240, 120
    rows = [
        {
            "vec_id": 64 * i,  # A side: all ids = 0 mod g for g | 64
            "embedding": rng.random(16, dtype=np.float32),
            "label": 0,
        }
        for i in range(1, n_a + 1)
    ] + [
        {
            "vec_id": 64 * 1000 + j,  # B side: ordinary dense ids
            "embedding": rng.random(16, dtype=np.float32),
            "label": 1,
        }
        for j in range(n_b)
    ]
    pdf = pd.DataFrame(rows)
    pdf["embedding"] = pdf["embedding"].map(list)
    spark.createDataFrame(pdf).write.parquet(
        str(tmp_path / "embeddings.parquet")
    )

    marker = str(tmp_path / "cells.log")
    real = sim._mutual_nn_tile_kernel

    def recording_kernel(left, right):
        with open(marker, "a") as f:
            f.write(f"{len(left)},{len(right)}\n")
        return real(left, right)

    monkeypatch.setattr(sim, "_mutual_nn_tile_kernel", recording_kernel)
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "16")  # g = 4
        rows_out = sim.q_mutual_nn_alignment(spark, str(tmp_path)).collect()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert len(rows_out) > 0
    sizes = [
        tuple(map(int, line.split(",")))
        for line in open(marker).read().splitlines()
    ]
    max_a = max(s[0] for s in sizes)
    # residue tiling puts ALL 240 A rows in every occupied cell;
    # hash tiling ~60. The bound leaves 2x headroom over uniform
    # while staying far below the collapse.
    assert max_a <= n_a // 2, (
        f"a grid cell held {max_a} of {n_a} A rows under residue-"
        "skewed ids — tile assignment has regressed to id mod g"
    )
