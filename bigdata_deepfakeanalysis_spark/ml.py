"""ML / analytics operators (SURVEY §2.8 M4–M7, M10; §2.4 A4/A9).

The reference's analysis verbs rebuilt on MLlib + DataFrame ops:

- standardize (A4): column mean/std — oracle-exact SQL
- PCA 2-D + explained variance (M5, ``src/analyze_embedding_with_pca
  .py:80-97``): ``pyspark.ml.feature.PCA`` — invariant-checked
- logistic-regression / tree-ensemble CV separability (M6/M7,
  ``src/compare_embeddings_vs_features.py:45-70``): MLlib estimators +
  per-label fold assignment (approximate stratification) — invariant-checked
- linear CKA (A9, ``src/compare_xception_featuremaps.py:50-62,139-160``):
  pairwise over groups, decimal-exact Gram sums — oracle-exact SQL
  (and the reference's unseeded-alignment bug fixed: seeded rank align)
- t-SNE 2-D (M4, ``src/analyze_embedding_with_tsne.py:59-77``):
  cap-sample → bounded driver collect → vendored exact numpy t-SNE
  (``tsne.tsne_exact``; deterministic, KL-decreasing) — rows-only
- pair selection (M10, ``src/analyze_embedding_with_tsne.py:214-248``):
  adjacent + seeded-random strategies — oracle-exact SQL

Scale design: PCA/LR/RF are MLlib distributed fits (tree aggregation for
covariance/gradients). CKA never materializes matrices: it aggregates
64×64 Gram cells from exploded cells — one shuffle keyed on (pair, i, j);
group count G is small so pairs are G². t-SNE is the reference's own
bounded-collect pattern (X5: cap-before-quadratic) made explicit.
"""

from __future__ import annotations

import importlib.util

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .catalog import table
from .operators.fixtures import GROUPED_EMBEDDINGS_CTE, grouped_embeddings
from .operators.parity import sort_bounded
from .operators.sampling import _seeded_rank_sql, seeded_rank
from .registry import query

_DIM = 64


# ---------------------------------------------------------------------------
# A4 — standardize (oracle-exact)
# ---------------------------------------------------------------------------

@query(
    "q_standardize",
    f"""
    WITH cells AS (
        SELECT vec_id, pos, CAST(embedding[pos + 1] AS DOUBLE) AS val
        FROM embeddings, (SELECT UNNEST(range(0, {_DIM})) AS pos)),
    stats AS (
        SELECT pos,
               CAST(SUM(CAST(val AS DECIMAL(12,9))) AS DOUBLE)
                   / COUNT(*) AS mu,
               SQRT((CAST(SUM(CAST(val AS DECIMAL(12,9))
                              * CAST(val AS DECIMAL(12,9))) AS DOUBLE)
                     - CAST(SUM(CAST(val AS DECIMAL(12,9))) AS DOUBLE)
                       * CAST(SUM(CAST(val AS DECIMAL(12,9))) AS DOUBLE)
                       / COUNT(*)) / (COUNT(*) - 1)) AS sigma
        FROM cells GROUP BY pos)
    SELECT c.vec_id, c.pos, ROUND((c.val - s.mu) / s.sigma, 9) AS z
    FROM cells c JOIN stats s ON c.pos = s.pos
    WHERE c.vec_id < 5 AND c.pos < 8
    ORDER BY c.vec_id, c.pos
    """,
)
def q_standardize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 — per-dimension mean-0/std-1 scaling (StandardScaler semantics,
    sample std), decimal-exact moments; spot-checks 5 vectors × 8 dims."""
    emb = table(spark, sf_dir, "embeddings")
    cells = emb.select(
        "vec_id", F.posexplode("embedding").alias("pos", "val")
    ).withColumn("val", F.col("val").cast("double"))
    d = "CAST(val AS DECIMAL(12,9))"
    stats = cells.groupBy("pos").agg(
        F.expr(f"CAST(SUM({d}) AS DOUBLE) / COUNT(*)").alias("mu"),
        F.expr(
            f"SQRT((CAST(SUM({d}*{d}) AS DOUBLE)"
            f" - CAST(SUM({d}) AS DOUBLE)*CAST(SUM({d}) AS DOUBLE)/COUNT(*))"
            f" / (COUNT(*) - 1))"
        ).alias("sigma"),
    )
    return (
        cells.where((F.col("vec_id") < 5) & (F.col("pos") < 8))
        .join(F.broadcast(stats), "pos")
        .select(
            "vec_id",
            "pos",
            F.round((F.col("val") - F.col("mu")) / F.col("sigma"), 9).alias("z"),
        )
    )


# ---------------------------------------------------------------------------
# M5 — PCA with explained variance (MLlib; invariant-checked)
# ---------------------------------------------------------------------------

_PCA_K = 2  # q_pca_explained_variance and its oracle report it as k


def pca2d(df: DataFrame) -> tuple:
    """Fit distributed PCA over ``embedding``, return (coords_df,
    explained_variance list, model)."""
    from pyspark.ml.feature import PCA as MLPca
    from pyspark.ml.functions import array_to_vector, vector_to_array

    feat = df.withColumn("_features", array_to_vector(F.col("embedding")))
    model = MLPca(k=_PCA_K, inputCol="_features", outputCol="_pca").fit(feat)
    coords = model.transform(feat).withColumn(
        "_coords", vector_to_array("_pca")
    )
    return coords, list(model.explainedVariance), model


@query(
    "q_pca_explained_variance",
    f"""
    SELECT {_PCA_K} AS k, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(MIN(len(embedding)) AS INT) AS dim,
           CAST(COUNT(DISTINCT len(embedding)) AS BIGINT) AS n_dims,
           TRUE AS ev_descending_in_range, TRUE AS ev_sum_le_1,
           TRUE AS coords_finite, TRUE AS components_orthonormal
    FROM embeddings
    """,
)
def q_pca_explained_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M5 — PCA(2) fit summary, upgraded from rows-only in r6 (r5
    VERDICT stretch item): the deterministic half (k, row count,
    embedding dimensionality — r8 strengthening per VERDICT r7 task 8:
    ``dim`` and its distinct count are data-derived, oracle-replayable
    facts, so a hash-green row also attests the input geometry the fit
    ran on) hashes against the oracle directly, and every engine-local
    guarantee enters the hash as a boolean the oracle expects to be
    literally TRUE — explained-variance ratios descending and each in
    (0,1], their sum <= 1, every projected coordinate finite, and the
    64x2 principal-component matrix orthonormal (max |PᵀP - I| < 1e-9,
    checked on the driver over the k*k Gram of the loadings — 4
    doubles, not data-sized)."""
    import numpy as np

    emb = table(spark, sf_dir, "embeddings")
    coords, ev, model = pca2d(emb)
    ev_desc = bool(0.0 < ev[1] <= ev[0] <= 1.0)
    ev_sum = bool(ev[0] + ev[1] <= 1.0)
    pc = model.pc.toArray()  # (dim, k) loadings — tiny, driver-side
    gram = pc.T @ pc
    ortho = bool(np.abs(gram - np.eye(pc.shape[1])).max() < 1e-9)
    finite = (
        ~F.isnan("pc1") & ~F.isnan("pc2")
        & (F.abs("pc1") < float("inf")) & (F.abs("pc2") < float("inf"))
    )
    per_row = coords.select(
        F.element_at("_coords", 1).alias("pc1"),
        F.element_at("_coords", 2).alias("pc2"),
        F.size("embedding").alias("_dim"),
    )
    return per_row.agg(
        F.lit(_PCA_K).alias("k"),
        F.count(F.lit(1)).alias("n_rows"),
        F.min("_dim").alias("dim"),
        F.countDistinct("_dim").alias("n_dims"),
        F.lit(ev_desc).alias("ev_descending_in_range"),
        F.lit(ev_sum).alias("ev_sum_le_1"),
        F.bool_and(finite).alias("coords_finite"),
        F.lit(ortho).alias("components_orthonormal"),
    )


# ---------------------------------------------------------------------------
# M6 / M7 — CV separability (MLlib; invariant-checked)
# ---------------------------------------------------------------------------

HAS_XGBOOST = importlib.util.find_spec("xgboost") is not None

_CV_SEED = 42  # fold order (Spark and both oracles), seeded estimators
_XGB_N_ESTIMATORS = 300


def _spark_xgb_estimator():
    """SURVEY M7's primary implementation: distributed XGBoost via
    ``xgboost.spark.SparkXGBClassifier`` with the reference's
    XGBClassifier params VERBATIM
    (``src/compare_embeddings_vs_features.py:49-70``:
    n_estimators=300, max_depth=6, learning_rate=.05, subsample=.9,
    colsample_bytree=.9, tree_method='hist'; multiclass handled
    natively, no One-vs-Rest needed). Import-gated eagerly so the
    missing optional extra surfaces as a clear driver-side error,
    never a mid-job executor crash (the torch_extras gate pattern) —
    this sandbox ships no xgboost, so the registered M7 query runs
    the estimator='gbt' MLlib fallback with mapped params; on a
    cluster with the extra installed this path is a one-argument
    switch."""
    if not HAS_XGBOOST:
        raise NotImplementedError(
            "xgboost optional extra is not installed; use "
            "estimator='gbt' (MLlib GBTClassifier fallback with the "
            "reference's params mapped) or install xgboost>=1.7 for "
            "xgboost.spark.SparkXGBClassifier"
        )
    from xgboost.spark import SparkXGBClassifier

    return SparkXGBClassifier(
        n_estimators=_XGB_N_ESTIMATORS,
        max_depth=6,
        learning_rate=0.05,
        subsample=0.9,
        colsample_bytree=0.9,
        tree_method="hist",
        random_state=_CV_SEED,
    )


def cv_separability(
    df: DataFrame,
    estimator: str = "logreg",
    n_folds: int = 5,
    gbt_max_iter: int = 10,
) -> DataFrame:
    """k-fold CV accuracy of label-from-embedding classification — the
    reference's separability score (M6/M7). Folds are assigned
    per-label (row_number % k over a seeded order): approximate
    stratification, deterministic, distributed — the per-label
    assignment mirrors the reference's StratifiedKFold
    (``src/compare_embeddings_vs_features.py:62-66``).

    estimator='xgb' is the M7 PRIMARY path — SURVEY M7's named
    implementation, ``xgboost.spark.SparkXGBClassifier`` with the
    reference's params verbatim (see :func:`_spark_xgb_estimator`).
    Import-gated eagerly (this sandbox ships no xgboost; the gate
    raises driver-side, never mid-job on an executor — the
    torch_extras pattern). estimator='gbt' is the documented
    fallback: MLlib GBTClassifier with the reference's XGBClassifier
    params mapped (n_estimators=300 → maxIter scaled to the capped
    fixture, max_depth=6 → maxDepth, learning_rate=.05 → stepSize,
    subsample=.9 → subsamplingRate; colsample has no MLlib
    equivalent → featureSubsetStrategy). MLlib GBT is binary-only,
    so multiclass labels go One-vs-Rest.

    The cached training set is coalesced to ONE partition: the
    fold-assignment window shuffles into
    ``spark.sql.shuffle.partitions`` partitions, and every solver
    iteration then schedules one task per partition — for a
    fixture-sized fit that is 32 near-empty tasks per LBFGS/boosting
    step, pure scheduler overhead (measured 20 s → 4.5 s for the
    5-fold logreg at sf0.01 with 1 partition); a cluster-scale fit
    would size it via shuffle.partitions instead."""
    from pyspark.ml.classification import (
        GBTClassifier,
        LogisticRegression,
        OneVsRest,
    )
    from pyspark.ml.evaluation import MulticlassClassificationEvaluator
    from pyspark.ml.functions import array_to_vector

    data = df.select(
        F.col("label").cast("double").alias("label"),
        array_to_vector(F.col("embedding")).alias("features"),
        F.col("vec_id"),
    ).withColumn(
        "fold",
        (
            F.row_number().over(
                Window.partitionBy("label").orderBy(
                    F.md5(F.concat_ws("|", F.lit(_CV_SEED), F.col("vec_id")))
                )
            )
            % n_folds
        ),
    )
    data = data.coalesce(1).cache()

    try:
        if estimator == "logreg":
            est = LogisticRegression(maxIter=20, regParam=0.01)
        elif estimator == "xgb":
            est = _spark_xgb_estimator()
        elif estimator == "gbt":
            # MLlib fallback (M7; reference XGB 300×6, lr .05, subsample .9)
            n_labels = data.select("label").distinct().count()
            gbt = GBTClassifier(
                maxIter=gbt_max_iter,  # reference runs 300; the default
                # here is scaled to the capped fixture (MLlib GBT = one
                # distributed job per iteration, so iteration count is
                # the latency knob at test scale — pass 300 for parity)
                maxDepth=6,
                stepSize=0.05,
                subsamplingRate=0.9,
                featureSubsetStrategy="0.9",
                seed=_CV_SEED,
            )
            est = gbt if n_labels <= 2 else OneVsRest(classifier=gbt)
        else:
            raise ValueError(
                f"unknown estimator {estimator!r} "
                "(expected 'logreg', 'xgb', or 'gbt')"
            )
        evaluator = MulticlassClassificationEvaluator(metricName="accuracy")

        rows = []
        for fold in range(n_folds):
            model = est.fit(data.where(F.col("fold") != fold))
            acc = evaluator.evaluate(
                model.transform(data.where(F.col("fold") == fold))
            )
            rows.append((estimator, fold, float(acc)))
    finally:
        data.unpersist()
    spark = df.sparkSession
    out = spark.createDataFrame(rows, "estimator string, fold int, accuracy double")
    return out


def _cv_fold_sizes(emb: DataFrame, n_folds: int) -> DataFrame:
    """Per-(fold, label) test-set composition under the rank-over-md5
    fold scheme — fully deterministic and oracle-replayable (DuckDB
    computes the identical md5 ranks), plus the (fold=-1, label=-1)
    grand-total row. r7 strengthening (advisor finding): hashing the
    per-fold LABEL composition, not just fold totals, makes a
    hash-green row attest the full stratification structure the CV
    claims — each fold's class balance is replayed by the oracle."""
    fold = (
        F.row_number().over(
            Window.partitionBy("label").orderBy(
                F.md5(F.concat_ws("|", F.lit(_CV_SEED), F.col("vec_id")))
            )
        )
        % n_folds
    )
    per = (
        emb.select(fold.alias("fold"), F.col("label").cast("int").alias("label"))
        .groupBy("fold", "label")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_test"))
    )
    total = emb.agg(
        F.lit(-1).alias("fold"),
        F.lit(-1).alias("label"),
        F.count(F.lit(1)).cast("bigint").alias("n_test"),
    )
    return per.unionByName(total)


def _cv_hashed(folds: DataFrame, sizes: DataFrame) -> DataFrame:
    """Join CV accuracies with the deterministic fold sizes and reduce
    the engine-local accuracies to the boolean the oracle expects
    (the q_ml_pipeline upgrade pattern)."""
    mean_row = folds.groupBy("estimator").agg(
        F.lit(-1).alias("fold"), F.avg("accuracy").alias("accuracy")
    )
    all_rows = folds.unionByName(mean_row)
    return (
        all_rows.join(sizes, "fold")
        .select(
            "estimator",
            "fold",
            "label",
            "n_test",
            ((F.col("accuracy") >= 0) & (F.col("accuracy") <= 1)).alias(
                "accuracy_in_range"
            ),
        )
    )


@query(
    "q_logreg_cv_separability",
    f"""
    WITH folds AS (
        SELECT CAST(ROW_NUMBER() OVER (PARTITION BY label
                   ORDER BY md5('{_CV_SEED}' || '|' || CAST(vec_id AS VARCHAR)))
               % 5 AS INT) AS fold,
               CAST(label AS INT) AS label
        FROM embeddings)
    SELECT 'logreg' AS estimator, fold, label,
           CAST(COUNT(*) AS BIGINT) AS n_test,
           TRUE AS accuracy_in_range
    FROM folds GROUP BY fold, label
    UNION ALL
    SELECT 'logreg', -1, -1, CAST(COUNT(*) AS BIGINT), TRUE FROM embeddings
    ORDER BY fold, label
    """,
)
def q_logreg_cv_separability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M6 — 5-fold logistic-regression separability, upgraded from
    rows-only in r6: the fold scheme is rank-over-md5 (X5), so the
    per-fold test sizes are oracle-replayable and hash directly; the
    engine-local solver accuracies enter the hash as booleans the
    oracle expects to be TRUE (each fold accuracy and the fold=-1 mean
    in [0,1]). r7 strengthens the hashed half (advisor finding): the
    oracle now replays the per-(fold, label) composition — the full
    stratification structure — not just fold totals. The raw per-fold
    accuracies remain available via :func:`cv_separability` with their
    own invariant test."""
    emb = table(spark, sf_dir, "embeddings")
    folds = cv_separability(emb, "logreg")
    return _cv_hashed(folds, _cv_fold_sizes(emb, n_folds=5))


@query(
    "q_tree_cv_separability",
    f"""
    WITH base AS (
        SELECT label, vec_id FROM embeddings
        WHERE vec_id < 200 AND label < 3),
    folds AS (
        SELECT CAST(ROW_NUMBER() OVER (PARTITION BY label
                   ORDER BY md5('{_CV_SEED}' || '|' || CAST(vec_id AS VARCHAR)))
               % 2 AS INT) AS fold,
               CAST(label AS INT) AS label
        FROM base)
    SELECT 'gbt' AS estimator, fold, label,
           CAST(COUNT(*) AS BIGINT) AS n_test,
           TRUE AS accuracy_in_range
    FROM folds GROUP BY fold, label
    UNION ALL
    SELECT 'gbt', -1, -1, CAST(COUNT(*) AS BIGINT), TRUE FROM base
    ORDER BY fold, label
    """,
)
def q_tree_cv_separability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M7 — boosting variant: MLlib GBTClassifier with the reference's
    XGBClassifier params mapped (``src/compare_embeddings_vs_features
    .py:49-70``; see cv_separability docstring for the param delta),
    same per-label fold scheme. Three labels so the OneVsRest multiclass
    path (MLlib GBT is binary-only) runs in the registered query, not
    only in its unit test; the label count, fold count and
    ``gbt_max_iter=4`` are latency caps for the fixture — the
    reference's full run is 300 iterations over all classes (one
    distributed fit per class per fold per iteration, which is the knob
    that matters at test scale). Upgraded from rows-only in r6 the same
    way as the logreg variant: deterministic md5-fold test sizes hash
    directly, accuracies enter as in-range booleans; r7 adds the
    per-(fold, label) composition to the hash (advisor finding)."""
    emb = table(spark, sf_dir, "embeddings").where(
        (F.col("vec_id") < 200) & (F.col("label") < 3)
    )
    folds = cv_separability(emb, "gbt", n_folds=2, gbt_max_iter=4)
    return _cv_hashed(folds, _cv_fold_sizes(emb, n_folds=2))


# ---------------------------------------------------------------------------
# A9 — linear CKA over group pairs (oracle-exact)
# ---------------------------------------------------------------------------

_CKA_CAP = 30

_CKA_CELLS_CTE = f"""
ranked AS (
    SELECT "group", vec_id,
           {_seeded_rank_sql('"group"', "vec_id")} AS r
    FROM grouped_embeddings),
aligned AS (
    SELECT g."group", g.vec_id, r.r
    FROM grouped_embeddings g JOIN ranked r
      ON g."group" = r."group" AND g.vec_id = r.vec_id
    WHERE r.r <= {_CKA_CAP}),
cells AS (
    SELECT a."group", a.r, pos,
           CAST(g.vector[pos + 1] AS DOUBLE) AS val
    FROM aligned a
    JOIN grouped_embeddings g
      ON a."group" = g."group" AND a.vec_id = g.vec_id,
         (SELECT UNNEST(range(0, {_DIM})) AS pos)),
centered AS (
    SELECT "group", r, pos,
           val - (CAST(SUM(CAST(val AS DECIMAL(12,9)))
                       OVER (PARTITION BY "group", pos) AS DOUBLE)
                  / COUNT(*) OVER (PARTITION BY "group", pos)) AS cv
    FROM cells)
"""


@query(
    "q_cka_pairs",
    f"""
    WITH {GROUPED_EMBEDDINGS_CTE.strip()},
    {_CKA_CELLS_CTE.strip()},
    grams AS (
        SELECT x."group" AS g1, y."group" AS g2, x.pos AS i, y.pos AS j,
               CAST(SUM(CAST(x.cv AS DECIMAL(12,9))
                        * CAST(y.cv AS DECIMAL(12,9))) AS DOUBLE) AS m
        FROM centered x JOIN centered y ON x.r = y.r
        WHERE x."group" <= y."group"
        GROUP BY x."group", y."group", x.pos, y.pos),
    frob AS (
        SELECT g1, g2,
               CAST(SUM(CAST(m AS DECIMAL(18,6)) * CAST(m AS DECIMAL(18,6)))
                    AS DOUBLE) AS f2
        FROM grams GROUP BY g1, g2)
    SELECT a.g1, a.g2,
           ROUND(a.f2 / (SQRT(s1.f2) * SQRT(s2.f2)), 9) AS cka
    FROM frob a
    JOIN frob s1 ON s1.g1 = a.g1 AND s1.g2 = a.g1
    JOIN frob s2 ON s2.g1 = a.g2 AND s2.g2 = a.g2
    WHERE a.g1 < a.g2
    ORDER BY a.g1, a.g2
    """,
)
def q_cka_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 — linear CKA between every group pair: seeded rank-alignment
    (fixing the reference's unseeded ``np.random.choice`` at
    ``src/compare_xception_featuremaps.py:154-155``), column centering
    per group, CKA = ||Xc'Yc||_F^2 / (||Xc'Xc||_F ||Yc'Yc||_F).
    Never materializes matrices — Gram cells via one (r)-keyed join."""
    base = grouped_embeddings(spark, sf_dir)
    aligned = (
        base.withColumn("r", seeded_rank("group", "vec_id"))
        .where(F.col("r") <= _CKA_CAP)
    )
    cells = aligned.select(
        "group", "r", F.posexplode("vector").alias("pos", "val")
    ).withColumn("val", F.col("val").cast("double"))
    d = "CAST(val AS DECIMAL(12,9))"
    w = Window.partitionBy("group", "pos")
    centered = cells.withColumn(
        "cv",
        F.col("val")
        - F.expr(f"CAST(SUM({d}) OVER (PARTITION BY `group`, pos) AS DOUBLE)")
        / F.count(F.lit(1)).over(w),
    )
    x = centered.select(
        F.col("group").alias("g1"), "r", F.col("pos").alias("i"),
        F.col("cv").alias("xv"),
    )
    y = centered.select(
        F.col("group").alias("g2"), "r", F.col("pos").alias("j"),
        F.col("cv").alias("yv"),
    )
    grams = (
        x.join(y, "r")
        .where(F.col("g1") <= F.col("g2"))
        .groupBy("g1", "g2", "i", "j")
        .agg(
            F.expr(
                "CAST(SUM(CAST(xv AS DECIMAL(12,9))"
                " * CAST(yv AS DECIMAL(12,9))) AS DOUBLE)"
            ).alias("m")
        )
    )
    dm = "CAST(m AS DECIMAL(18,6))"
    frob = grams.groupBy("g1", "g2").agg(
        F.expr(f"CAST(SUM({dm}*{dm}) AS DOUBLE)").alias("f2")
    )
    self1 = frob.where(F.col("g1") == F.col("g2")).select(
        F.col("g1").alias("sg"), F.col("f2").alias("f2_self")
    )
    return (
        frob.where(F.col("g1") < F.col("g2"))
        .join(self1.withColumnRenamed("sg", "g1").withColumnRenamed("f2_self", "f2_1"), "g1")
        .join(self1.withColumnRenamed("sg", "g2").withColumnRenamed("f2_self", "f2_2"), "g2")
        .select(
            "g1",
            "g2",
            F.round(F.col("f2") / (F.sqrt("f2_1") * F.sqrt("f2_2")), 9).alias(
                "cka"
            ),
        )
    )


# ---------------------------------------------------------------------------
# M10 — pair-selection strategies (oracle-exact)
# ---------------------------------------------------------------------------

@query(
    "q_pair_selection",
    f"""
    WITH {GROUPED_EMBEDDINGS_CTE.strip()},
    groups AS (
        SELECT "group",
               ROW_NUMBER() OVER (ORDER BY "group") AS idx
        FROM (SELECT DISTINCT "group" FROM grouped_embeddings)),
    adjacent AS (
        SELECT 'adjacent' AS strategy, a."group" AS g1, b."group" AS g2,
               CAST((a.idx + 1) / 2 AS INTEGER) AS pair_rank
        FROM groups a JOIN groups b ON b.idx = a.idx + 1
        WHERE a.idx % 2 = 1),
    rnd AS (
        SELECT 'random' AS strategy, a."group" AS g1, b."group" AS g2,
               CAST(ROW_NUMBER() OVER (
                   ORDER BY md5('42' || '|' || a."group" || '|' || b."group"))
                   AS INTEGER) AS pair_rank
        FROM groups a JOIN groups b ON a."group" < b."group")
    SELECT strategy, g1, g2, pair_rank
    FROM (SELECT * FROM adjacent UNION ALL
          SELECT * FROM rnd WHERE pair_rank <= 3) u
    ORDER BY strategy, pair_rank
    """,
)
def q_pair_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M10 — 'adjacent' pairs (g0-g1, g2-g3, …) and seeded-'random'
    first-3 of all combinations (md5 order replacing the reference's
    seeded shuffle)."""
    groups = (
        grouped_embeddings(spark, sf_dir)
        .select("group")
        .distinct()
        .withColumn("idx", F.row_number().over(Window.orderBy("group")))
    )
    a, b = groups.alias("a"), groups.alias("b")
    adjacent = (
        a.join(b, F.col("b.idx") == F.col("a.idx") + 1)
        .where(F.col("a.idx") % 2 == 1)
        .select(
            F.lit("adjacent").alias("strategy"),
            F.col("a.group").alias("g1"),
            F.col("b.group").alias("g2"),
            ((F.col("a.idx") + 1) / 2).cast("int").alias("pair_rank"),
        )
    )
    rnd = (
        a.join(b, F.col("a.group") < F.col("b.group"))
        .select(
            F.lit("random").alias("strategy"),
            F.col("a.group").alias("g1"),
            F.col("b.group").alias("g2"),
        )
        .withColumn(
            "pair_rank",
            F.row_number()
            .over(
                Window.orderBy(
                    F.md5(F.concat_ws("|", F.lit("42"), F.col("g1"), F.col("g2")))
                )
            )
            .cast("int"),
        )
        .where(F.col("pair_rank") <= 3)
    )
    return adjacent.unionByName(rnd).orderBy("strategy", "pair_rank")


# ---------------------------------------------------------------------------
# M4 — t-SNE (bounded collect; rows-only)
# ---------------------------------------------------------------------------

_TSNE_CAP = 50  # rows per group; q_tsne2d's oracle replays the cap


def tsne2d(df: DataFrame) -> DataFrame:
    """M4 — the reference's capped t-SNE (X5: sample-before-quadratic)
    of ``(group, image_key, vector)`` rows: seeded per-group cap of
    ``_TSNE_CAP`` rows → bounded toPandas collect → the engine's
    vendored exact t-SNE (``tsne.tsne_exact``: perplexity clamp, PCA
    init, fixed seed — the semantics of ``src/analyze_embedding_with_
    tsne.py:59-77`` without the sklearn dependency). Returns
    (group, key, x, y) as a DataFrame again."""
    import numpy as np

    from .tsne import tsne_exact

    spark = df.sparkSession
    capped = (
        df.withColumn("_r", seeded_rank("group", "image_key"))
        .where(F.col("_r") <= _TSNE_CAP)
        .select("group", "image_key", "vector")
    )
    pdf = capped.toPandas()  # bounded: <= _TSNE_CAP * n_groups rows
    pdf = pdf.sort_values(["group", "image_key"]).reset_index(drop=True)
    X = np.asarray(pdf["vector"].tolist(), dtype=np.float64)
    coords, _kl = tsne_exact(X)
    out = pdf[["group", "image_key"]].copy()
    out["x"] = coords[:, 0].astype(float)
    out["y"] = coords[:, 1].astype(float)
    return spark.createDataFrame(out)


@query(
    "q_tsne2d",
    f"""
    WITH {GROUPED_EMBEDDINGS_CTE.strip()},
    ranked AS (
        SELECT "group", image_key,
               {_seeded_rank_sql('"group"', "image_key")} AS rk
        FROM grouped_embeddings)
    SELECT "group", image_key, TRUE AS coords_finite
    FROM ranked WHERE rk <= {_TSNE_CAP}
    ORDER BY "group", image_key
    """,
)
def q_tsne2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 — capped 2-D embedding of grouped vectors, upgraded from
    rows-only in r6: the A7 seeded cap-sample membership is
    rank-over-md5, so the oracle replays exactly WHICH (group,
    image_key) rows the solver embedded — one hashed row per sampled
    input — while the solver-specific layout enters the hash as a
    per-row coords-finite boolean the oracle expects to be TRUE. The
    actual (x, y) coordinates remain available via :func:`tsne2d`,
    which keeps its determinism + KL-decrease invariant tests."""
    coords = tsne2d(grouped_embeddings(spark, sf_dir))
    finite = (
        ~F.isnan("x") & ~F.isnan("y")
        & (F.abs("x") < float("inf")) & (F.abs("y") < float("inf"))
    )
    return coords.select(
        "group", "image_key", finite.alias("coords_finite")
    )


# ---------------------------------------------------------------------------
# Embedding clustering (corpus curation: cluster-and-inspect; also the
# coarse quantizer that similarity.ivf_assign trains per-query)
# ---------------------------------------------------------------------------

_KMEANS_K = 8  # q_kmeans_clusters' oracle expects this many clusters
_KMEANS_SEED = 42


def kmeans_profile(emb: DataFrame) -> DataFrame:
    """Distributed k-means over the embedding column, emitting one row
    per cluster: size + mean distance to the centroid. Cluster ids are
    relabeled by (size desc, original id) so output is stable across
    runs with the same seed even if MLlib renumbers.

    Scale shape: MLlib KMeans is the scale path (broadcast centroids,
    map-side assignment, treeAggregate updates — no all-pairs stage);
    the profile is one groupBy(cluster) over k<<N groups."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feat = emb.select(
        "vec_id", array_to_vector(F.col("embedding")).alias("features")
    )
    model = KMeans(k=_KMEANS_K, seed=_KMEANS_SEED, featuresCol="features")
    model = model.fit(feat)
    assigned = model.transform(feat)
    centers = [
        (int(i), [float(x) for x in c])
        for i, c in enumerate(model.clusterCenters())
    ]
    cdf = assigned.sparkSession.createDataFrame(
        centers, "cluster int, centroid array<double>"
    )
    from pyspark.ml.functions import vector_to_array

    prof = (
        assigned.select(
            "vec_id",
            F.col("prediction").alias("cluster"),
            vector_to_array("features").alias("v"),
        )
        .join(F.broadcast(cdf), "cluster")
        .withColumn(
            "dist",
            F.sqrt(
                F.aggregate(
                    F.zip_with(
                        "v", "centroid", lambda a, b: (a - b) * (a - b)
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
            ),
        )
        .groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("dist"), 6).alias("mean_dist"),
        )
    )
    w = Window.orderBy(F.desc("n"), "cluster")
    return (
        prof.withColumn("rank", F.row_number().over(w))
        .select("rank", "n", "mean_dist")
        .orderBy("rank")
    )


@query(
    "q_kmeans_clusters",
    f"""
    SELECT {_KMEANS_K} AS n_clusters, CAST(COUNT(*) AS BIGINT) AS n_points,
           CAST(MIN(len(embedding)) AS INT) AS dim,
           TRUE AS sizes_partition_corpus, TRUE AS sizes_desc,
           TRUE AS dist_finite
    FROM embeddings
    """,
)
def q_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding clustering summary (k=8), upgraded from rows-only in
    r6 (r5 VERDICT stretch item): the deterministic half (cluster
    count, corpus size) hashes directly; the engine-local assignment
    enters the hash as booleans the oracle expects to be TRUE — the
    per-cluster sizes partition the corpus exactly, the size-ranked
    relabeling is actually descending, and every mean centroid
    distance is finite and non-negative. Hashing the raw sizes was
    rejected as fixture-brittle (they move with any MLlib
    initialization change); the r8 strengthening (VERDICT r7 task 8)
    instead adds the input dimensionality — a data-derived,
    oracle-replayable fact. The per-cluster profile stays available
    via :func:`kmeans_profile` with its own determinism test."""
    emb = table(spark, sf_dir, "embeddings")
    prof = kmeans_profile(emb)
    stats = emb.agg(
        F.count(F.lit(1)).alias("_n"), F.min(F.size("embedding")).alias("_d")
    ).first()
    corpus_n, dim = stats["_n"], stats["_d"]
    lagged = F.lag("n").over(Window.orderBy("rank"))
    flags = prof.select(
        "rank",
        "n",
        "mean_dist",
        F.coalesce(lagged >= F.col("n"), F.lit(True)).alias("desc_ok"),
    )
    return flags.agg(
        F.count(F.lit(1)).cast("int").alias("n_clusters"),
        F.sum("n").cast("bigint").alias("n_points"),
        F.lit(dim).cast("int").alias("dim"),
        (F.sum("n") == F.lit(corpus_n)).alias("sizes_partition_corpus"),
        F.bool_and("desc_ok").alias("sizes_desc"),
        F.bool_and(
            ~F.isnan("mean_dist")
            & (F.col("mean_dist") >= 0)
            & (F.col("mean_dist") < float("inf"))
        ).alias("dist_finite"),
    )


# ---------------------------------------------------------------------------
# Composed MLlib Pipeline (the reference's analysis chain as ONE
# estimator graph): StandardScaler → PCA(8) → LogisticRegression,
# fitted via the Pipeline API so the whole chain serializes, refits,
# and cross-validates as a unit — the production packaging of the
# separate M4-M6 stages (`src/analyze_embedding_with_pca.py:74-97`
# scales-then-projects-then-scores the same way, eagerly).
# ---------------------------------------------------------------------------


@query(
    "q_ml_pipeline",
    """
    SELECT CAST(label AS DOUBLE) AS label,
           CAST(SUM(CASE WHEN vec_id % 5 = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS support,
           CAST(SUM(CASE WHEN vec_id % 5 <> 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_train,
           TRUE AS accuracy_valid
    FROM embeddings
    WHERE vec_id < 400
    GROUP BY label
    HAVING SUM(CASE WHEN vec_id % 5 = 0 THEN 1 ELSE 0 END) > 0
    ORDER BY label
    """,
)
def q_ml_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fit the scaler→PCA→logreg Pipeline on a deterministic split,
    score the held-out rows; emits per-label support plus the
    model-score validity flag. Upgraded from rows-only in r5 (r4
    VERDICT item 3): the deterministic half — the holdout AND (since
    r8, VERDICT r7 task 8) train label distributions produced by the
    vec_id split arithmetic — hashes against the oracle directly, so
    a green row attests the full train/test composition the fit ran
    on; the engine-local logreg accuracy enters the hash as
    ``accuracy_valid`` (accuracy ∈ [0,1] AND prediction produced for
    every holdout row), which the oracle expects to be literally TRUE. (The synthetic labels are only
    weakly predictable from the embeddings — the contract here is the
    Pipeline packaging, not fixture accuracy.)"""
    from pyspark.ml import Pipeline
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import PCA as MLPca
    from pyspark.ml.feature import StandardScaler
    from pyspark.ml.functions import array_to_vector

    emb = (
        table(spark, sf_dir, "embeddings")
        .where(F.col("vec_id") < 400)
        .select(
            "vec_id",
            F.col("label").cast("double").alias("label"),
            array_to_vector(F.col("embedding")).alias("raw"),
        )
        # fixture-sized fit: one partition, same rationale as
        # cv_separability's one-partition training set
        .repartition(1)
    )
    train = emb.where(F.col("vec_id") % 5 != 0)
    test = emb.where(F.col("vec_id") % 5 == 0)
    pipe = Pipeline(
        stages=[
            StandardScaler(
                inputCol="raw", outputCol="scaled", withMean=True
            ),
            MLPca(k=8, inputCol="scaled", outputCol="pcs"),
            LogisticRegression(
                featuresCol="pcs", labelCol="label", maxIter=25
            ),
        ]
    )
    model = pipe.fit(train)
    pred = model.transform(test)
    train_counts = train.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_train")
    )
    return (
        pred.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("support"),
            F.round(
                F.avg(
                    (F.col("prediction") == F.col("label")).cast("double")
                ),
                9,
            ).alias("accuracy"),
            F.count("prediction").alias("n_scored"),
        )
        .join(F.broadcast(train_counts), "label", "left")
        .select(
            "label",
            "support",
            F.coalesce("n_train", F.lit(0).cast("bigint")).alias(
                "n_train"
            ),
            (
                (F.col("accuracy") >= 0.0)
                & (F.col("accuracy") <= 1.0)
                & (F.col("n_scored") == F.col("support"))
            ).alias("accuracy_valid"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# Distributed model evaluation — exact AUC (Mann-Whitney rank-sum form)
# and threshold confusion metrics over scored rows. The ml family's
# first fully hash-oracled query: the "model" is a fixed md5-derived
# linear probe over quantized embeddings, so scores are exact integers
# and the entire evaluation — average ranks, ties, AUC, confusion —
# replays bit-for-bit in SQL.
# ---------------------------------------------------------------------------

def _auc_probe_weights() -> list[int]:
    """w_i = 2*digit - 17, digit = first hex digit of md5('auc|<i>') —
    the q_ann hyperplane derivation under its own seed."""
    import hashlib

    return [
        2 * int(hashlib.md5(f"auc|{i}".encode()).hexdigest()[0], 16) - 17
        for i in range(64)
    ]


_AUC_ORACLE = f"""
    WITH scored AS (
        SELECT vec_id % 3 AS fold,
               CASE WHEN label < 5 THEN 1 ELSE 0 END AS pos,
               (SELECT SUM(CAST(floor(CAST(embedding[pos_i + 1] AS DOUBLE)
                                      * 1048576.0) AS BIGINT)
                           * (2 * instr('0123456789abcdef',
                                substr(md5('auc|' || CAST(pos_i AS VARCHAR)),
                                       1, 1)) - 19))
                FROM (SELECT UNNEST(range(0, 64)) AS pos_i)) AS score
        FROM embeddings),
    per_score AS (
        SELECT fold, score, COUNT(*) AS n, SUM(pos) AS n_pos
        FROM scored GROUP BY fold, score),
    ranked AS (
        SELECT fold, score, n, n_pos,
               COALESCE(SUM(n) OVER (PARTITION BY fold ORDER BY score
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING), 0) AS cum_before
        FROM per_score),
    agg AS (
        SELECT fold,
               SUM(n_pos) AS np,
               SUM(n) - SUM(n_pos) AS nn,
               SUM(n_pos * (2 * cum_before + n + 1)) AS two_rpos,
               SUM(CASE WHEN score >= 0 THEN n_pos ELSE 0 END) AS tp,
               SUM(CASE WHEN score >= 0 THEN n - n_pos ELSE 0 END) AS fp
        FROM ranked GROUP BY fold)
    SELECT CAST(fold AS BIGINT) AS fold,
           CAST(np AS BIGINT) AS n_pos, CAST(nn AS BIGINT) AS n_neg,
           ROUND(CAST(two_rpos - np * (np + 1) AS DOUBLE)
                 / (2.0 * np * nn), 9) AS auc,
           CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
           CAST(np - tp AS BIGINT) AS fn, CAST(nn - fp AS BIGINT) AS tn,
           ROUND(CAST(tp AS DOUBLE) / GREATEST(tp + fp, 1), 9)
               AS precision_at0,
           ROUND(CAST(tp AS DOUBLE) / np, 9) AS recall_at0
    FROM agg ORDER BY fold
    """


@query("q_auc_evaluation", _AUC_ORACLE)
def q_auc_evaluation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-fold exact AUC + threshold-0 confusion metrics for a fixed
    linear probe scoring labels<5 as positive. AUC is computed in the
    Mann-Whitney rank-sum form with AVERAGE ranks for ties, kept in
    integer arithmetic until the single final division
    (2·R_pos = Σ n_pos·(2·cum_before + n + 1) over per-score groups) —
    the distributed-evaluation shape: one groupBy per (fold, score),
    one tiny window over distinct scores, never a global per-row sort.

    At 100 TB this is how AUC is actually computed on a cluster:
    histogram the scores (or score buckets), then rank arithmetic on
    the (small) distinct-score table — the per-row sort a naive
    sklearn-style implementation needs never happens."""
    import hashlib as _h  # noqa: F401  (derivation documented above)

    from .operators.similarity import quantize

    w = _auc_probe_weights()
    weights_arr = "array(" + ",".join(f"{x}L" for x in w) + ")"
    emb = table(spark, sf_dir, "embeddings")
    scored = emb.select(
        (F.col("vec_id") % 3).alias("fold"),
        F.when(F.col("label") < 5, 1).otherwise(0).alias("pos"),
        quantize("embedding").alias("q"),
    ).select(
        "fold",
        "pos",
        F.expr(
            f"aggregate(zip_with(q, {weights_arr}, (a, b) -> a * b),"
            f" CAST(0 AS BIGINT), (acc, v) -> acc + v)"
        ).alias("score"),
    )
    per_score = scored.groupBy("fold", "score").agg(
        F.count(F.lit(1)).alias("n"), F.sum("pos").alias("n_pos")
    )
    ranked = per_score.withColumn(
        "cum_before",
        F.expr(
            "COALESCE(SUM(n) OVER (PARTITION BY fold ORDER BY score"
            " ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)"
        ),
    )
    agg = ranked.groupBy("fold").agg(
        F.sum("n_pos").alias("np"),
        (F.sum("n") - F.sum("n_pos")).alias("nn"),
        F.sum(
            F.col("n_pos") * (2 * F.col("cum_before") + F.col("n") + 1)
        ).alias("two_rpos"),
        F.sum(F.when(F.col("score") >= 0, F.col("n_pos")).otherwise(0)).alias(
            "tp"
        ),
        F.sum(
            F.when(F.col("score") >= 0, F.col("n") - F.col("n_pos")).otherwise(
                0
            )
        ).alias("fp"),
    )
    return agg.select(
        F.col("fold").cast("bigint").alias("fold"),
        F.col("np").cast("bigint").alias("n_pos"),
        F.col("nn").cast("bigint").alias("n_neg"),
        F.round(
            (F.col("two_rpos") - F.col("np") * (F.col("np") + 1)).cast(
                "double"
            )
            / (2.0 * F.col("np") * F.col("nn")),
            9,
        ).alias("auc"),
        F.col("tp").cast("bigint").alias("tp"),
        F.col("fp").cast("bigint").alias("fp"),
        (F.col("np") - F.col("tp")).cast("bigint").alias("fn"),
        (F.col("nn") - F.col("fp")).cast("bigint").alias("tn"),
        F.round(
            F.col("tp").cast("double")
            / F.greatest(F.col("tp") + F.col("fp"), F.lit(1)),
            9,
        ).alias("precision_at0"),
        F.round(F.col("tp").cast("double") / F.col("np"), 9).alias(
            "recall_at0"
        ),
    )


# r7 shared primitive — lives in operators.parity so relational/text
# reuse it without import cycles; kept under the old local name for
# the calibration/Brier call sites below.
from .operators.parity import two_pass_rownum as _two_pass_rn  # noqa: E402


# Exact NTILE(k) from (rn, broadcast n_tot) — shared via parity with
# two_pass_rownum; old local name kept for the call sites below.
from .operators.parity import ntile_expr as _ntile_expr  # noqa: E402



_CAL_BINS = 10


@query(
    "q_calibration_bins",
    f"""
    WITH scored AS (
        SELECT vec_id,
               CASE WHEN label < 5 THEN 1 ELSE 0 END AS pos,
               (SELECT SUM(CAST(floor(CAST(embedding[pos_i + 1] AS DOUBLE)
                                      * 1048576.0) AS BIGINT)
                           * (2 * instr('0123456789abcdef',
                                substr(md5('auc|' || CAST(pos_i AS VARCHAR)),
                                       1, 1)) - 19))
                FROM (SELECT UNNEST(range(0, 64)) AS pos_i)) AS score
        FROM embeddings),
    binned AS (
        SELECT pos, score,
               NTILE({_CAL_BINS}) OVER (ORDER BY score, vec_id) AS bin
        FROM scored)
    SELECT bin,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(pos) AS BIGINT) AS n_pos,
           CAST(MIN(score) AS BIGINT) AS score_lo,
           CAST(MAX(score) AS BIGINT) AS score_hi,
           ROUND(CAST(SUM(pos) AS DOUBLE) / COUNT(*), 9) AS pos_rate
    FROM binned GROUP BY bin ORDER BY bin
    """,
)
def q_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability-diagram bins for the same fixed probe as
    ``q_auc_evaluation``: score deciles (exact NTILE allocation over
    the deterministic (score, vec_id) order), per-bin counts, score
    range, and positive rate — AUC measures ranking quality, this
    measures whether score MAGNITUDE tracks outcome frequency, and
    together they are the standard model-evaluation pair. Integer
    scores end-to-end; the one double (pos_rate) is a single exact
    division.

    r7 scale fix: the decile assignment no longer runs the NTILE
    window over the full scored corpus on one partition — global row
    numbers come from the two-pass range-partition form
    (:func:`_two_pass_rn`) and the NTILE bucket is recovered exactly
    from (rn, broadcast count) arithmetic (:func:`_ntile_expr`),
    bit-identical to the window function's allocation."""
    from .operators.similarity import quantize

    w = _auc_probe_weights()
    weights_arr = "array(" + ",".join(f"{x}L" for x in w) + ")"
    emb = table(spark, sf_dir, "embeddings")
    scored = emb.select(
        "vec_id",
        F.when(F.col("label") < 5, 1).otherwise(0).alias("pos"),
        quantize("embedding").alias("q"),
    ).select(
        "vec_id",
        "pos",
        F.expr(
            f"aggregate(zip_with(q, {weights_arr}, (a, b) -> a * b),"
            f" CAST(0 AS BIGINT), (acc, v) -> acc + v)"
        ).alias("score"),
    )
    n_tot = scored.agg(F.count(F.lit(1)).alias("n_tot"))
    binned = (
        _two_pass_rn(scored, ["score", "vec_id"])
        .crossJoin(F.broadcast(n_tot))
        .withColumn("bin", F.expr(_ntile_expr(_CAL_BINS)))
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("pos").cast("bigint").alias("n_pos"),
            F.min("score").cast("bigint").alias("score_lo"),
            F.max("score").cast("bigint").alias("score_hi"),
            F.round(
                F.sum("pos").cast("double") / F.count(F.lit(1)), 9
            ).alias("pos_rate"),
        )
    )


# ---------------------------------------------------------------------------
# Grouped-aggregate pandas UDAF (§2.9) — the Series→scalar Arrow UDF
# tier, the one UDF shape the engine had not yet exercised: a custom
# aggregate usable in BOTH groupBy and window contexts. Integer
# arithmetic end-to-end, so even the Python aggregation is hash-exact.
# ---------------------------------------------------------------------------

@query(
    "q_pandas_udaf",
    """
    WITH q AS (
        SELECT label, vec_id,
               CAST(floor(CAST(embedding[1] AS DOUBLE) * 1048576.0)
                    AS BIGINT) AS q0
        FROM embeddings),
    grouped AS (
        SELECT label,
               CAST(SUM(q0) AS BIGINT) AS q0_sum,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM q GROUP BY label),
    windowed AS (
        SELECT label, vec_id,
               CAST(SUM(q0) OVER (PARTITION BY label ORDER BY vec_id
                                  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS roll3
        FROM q),
    wtop AS (
        SELECT label, CAST(MAX(roll3) AS BIGINT) AS max_roll3
        FROM windowed GROUP BY label)
    SELECT g.label, g.n, g.q0_sum, w.max_roll3
    FROM grouped g JOIN wtop w ON g.label = w.label
    ORDER BY g.label
    """,
)
def q_pandas_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom aggregate via a GROUPED_AGG pandas UDF (Series→scalar,
    Arrow-batched) applied in BOTH supported contexts: a groupBy
    aggregation (per-label sum of fixed-point first components) and a
    bounded window frame (rolling 3-row sum per label, max taken per
    label). int64 arithmetic makes the Python aggregation order-free
    and hash-exact against plain SQL — the point is the API surface:
    a user-defined aggregate that drops into groupBy AND over(window)
    like any built-in. (For additive ints the built-in SUM is the
    production choice; the UDAF tier exists for aggregates Spark
    lacks — this query keeps its semantics verifiable.)"""
    from pyspark.sql.functions import pandas_udf

    # Series -> scalar hints make it a GROUPED_AGG pandas UDF; `pd` is
    # module-global so the postponed (string) annotations resolve
    @pandas_udf("long")
    def int_sum(v: pd.Series) -> int:
        return int(v.sum())

    emb = table(spark, sf_dir, "embeddings")
    q = emb.select(
        "label",
        "vec_id",
        # Spark [] is 0-based, DuckDB's 1-based: both mean element ONE
        F.expr(
            "CAST(floor(CAST(embedding[0] AS DOUBLE) * 1048576.0) AS BIGINT)"
        ).alias("q0"),
    )
    # Spark disallows mixing pandas and JVM aggregates in one agg — the
    # row count rides the same UDAF over a ones column
    grouped = q.withColumn("one", F.lit(1).cast("long")).groupBy("label").agg(
        int_sum("one").alias("n"),
        int_sum("q0").alias("q0_sum"),
    )
    w = (
        Window.partitionBy("label")
        .orderBy("vec_id")
        .rowsBetween(-2, 0)
    )
    windowed = q.withColumn("roll3", int_sum("q0").over(w))
    wtop = windowed.groupBy("label").agg(
        F.max("roll3").cast("bigint").alias("max_roll3")
    )
    return (
        grouped.join(wtop, "label")
        .select(
            "label",
            F.col("n").cast("bigint").alias("n"),
            F.col("q0_sum").cast("bigint").alias("q0_sum"),
            "max_roll3",
        )
    )


# ---------------------------------------------------------------------------
# Precision-recall curve summary (average precision + best F1) — the
# ranking-eval companion to q_auc_evaluation, over the same fixed
# md5 linear probe (integer scores -> every threshold statistic is
# exact). AP here is the ties-grouped step form: walking distinct
# scores descending, AP = sum over thresholds of (n_pos_at_s / P) *
# precision_at_s — the deterministic variant sklearn's
# average_precision_score computes when ties are grouped.
# ---------------------------------------------------------------------------

_PR_ORACLE = """
    WITH scored AS (
        SELECT vec_id % 3 AS fold,
               CASE WHEN label < 5 THEN 1 ELSE 0 END AS pos,
               (SELECT SUM(CAST(floor(CAST(embedding[pos_i + 1] AS DOUBLE)
                                      * 1048576.0) AS BIGINT)
                           * (2 * instr('0123456789abcdef',
                                substr(md5('auc|' || CAST(pos_i AS VARCHAR)),
                                       1, 1)) - 19))
                FROM (SELECT UNNEST(range(0, 64)) AS pos_i)) AS score
        FROM embeddings),
    per_score AS (
        SELECT fold, score, COUNT(*) AS n, SUM(pos) AS n_pos
        FROM scored GROUP BY fold, score),
    cum AS (
        SELECT fold, score, n, n_pos,
               SUM(n) OVER w AS cum_n,
               SUM(n_pos) OVER w AS cum_tp
        FROM per_score
        WINDOW w AS (PARTITION BY fold ORDER BY score DESC
                     ROWS UNBOUNDED PRECEDING)),
    tot AS (
        SELECT fold, SUM(n_pos) AS np, SUM(n) - SUM(n_pos) AS nn
        FROM per_score GROUP BY fold),
    terms AS (
        SELECT c.fold, t.np, t.nn,
               (CAST(c.n_pos AS DOUBLE) / t.np)
                   * (CAST(c.cum_tp AS DOUBLE) / c.cum_n) AS ap_term,
               CAST(2 * c.cum_tp AS DOUBLE) / (c.cum_n + t.np) AS f1
        FROM cum c JOIN tot t ON c.fold = t.fold)
    SELECT CAST(fold AS BIGINT) AS fold,
           CAST(MIN(np) AS BIGINT) AS n_pos,
           CAST(MIN(nn) AS BIGINT) AS n_neg,
           CAST(COUNT(*) AS BIGINT) AS n_thresholds,
           CAST(SUM(CAST(ap_term AS DECIMAL(18,12))) AS DOUBLE) AS ap,
           MAX(f1) AS best_f1
    FROM terms
    GROUP BY fold
    ORDER BY fold
    """


@query("q_pr_curve_ap", _PR_ORACLE)
def q_pr_curve_ap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-fold average precision and best achievable F1 for the fixed
    probe (same scoring as q_auc_evaluation). All curve points derive
    from the distinct-score histogram — one groupBy plus one
    partitioned window, never a per-row sort — and every precision/
    recall value is a ratio of exact integers, so the curve summary is
    bit-identical cross-engine (ap_terms sum through DECIMAL(18,12):
    each term < 1, so value*10^12 stays double-exact)."""
    from .operators.similarity import quantize

    w = _auc_probe_weights()
    weights_arr = "array(" + ",".join(f"{x}L" for x in w) + ")"
    emb = table(spark, sf_dir, "embeddings")
    scored = emb.select(
        (F.col("vec_id") % 3).alias("fold"),
        F.when(F.col("label") < 5, 1).otherwise(0).alias("pos"),
        quantize("embedding").alias("q"),
    ).select(
        "fold",
        "pos",
        F.expr(
            f"aggregate(zip_with(q, {weights_arr}, (a, b) -> a * b),"
            f" CAST(0 AS BIGINT), (acc, v) -> acc + v)"
        ).alias("score"),
    )
    per_score = scored.groupBy("fold", "score").agg(
        F.count(F.lit(1)).alias("n"), F.sum("pos").alias("n_pos")
    )
    from pyspark.sql.window import Window

    win = (
        Window.partitionBy("fold")
        .orderBy(F.desc("score"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = per_score.select(
        "fold",
        "score",
        "n",
        "n_pos",
        F.sum("n").over(win).alias("cum_n"),
        F.sum("n_pos").over(win).alias("cum_tp"),
    )
    tot = per_score.groupBy("fold").agg(
        F.sum("n_pos").alias("np"),
        (F.sum("n") - F.sum("n_pos")).alias("nn"),
    )
    terms = cum.join(F.broadcast(tot), "fold").select(
        "fold",
        "np",
        "nn",
        (
            (F.col("n_pos").cast("double") / F.col("np"))
            * (F.col("cum_tp").cast("double") / F.col("cum_n"))
        ).alias("ap_term"),
        (
            (2 * F.col("cum_tp")).cast("double")
            / (F.col("cum_n") + F.col("np"))
        ).alias("f1"),
    )
    return (
        terms.groupBy("fold")
        .agg(
            F.min("np").cast("bigint").alias("n_pos"),
            F.min("nn").cast("bigint").alias("n_neg"),
            F.count(F.lit(1)).alias("n_thresholds"),
            F.expr(
                "CAST(SUM(CAST(ap_term AS DECIMAL(18,12))) AS DOUBLE)"
            ).alias("ap"),
            F.max("f1").alias("best_f1"),
        )
        .select(
            F.col("fold").cast("bigint").alias("fold"),
            "n_pos",
            "n_neg",
            "n_thresholds",
            "ap",
            "best_f1",
        )
    )


# ---------------------------------------------------------------------------
# Nearest-centroid classifier (Rocchio) — the fully-ORACLED baseline
# classifier next to the MLlib fits: per-label centroids are exact
# DECIMAL-routed means (snapped to 1e-9 so both engines score against
# identical prototypes), assignment is an exact sequential-fold
# squared distance against the 10 broadcast centroids, and the output
# is the complete confusion matrix. One explode-aggregate for the
# centroids, one broadcast join for assignment — no iterative fit.
# ---------------------------------------------------------------------------

_NCC_ORACLE = f"""
    WITH cells AS (
        SELECT label, vec_id, pos,
               CAST(embedding[pos + 1] AS DOUBLE) AS x
        FROM embeddings, (SELECT UNNEST(range(0, {_DIM})) AS pos)),
    cent AS (
        SELECT label AS c_label, pos,
               ROUND(CAST(SUM(CAST(x AS DECIMAL(12,9))) AS DOUBLE)
                     / COUNT(*), 9) AS c
        FROM cells GROUP BY label, pos),
    cent_arr AS (
        SELECT c_label, list(c ORDER BY pos) AS cvec FROM cent
        GROUP BY c_label),
    scored AS (
        SELECT e.vec_id, e.label AS true_label, a.c_label,
               list_reduce(
                   list_prepend(CAST(0 AS DOUBLE),
                       list_transform(range(1, {_DIM} + 1),
                           i -> (CAST(e.embedding[i] AS DOUBLE)
                                 - a.cvec[i])
                                * (CAST(e.embedding[i] AS DOUBLE)
                                   - a.cvec[i]))),
                   (acc, v) -> acc + v) AS dist
        FROM embeddings e CROSS JOIN cent_arr a),
    assigned AS (
        SELECT vec_id, true_label, c_label AS pred_label,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY dist, c_label) AS rk
        FROM scored)
    SELECT CAST(true_label AS INTEGER) AS true_label,
           CAST(pred_label AS INTEGER) AS pred_label,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM assigned WHERE rk = 1
    GROUP BY true_label, pred_label
    ORDER BY true_label, pred_label
    """


@query("q_centroid_classifier", _NCC_ORACLE)
def q_centroid_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid confusion matrix over the embeddings: exact
    snapped centroids, exact fold distances (Spark's aggregate-over-
    zip_with replayed term-by-term by DuckDB's list_reduce — the
    _sq8_rescore parity pattern), smallest-label tie-break. The
    centroid table is 10 x {_DIM} values broadcast to the scoring
    pass; at 100 TB this is one corpus read for centroids and one for
    assignment, both map-side beyond their rollups."""
    emb = table(spark, sf_dir, "embeddings")
    cells = emb.select(
        "label", "vec_id", F.posexplode("embedding").alias("pos", "x")
    ).withColumn("x", F.col("x").cast("double"))
    cent = cells.groupBy(F.col("label").alias("c_label"), "pos").agg(
        F.round(
            F.expr(
                "CAST(SUM(CAST(x AS DECIMAL(12,9))) AS DOUBLE) / COUNT(*)"
            ),
            9,
        ).alias("c")
    )
    cent_arr = cent.groupBy("c_label").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(pos, c))),"
            " s -> s.c)"
        ).alias("cvec")
    )
    dist_expr = (
        "aggregate(zip_with(embedding, cvec,"
        " (x, y) -> (CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)),"
        " CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    scored = emb.select("vec_id", F.col("label").alias("true_label"), "embedding").join(
        F.broadcast(cent_arr)
    ).select(
        "vec_id",
        "true_label",
        "c_label",
        F.expr(dist_expr).alias("dist"),
    )
    w = Window.partitionBy("vec_id").orderBy("dist", "c_label")
    assigned = scored.withColumn("rk", F.row_number().over(w)).where(
        F.col("rk") == 1
    )
    return (
        assigned.groupBy(
            F.col("true_label").cast("int").alias("true_label"),
            F.col("c_label").cast("int").alias("pred_label"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )


# ---------------------------------------------------------------------------
# Quantile normalization — align each group's value distribution to
# the pooled reference (the cross-batch feature-alignment transform;
# in bioinformatics, the microarray normalizer): a value maps to the
# pooled quantile at its within-group percent rank, interpolated
# piecewise-linearly between broadcast reference deciles. One window
# per group for ranks + one broadcast of 11 scalars.
# ---------------------------------------------------------------------------

_QN_QS = "array(0.0D,0.1D,0.2D,0.3D,0.4D,0.5D,0.6D,0.7D,0.8D,0.9D,1.0D)"
_QN_QS_DUCK = "[0.0,0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9,1.0]"


@query(
    "q_quantile_normalize",
    f"""
    WITH ref AS (
        SELECT list_transform(
                   quantile_cont(o_totalprice, {_QN_QS_DUCK}),
                   x -> round(x, 9)) AS qs
        FROM orders),
    ranked AS (
        SELECT o_orderpriority AS grp, o_totalprice AS v,
               PERCENT_RANK() OVER (PARTITION BY o_orderpriority
                                    ORDER BY o_totalprice, o_orderkey)
                   AS pr
        FROM orders),
    mapped AS (
        SELECT grp, v, pr,
               CAST(floor(pr * 10) AS INTEGER) AS seg,
               pr * 10 - floor(pr * 10) AS frac
        FROM ranked),
    normed AS (
        SELECT m.grp,
               CASE WHEN m.seg >= 10 THEN r.qs[11]
                    ELSE r.qs[m.seg + 1]
                         + (r.qs[m.seg + 2] - r.qs[m.seg + 1]) * m.frac
               END AS nv,
               m.v
        FROM mapped m CROSS JOIN ref r)
    SELECT grp AS o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(nv AS DECIMAL(18,6))) AS DOUBLE) AS normed_sum,
           ROUND(MIN(nv), 6) AS normed_min,
           ROUND(MAX(nv), 6) AS normed_max
    FROM normed
    GROUP BY grp
    ORDER BY grp
    """,
)
def q_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-normalize o_totalprice within each priority group to
    the pooled distribution: percent rank per group, piecewise-linear
    interpolation between the 11 broadcast reference deciles
    (ROUND-snapped), per-group checksums of the normalized column.
    After normalization every group shares the pooled shape — the min
    maps to the pooled p0, the max to the pooled p100 (visible in the
    normed_min/normed_max columns). Parity: percent_rank is a ratio
    of exact ranks, the lerp is IEEE on snapped constants, sums are
    DECIMAL-routed.

    Freq-form percentile lever (r6 VERDICT stretch): audited, NOT
    applied — o_totalprice is ~unique per row (sf0.1: 150,000 rows /
    149,743 distinct), so the pre-counted value table the lever needs
    would be as large as the input; the single reference-decile pass
    stays as-is (the r12 histogram rank-selection wiring was measured
    and reverted here — see the inline note)."""
    o = table(spark, sf_dir, "orders")
    # reference deciles stay the Percentile aggregate: the histogram
    # rank-selection helper was wired here in r12 and REVERTED by the
    # mid-round bench (1.20 -> 2.19 s — over the 150k-row orders input
    # the helper's extra tiny jobs dominate; it pays off on
    # lineitem-sized domains, see q_quantile_band_join)
    ref = o.agg(
        F.expr(
            f"transform(percentile(o_totalprice, {_QN_QS}),"
            " x -> round(x, 9))"
        ).alias("qs")
    )
    w = Window.partitionBy("o_orderpriority").orderBy(
        "o_totalprice", "o_orderkey"
    )
    ranked = o.select(
        F.col("o_orderpriority").alias("grp"),
        F.col("o_totalprice").alias("v"),
        F.percent_rank().over(w).alias("pr"),
    )
    mapped = ranked.select(
        "grp",
        "v",
        "pr",
        F.expr("CAST(floor(pr * 10) AS INT)").alias("seg"),
        F.expr("pr * 10 - floor(pr * 10)").alias("frac"),
    )
    normed = mapped.join(F.broadcast(ref)).select(
        "grp",
        F.when(F.col("seg") >= 10, F.expr("qs[10]"))
        .otherwise(
            F.expr("qs[seg] + (qs[seg + 1] - qs[seg]) * frac")
        )
        .alias("nv"),
    )
    return (
        normed.groupBy(F.col("grp").alias("o_orderpriority"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr(
                "CAST(SUM(CAST(nv AS DECIMAL(18,6))) AS DOUBLE)"
            ).alias("normed_sum"),
            F.round(F.min("nv"), 6).alias("normed_min"),
            F.round(F.max("nv"), 6).alias("normed_max"),
        )
        .transform(sort_bounded, "o_orderpriority")
    )


# ---------------------------------------------------------------------------
# MLlib LSH APIs (SURVEY M11 names MinHashLSH / BucketedRandomProjectionLSH
# as the library route to dedup + ANN): the engine's hand-rolled
# minhash/sign-LSH stay the oracle-exact production paths, these two
# queries close the API surface with the MLlib estimators — and still
# hash-verify, because the OUTPUT CONTRACT is the exact-verified pair
# set (candidates come from MLlib's seeded hashes, every candidate is
# re-verified exactly, and the oracle computes the same exact pair set
# all-pairs on the bounded fixture; a recall miss by the LSH would
# break the hash — the recall contract IS the test).
# ---------------------------------------------------------------------------

_MLSH_N = 120        # base docs (plus their planted variants) —
                     # the tiny shared vocabulary makes MOST pairs
                     # moderately similar, so approxSimilarityJoin's
                     # candidate volume grows near-quadratically in
                     # the fixture size; 120 keeps the showcase ~3 s
_MLSH_SH = 3         # shingle width (tokens)
_MLSH_J = 0.6        # exact-Jaccard output threshold


@query(
    "q_mllib_minhash_join",
    f"""
    WITH base AS (
        SELECT doc_id, text FROM documents WHERE doc_id < {_MLSH_N}
        UNION ALL
        SELECT doc_id + 1000000, text || ' near dup tail'
        FROM documents WHERE doc_id < {_MLSH_N} AND doc_id % 5 = 0),
    toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                           w -> w <> '') AS t
        FROM base),
    sh AS (
        SELECT DISTINCT doc_id,
               array_to_string(t[i : i + {_MLSH_SH - 1}], ' ') AS s
        FROM toks,
             UNNEST(range(1, greatest(len(t) - {_MLSH_SH - 1}, 0) + 1))
                 AS r(i)),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id),
    jac AS (
        SELECT i.doc_a, i.doc_b,
               CAST(i.c AS DOUBLE) / (sa.n + sb.n - i.c) AS j
        FROM inter i
        JOIN sizes sa ON i.doc_a = sa.doc_id
        JOIN sizes sb ON i.doc_b = sb.doc_id)
    SELECT CAST(doc_a AS BIGINT) AS doc_a, CAST(doc_b AS BIGINT) AS doc_b,
           ROUND(j, 9) AS jaccard
    FROM jac WHERE j >= {_MLSH_J}
    ORDER BY doc_a, doc_b
    """,
)
def q_mllib_minhash_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHashLSH near-dup join over the bounded planted fixture:
    HashingTF binary shingle vectors -> MinHashLSH(seed) ->
    approxSimilarityJoin -> EXACT Jaccard re-verification on the true
    shingle sets, emitting pairs with J >= {_MLSH_J}. The oracle
    computes the same exact pair set all-pairs — if the seeded LSH
    dropped a qualifying pair, the row would be missing and the hash
    would fail."""
    from pyspark.ml.feature import HashingTF, MinHashLSH

    docs = table(spark, sf_dir, "documents").where(
        F.col("doc_id") < _MLSH_N
    )
    base = docs.select("doc_id", "text").unionByName(
        docs.where(F.col("doc_id") % 5 == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" near dup tail")).alias("text"),
        )
    )
    toks = "filter(split(lower(text), '[^a-z0-9]+'), w -> w != '')"
    shingled = base.select(
        "doc_id",
        "text",
        F.array_distinct(
            F.expr(
                f"transform(sequence(1, greatest(size({toks})"
                f" - {_MLSH_SH - 1}, 0)),"
                f" i -> array_join(slice({toks}, i, {_MLSH_SH}), ' '))"
            )
        ).alias("shingles"),
    ).where(F.size("shingles") > 0)
    tf = HashingTF(
        inputCol="shingles", outputCol="features",
        numFeatures=1 << 18, binary=True,
    )
    # pin: the shingle HOF subplan feeds BOTH join sides and the
    # exact verify — uncheckpointed it re-evaluates ~3x (the
    # CollapseProject inlining gotcha; measured 12 s -> ~4 s at sf0.1)
    feat = tf.transform(shingled).localCheckpoint(eager=True)
    lsh = MinHashLSH(
        inputCol="features", outputCol="hashes",
        numHashTables=12, seed=42,
    ).fit(feat)
    cand = (
        lsh.approxSimilarityJoin(feat, feat, 0.45, distCol="dist")
        .select(
            F.col("datasetA.doc_id").alias("doc_a"),
            F.col("datasetA.shingles").alias("sh_a"),
            F.col("datasetB.doc_id").alias("doc_b"),
            F.col("datasetB.shingles").alias("sh_b"),
        )
        .where(F.col("doc_a") < F.col("doc_b"))
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    verified = cand.select(
        "doc_a",
        "doc_b",
        (inter.cast("double") / union).alias("j"),
    ).where(F.col("j") >= _MLSH_J)
    return (
        verified.select(
            F.col("doc_a").cast("bigint").alias("doc_a"),
            F.col("doc_b").cast("bigint").alias("doc_b"),
            F.round("j", 9).alias("jaccard"),
        )
        .distinct()
    )


_BRP_N = 400      # bounded fixture
_BRP_D2 = 1.10    # exact squared-distance output threshold


@query(
    "q_mllib_brp_lsh_join",
    f"""
    WITH e AS (
        SELECT vec_id, embedding FROM embeddings WHERE vec_id < {_BRP_N}),
    p AS (
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               list_reduce(list_prepend(CAST(0 AS DOUBLE),
                   list_transform(range(1, 65),
                       i -> (CAST(a.embedding[i] AS DOUBLE)
                             - CAST(b.embedding[i] AS DOUBLE))
                            * (CAST(a.embedding[i] AS DOUBLE)
                               - CAST(b.embedding[i] AS DOUBLE)))),
                   (x, y) -> x + y) AS d2
        FROM e a JOIN e b ON a.vec_id < b.vec_id)
    SELECT CAST(vec_a AS BIGINT) AS vec_a, CAST(vec_b AS BIGINT) AS vec_b,
           ROUND(d2, 9) AS dist2
    FROM p WHERE d2 <= {_BRP_D2}
    ORDER BY vec_a, vec_b
    """,
)
def q_mllib_brp_lsh_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BucketedRandomProjectionLSH euclidean near-pair join over the
    first {_BRP_N} embeddings, exact-verified: MLlib's seeded
    projections generate candidates, every candidate's squared
    distance is recomputed with the exact sequential fold, and only
    d2 <= {_BRP_D2} survives — the same recall-contract oracle as
    q_mllib_minhash_join (the all-pairs exact set). The fixture has
    no planted clusters, so the pair distances sit near the bulk —
    the adversarial regime for LSH — and the parameters (bucket
    length 2.0, 10 tables) are chosen recall-first; the hand-rolled
    sign-LSH/IVF paths remain the production pruning story."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    emb = (
        table(spark, sf_dir, "embeddings")
        .where(F.col("vec_id") < _BRP_N)
        .select(
            "vec_id",
            "embedding",
            array_to_vector(
                F.expr("transform(embedding, x -> CAST(x AS DOUBLE))")
            ).alias("features"),
        )
    )
    emb = emb.localCheckpoint(eager=True)  # pin — see q_mllib_minhash_join
    lsh = BucketedRandomProjectionLSH(
        inputCol="features",
        outputCol="hashes",
        bucketLength=2.0,
        numHashTables=10,
        seed=42,
    ).fit(emb)
    import math

    # Candidate pruning FIRST, exact verification ONCE per distinct
    # pair (guide §1.2 per-task work): projecting the embedding arrays
    # through approxSimilarityJoin and filtering on the exact fold made
    # Catalyst push the interpreted 64-step zip_with aggregate INTO the
    # join condition — evaluated per hash-COLLISION (10 tables of
    # near-degenerate buckets at bucketLength 2.0 ≈ 10x per distinct
    # pair) and then re-evaluated in the output projection. Distinct
    # the id pairs straight out of the LSH join (MLlib's own sqrt-
    # threshold UDF still prunes inside it), re-attach both embedding
    # arrays via broadcast joins against the 400-row fixture, and the
    # fold runs on distinct pairs only. Interleaved A/B min-of-3 at
    # sf0.1: 4.28 -> 0.76 s, result rows identical (OPTIMIZATION_r13.md
    # §9, row ab_brp_lsh.py).
    cand_ids = (
        lsh.approxSimilarityJoin(
            emb, emb, math.sqrt(_BRP_D2) + 1e-9, distCol="dist"
        )
        .select(
            F.col("datasetA.vec_id").alias("vec_a"),
            F.col("datasetB.vec_id").alias("vec_b"),
        )
        .where(F.col("vec_a") < F.col("vec_b"))
        .distinct()
    )
    ea = emb.select(
        F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea")
    )
    eb = emb.select(
        F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb")
    )
    d2 = (
        "aggregate(zip_with(ea, eb,"
        " (x, y) -> (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))"
        " * (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))),"
        " CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    return (
        cand_ids.join(F.broadcast(ea), "vec_a")
        .join(F.broadcast(eb), "vec_b")
        .select(
            F.col("vec_a").cast("bigint").alias("vec_a"),
            F.col("vec_b").cast("bigint").alias("vec_b"),
            F.expr(d2).alias("d2"),
        )
        .where(F.col("d2") <= _BRP_D2)
        .select("vec_a", "vec_b", F.round("d2", 9).alias("dist2"))
    )


# ---------------------------------------------------------------------------
# MLlib Summarizer — the distributed vector-statistics aggregate
# (tree-aggregated mean / L2 / counts in one pass over Vector rows):
# the library counterpart of the explode-groupBy moments in
# q_standardize. Oracled because the summarizer's mean and L2 are
# plain sums underneath — the oracle recomputes them decimal-exactly
# and both sides ROUND to 1e-6.
# ---------------------------------------------------------------------------

@query(
    "q_mllib_summarizer",
    f"""
    WITH cells AS (
        SELECT label, vec_id, pos, CAST(embedding[pos + 1] AS DOUBLE) AS x
        FROM embeddings, (SELECT UNNEST(range(0, {_DIM})) AS pos)),
    stats AS (
        SELECT label, pos,
               COUNT(*) AS n,
               CAST(SUM(CAST(x AS DECIMAL(12,9))) AS DOUBLE) / COUNT(*)
                   AS mu,
               sqrt(CAST(SUM(CAST(x AS DECIMAL(12,9))
                             * CAST(x AS DECIMAL(12,9))) AS DOUBLE))
                   AS l2
        FROM cells GROUP BY label, pos)
    SELECT CAST(label AS INTEGER) AS label,
           CAST(MIN(n) AS BIGINT) AS n_vectors,
           ROUND(MIN(CASE WHEN pos = 0 THEN mu END), 6) AS mean_d0,
           ROUND(MIN(CASE WHEN pos = 31 THEN mu END), 6) AS mean_d31,
           ROUND(MIN(CASE WHEN pos = 0 THEN l2 END), 6) AS l2_d0,
           ROUND(MIN(CASE WHEN pos = 63 THEN l2 END), 6) AS l2_d63
    FROM stats
    GROUP BY label
    ORDER BY label
    """,
)
def q_mllib_summarizer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label Summarizer.metrics('mean','normL2','count') over the
    embedding vectors — MLlib's one-pass tree-aggregated vector
    statistics — with spot dimensions hashed against the decimal-exact
    SQL recomputation (ROUND 1e-6 absorbs the tree-aggregation's
    float-order difference from the exact decimal sum)."""
    from pyspark.ml.functions import array_to_vector, vector_to_array
    from pyspark.ml.stat import Summarizer

    emb = table(spark, sf_dir, "embeddings").select(
        "label",
        array_to_vector(
            F.expr("transform(embedding, x -> CAST(x AS DOUBLE))")
        ).alias("features"),
    )
    summ = emb.groupBy("label").agg(
        Summarizer.metrics("mean", "normL2", "count")
        .summary(F.col("features"))
        .alias("s")
    )
    flat = summ.select(
        "label",
        vector_to_array(F.col("s.mean")).alias("mu"),
        vector_to_array(F.col("s.normL2")).alias("l2"),
        F.col("s.count").alias("n_vectors"),
    )
    return flat.select(
        F.col("label").cast("int").alias("label"),
        F.col("n_vectors").cast("bigint").alias("n_vectors"),
        F.round(F.expr("mu[0]"), 6).alias("mean_d0"),
        F.round(F.expr("mu[31]"), 6).alias("mean_d31"),
        F.round(F.expr("l2[0]"), 6).alias("l2_d0"),
        F.round(F.expr("l2[63]"), 6).alias("l2_d63"),
    ).transform(sort_bounded, "label")


# ---------------------------------------------------------------------------
# Smoothed target-mean encoding — the categorical feature-engineering
# staple: encode c_mktsegment by P(order is URGENT | segment), shrunk
# toward the global prior with m=100 pseudo-observations. All rates
# in integer ppm (DIV) so the encoding hashes exactly cross-engine.
# ---------------------------------------------------------------------------

_TE_M = 100  # smoothing pseudo-count


@query(
    "q_target_encoding",
    f"""
    WITH labeled AS (
        SELECT c.c_mktsegment AS segment,
               CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END
                   AS y
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
    prior AS (
        SELECT CAST(SUM(y) AS BIGINT) * 1000000 // COUNT(*) AS prior_ppm
        FROM labeled),
    per_cat AS (
        SELECT segment, COUNT(*) AS n, CAST(SUM(y) AS BIGINT) AS pos
        FROM labeled GROUP BY segment)
    SELECT segment,
           CAST(n AS BIGINT) AS n,
           pos,
           CAST(pos * 1000000 // n AS BIGINT) AS raw_ppm,
           CAST((pos * 1000000 + {_TE_M} * p.prior_ppm) // (n + {_TE_M})
                AS BIGINT) AS smoothed_ppm,
           CAST(p.prior_ppm AS BIGINT) AS prior_ppm
    FROM per_cat CROSS JOIN prior p
    ORDER BY segment
    """,
)
def q_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Target-mean encoding of market segment against the binary
    target "order is URGENT", smoothed as (pos + m*prior)/(n + m)
    with m=100 — the shrinkage that keeps rare categories from
    memorizing noise. One fact join + one hash agg; the one-row global
    prior broadcasts into the 5-row category table. Rates are integer
    ppm end-to-end (DIV truncation identical in both engines), so the
    feature column is exact at any scale."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    labeled = o.join(c, o.o_custkey == c.c_custkey).select(
        F.col("c_mktsegment").alias("segment"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1)
        .otherwise(0)
        .alias("y"),
    )
    prior = labeled.agg(
        F.expr(
            "CAST(SUM(y) AS BIGINT) * 1000000 DIV COUNT(*)"
        ).alias("prior_ppm")
    )
    per_cat = labeled.groupBy("segment").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("y").cast("bigint").alias("pos"),
    )
    return (
        per_cat.crossJoin(F.broadcast(prior))
        .select(
            "segment",
            F.col("n").cast("bigint").alias("n"),
            "pos",
            F.expr("CAST(pos * 1000000 DIV n AS BIGINT)").alias("raw_ppm"),
            F.expr(
                f"CAST((pos * 1000000 + {_TE_M} * prior_ppm)"
                f" DIV (n + {_TE_M}) AS BIGINT)"
            ).alias("smoothed_ppm"),
            F.col("prior_ppm").cast("bigint"),
        )
        .transform(sort_bounded, "segment")
    )


# ---------------------------------------------------------------------------
# Brier reliability profile — the probability-space companion of
# q_calibration_bins: scores become rank-percentile forecasts
# p = rank/(N+1) in integer ppm, and each decile bin reports its
# exact Brier mass and calibration gap. Emitting per-bin integer
# components (never a cross-bin double sum) keeps the Murphy
# decomposition hash-exact.
# ---------------------------------------------------------------------------

@query(
    "q_brier_profile",
    f"""
    WITH scored AS (
        SELECT vec_id,
               CASE WHEN label < 5 THEN 1 ELSE 0 END AS pos,
               (SELECT SUM(CAST(floor(CAST(embedding[pos_i + 1] AS DOUBLE)
                                      * 1048576.0) AS BIGINT)
                           * (2 * instr('0123456789abcdef',
                                substr(md5('auc|' || CAST(pos_i AS VARCHAR)),
                                       1, 1)) - 19))
                FROM (SELECT UNNEST(range(0, 64)) AS pos_i)) AS score
        FROM embeddings),
    prob AS (
        SELECT pos,
               CAST(ROW_NUMBER() OVER (ORDER BY score, vec_id) * 1000000
                    // (COUNT(*) OVER () + 1) AS BIGINT) AS p_ppm,
               NTILE({_CAL_BINS}) OVER (ORDER BY score, vec_id) AS bin
        FROM scored)
    SELECT bin,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(pos) AS BIGINT) AS n_pos,
           CAST(SUM(p_ppm) // COUNT(*) AS BIGINT) AS mean_p_ppm,
           CAST(SUM(pos) * 1000000 // COUNT(*) AS BIGINT) AS pos_rate_ppm,
           CAST(SUM(p_ppm) // COUNT(*)
                - SUM(pos) * 1000000 // COUNT(*) AS BIGINT) AS gap_ppm,
           CAST(SUM((p_ppm - pos * 1000000) * (p_ppm - pos * 1000000))
                AS BIGINT) AS brier_fp
    FROM prob GROUP BY bin ORDER BY bin
    """,
)
def q_brier_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-decile Brier components for the shared fixed probe: the
    score becomes a rank-percentile probability forecast (integer ppm,
    deterministic (score, vec_id) order), and each NTILE bin reports
    exact integer n/n_pos/mean-forecast/outcome-rate/calibration-gap
    plus its squared-error mass sum((p-y)^2) in 1e-12 fixed point.
    Reliability is the gap column, resolution is the spread of
    pos_rate across bins, and the global Brier score is
    sum(brier_fp)/(n_total*1e12) — all recoverable from integer
    columns without a single cross-engine double sum.

    r7 scale fix (with q_calibration_bins): the rank-percentile
    forecast and the decile assignment both derive from the two-pass
    global row number (:func:`_two_pass_rn`) plus a broadcast count —
    no partition-less ROW_NUMBER/NTILE/COUNT() OVER () windows over
    the full scored corpus; everything else is one rollup."""
    from .operators.similarity import quantize

    w = _auc_probe_weights()
    weights_arr = "array(" + ",".join(f"{x}L" for x in w) + ")"
    emb = table(spark, sf_dir, "embeddings")
    scored = emb.select(
        "vec_id",
        F.when(F.col("label") < 5, 1).otherwise(0).alias("pos"),
        quantize("embedding").alias("q"),
    ).select(
        "vec_id",
        "pos",
        F.expr(
            f"aggregate(zip_with(q, {weights_arr}, (a, b) -> a * b),"
            f" CAST(0 AS BIGINT), (acc, v) -> acc + v)"
        ).alias("score"),
    )
    n_tot = scored.agg(F.count(F.lit(1)).alias("n_tot"))
    prob = (
        _two_pass_rn(scored, ["score", "vec_id"])
        .crossJoin(F.broadcast(n_tot))
        .select(
            "pos",
            F.expr(
                "CAST(rn * 1000000 DIV (n_tot + 1) AS BIGINT)"
            ).alias("p_ppm"),
            F.expr(_ntile_expr(_CAL_BINS)).alias("bin"),
        )
    )
    return (
        prob.groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("pos").cast("bigint").alias("n_pos"),
            F.expr("CAST(SUM(p_ppm) DIV COUNT(*) AS BIGINT)").alias(
                "mean_p_ppm"
            ),
            F.expr(
                "CAST(SUM(pos) * 1000000 DIV COUNT(*) AS BIGINT)"
            ).alias("pos_rate_ppm"),
            F.expr(
                "CAST(SUM(p_ppm) DIV COUNT(*)"
                " - SUM(pos) * 1000000 DIV COUNT(*) AS BIGINT)"
            ).alias("gap_ppm"),
            F.expr(
                "CAST(SUM((p_ppm - pos * 1000000)"
                " * (p_ppm - pos * 1000000)) AS BIGINT)"
            ).alias("brier_fp"),
        )
    )


# ---------------------------------------------------------------------------
# Grid-DBSCAN — density-based clustering the way it scales: quantize
# points onto an eps-grid (row-local), keep cells with >= minPts
# points, connect Chebyshev-adjacent dense cells, and label the
# components. No point-to-point distance join ever happens — the
# cell rollup bounds everything by the (tiny) occupied-grid size.
# The oracle replays the clustering as a recursive closure.
# ---------------------------------------------------------------------------

_DBS_SCALE = 16   # cells per unit: eps = 1/16
_DBS_MINPTS = 8


@query(
    "q_grid_dbscan",
    f"""
    WITH RECURSIVE pts AS (
        SELECT CAST(floor(CAST(embedding[1] AS DOUBLE) * {_DBS_SCALE})
                    AS INTEGER) AS cx,
               CAST(floor(CAST(embedding[2] AS DOUBLE) * {_DBS_SCALE})
                    AS INTEGER) AS cy
        FROM embeddings),
    cells AS (
        SELECT cx, cy, (cx + 64) * 1000 + (cy + 64) AS cell,
               COUNT(*) AS n_pts
        FROM pts GROUP BY cx, cy),
    dense AS (
        SELECT * FROM cells WHERE n_pts >= {_DBS_MINPTS}),
    edges AS (
        SELECT a.cell AS src, b.cell AS dst
        FROM dense a JOIN dense b
          ON abs(a.cx - b.cx) <= 1 AND abs(a.cy - b.cy) <= 1
         AND a.cell <> b.cell),
    reach(id, lbl) AS (
        SELECT cell, cell FROM dense
        UNION
        SELECT e.src, r.lbl FROM edges e JOIN reach r ON e.dst = r.id),
    labeled AS (
        SELECT id AS cell, MIN(lbl) AS cluster_id FROM reach GROUP BY id)
    SELECT CAST(l.cluster_id AS BIGINT) AS cluster_id,
           CAST(COUNT(*) AS BIGINT) AS n_cells,
           CAST(SUM(d.n_pts) AS BIGINT) AS n_points
    FROM labeled l JOIN dense d ON l.cell = d.cell
    GROUP BY l.cluster_id ORDER BY cluster_id
    """,
)
def q_grid_dbscan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-DBSCAN over the first two embedding dimensions: eps-grid
    assignment is one row-local floor per dim, density filtering is
    one cell rollup, cluster formation is min-label components over
    the Chebyshev-adjacent dense-cell graph (neighbor join via a 9-
    offset explode on the cell key — an equality hash join, never a
    distance predicate). Exactly the structure GriT-DBSCAN-style
    engines use at scale: all quadratic work is confined to the
    occupied-cell table, which is orders of magnitude smaller than
    the point set. Deterministic: cluster_id = min cell id."""
    from .operators.dedup import connected_components

    emb = table(spark, sf_dir, "embeddings")
    pts = emb.select(
        F.expr(
            f"CAST(floor(CAST(embedding[0] AS DOUBLE) * {_DBS_SCALE})"
            " AS INT)"
        ).alias("cx"),
        F.expr(
            f"CAST(floor(CAST(embedding[1] AS DOUBLE) * {_DBS_SCALE})"
            " AS INT)"
        ).alias("cy"),
    )
    cells = pts.groupBy("cx", "cy").agg(F.count(F.lit(1)).alias("n_pts"))
    dense = cells.where(F.col("n_pts") >= _DBS_MINPTS).select(
        "cx",
        "cy",
        F.expr("(cx + 64) * 1000 + (cy + 64)").alias("cell"),
        "n_pts",
    ).localCheckpoint(eager=True)
    probes = dense.select(
        F.col("cell").alias("src"),
        F.explode(
            F.expr("array(-1, 0, 1)")
        ).alias("dx"),
        "cx",
        "cy",
    ).select(
        "src",
        (F.col("cx") + F.col("dx")).alias("nx"),
        F.explode(F.expr("array(-1, 0, 1)")).alias("dy"),
        "cy",
    ).select(
        "src", "nx", (F.col("cy") + F.col("dy")).alias("ny")
    )
    # the probe join finds each adjacency from both cells: keep one
    # direction (connected_components takes each edge once). Pinned:
    # connected_components reads its pairs once per round, and the
    # cell grid takes several rounds
    pairs = (
        probes.join(
            dense.select(
                F.col("cx").alias("nx"),
                F.col("cy").alias("ny"),
                F.col("cell").alias("dst"),
            ),
            ["nx", "ny"],
        )
        .where(F.col("src") < F.col("dst"))
        .select("src", "dst")
        .localCheckpoint(eager=True)
    )
    comp = connected_components(pairs, src="src", dst="dst")
    labeled = dense.join(
        comp.select(F.col("id").alias("cell"), "component"),
        "cell",
        "left",
    ).select(
        "cell",
        "n_pts",
        F.coalesce(F.col("component"), F.col("cell")).alias("cluster_id"),
    )
    return (
        labeled.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_cells"),
            F.sum("n_pts").cast("bigint").alias("n_points"),
        )
        .select(
            F.col("cluster_id").cast("bigint").alias("cluster_id"),
            "n_cells",
            "n_points",
        )
    )


# ---------------------------------------------------------------------------
# Centroid silhouette — cluster-quality score without a point-to-
# point join: per-vector distance to every LABEL CENTROID (the
# simplified silhouette), with centroids kept as exact integer sum
# vectors so d^2 to mean = ||n*x - s||^2 / n^2 needs no float
# centroid. One explode + one broadcast join against the 640-row
# (label, dim) sum table; silhouette in integer micro units.
# ---------------------------------------------------------------------------

_SIL_SCALE = 16384  # 2^14: keeps ||n*x - s||^2 within int64 at sf1


@query(
    "q_centroid_silhouette",
    f"""
    WITH xq AS (
        SELECT vec_id, label AS own, pos,
               CAST(floor(CAST(embedding[pos + 1] AS DOUBLE)
                          * {_SIL_SCALE}) AS BIGINT) AS q
        FROM embeddings
        CROSS JOIN (SELECT UNNEST(range(0, 64)) AS pos)),
    cent AS (
        SELECT own AS lc, pos, CAST(SUM(q) AS BIGINT) AS s
        FROM xq GROUP BY own, pos),
    sizes AS (
        SELECT label AS lc, COUNT(*) AS n_l FROM embeddings GROUP BY label),
    dists AS (
        SELECT x.vec_id, x.own, c.lc,
               CAST(SUM((z.n_l * x.q - c.s) * (z.n_l * x.q - c.s))
                    AS DOUBLE) / (z.n_l * z.n_l) AS d2
        FROM xq x
        JOIN cent c ON x.pos = c.pos
        JOIN sizes z ON c.lc = z.lc
        GROUP BY x.vec_id, x.own, c.lc, z.n_l),
    ab AS (
        SELECT vec_id, own,
               MAX(CASE WHEN lc = own THEN d2 END) AS a,
               MIN(CASE WHEN lc <> own THEN d2 END) AS b
        FROM dists GROUP BY vec_id, own),
    sil AS (
        SELECT own,
               CAST(floor((b - a) / GREATEST(a, b) * 1000000) AS BIGINT)
                   AS s_micro
        FROM ab)
    SELECT CAST(own AS INT) AS label,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(SUM(s_micro) // COUNT(*) AS BIGINT) AS mean_sil_micro,
           CAST(SUM(CASE WHEN s_micro > 0 THEN 1 ELSE 0 END) * 1000000
                // COUNT(*) AS BIGINT) AS frac_separated_ppm
    FROM sil GROUP BY own ORDER BY label
    """,
)
def q_centroid_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simplified silhouette per label over the embeddings: a = d² to
    the own-label centroid, b = min d² to any other, s = (b-a)/max.
    Centroids never materialize as floats — with integer-quantized
    coordinates, d² to the mean is the exact rational
    ||n·x − s||²/n², so a and b are single exact-operand divisions
    and the score floors to micro units. The (label, dim) sum table
    is 640 rows and broadcasts; per-point work is one explode + one
    rollup — the same no-pairwise-join discipline as
    q_centroid_classifier, upgraded from classification to cluster
    quality. At 100 TB only the explode scales; the quadratic
    point-pair silhouette is never computed."""
    emb = table(spark, sf_dir, "embeddings")
    xq = emb.select(
        "vec_id",
        F.col("label").alias("own"),
        F.posexplode(
            F.expr(
                f"transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)"
                f" * {_SIL_SCALE}) AS BIGINT))"
            )
        ).alias("pos", "q"),
    )
    cent = xq.groupBy(F.col("own").alias("lc"), "pos").agg(
        F.sum("q").cast("bigint").alias("s")
    )
    sizes = emb.groupBy(F.col("label").alias("lc")).agg(
        F.count(F.lit(1)).alias("n_l")
    )
    cent_n = cent.join(F.broadcast(sizes), "lc")
    dists = (
        xq.join(F.broadcast(cent_n), "pos")
        .groupBy("vec_id", "own", "lc", "n_l")
        .agg(
            F.expr(
                "CAST(SUM((n_l * q - s) * (n_l * q - s)) AS DOUBLE)"
                " / (n_l * n_l)"
            ).alias("d2")
        )
    )
    ab = dists.groupBy("vec_id", "own").agg(
        F.max(F.when(F.col("lc") == F.col("own"), F.col("d2"))).alias("a"),
        F.min(F.when(F.col("lc") != F.col("own"), F.col("d2"))).alias("b"),
    )
    sil = ab.select(
        "own",
        F.expr(
            "CAST(floor((b - a) / GREATEST(a, b) * 1000000) AS BIGINT)"
        ).alias("s_micro"),
    )
    return (
        sil.groupBy("own")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
            F.expr(
                "CAST(SUM(s_micro) DIV COUNT(*) AS BIGINT)"
            ).alias("mean_sil_micro"),
            F.expr(
                "CAST(SUM(CASE WHEN s_micro > 0 THEN 1 ELSE 0 END)"
                " * 1000000 DIV COUNT(*) AS BIGINT)"
            ).alias("frac_separated_ppm"),
        )
        .select(
            F.col("own").cast("int").alias("label"),
            "n_vecs",
            "mean_sil_micro",
            "frac_separated_ppm",
        )
    )


# ---------------------------------------------------------------------------
# Embedding drift between batches — per-label centroid shift between
# the even/odd vec_id halves (proxy for model-version or time-window
# batches): ||mu_a - mu_b||^2 as the exact rational
# ||n_b*s_a - n_a*s_b||^2 / (n_a*n_b)^2, so drift is measured without
# ever materializing float centroids. The ML-ops check before mixing
# two featurizer runs in one index.
# ---------------------------------------------------------------------------

@query(
    "q_embedding_drift",
    """
    WITH xq AS (
        SELECT vec_id, label, vec_id % 2 AS half, pos,
               CAST(floor(CAST(embedding[pos + 1] AS DOUBLE) * 16384)
                    AS BIGINT) AS q
        FROM embeddings
        CROSS JOIN (SELECT UNNEST(range(0, 64)) AS pos)),
    sums AS (
        SELECT label, half, pos, CAST(SUM(q) AS BIGINT) AS s
        FROM xq GROUP BY label, half, pos),
    ns AS (
        SELECT label, half, COUNT(*) AS n
        FROM (SELECT DISTINCT vec_id, label, vec_id % 2 AS half
              FROM embeddings) GROUP BY label, half),
    wide AS (
        SELECT a.label, a.pos, a.s AS sa, b.s AS sb, na.n AS na, nb.n AS nb
        FROM sums a
        JOIN sums b ON a.label = b.label AND a.pos = b.pos
                   AND a.half = 0 AND b.half = 1
        JOIN ns na ON na.label = a.label AND na.half = 0
        JOIN ns nb ON nb.label = a.label AND nb.half = 1),
    d AS (
        SELECT label, na, nb,
               CAST(SUM((nb * sa - na * sb) * (nb * sa - na * sb))
                    AS DOUBLE)
                   / (CAST(na AS DOUBLE) * nb * na * nb) AS drift2
        FROM wide GROUP BY label, na, nb)
    SELECT CAST(label AS INT) AS label,
           CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
           CAST(floor(drift2) AS BIGINT) AS drift2_floor
    FROM d ORDER BY label
    """,
)
def q_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centroid shift per label between even/odd vec_id halves:
    integer coordinate sums per (label, half, dim), squared shift via
    the common-denominator identity ||n_b·s_a − n_a·s_b||²/(n_a·n_b)²
    (every numerator term an exact BIGINT; one double division
    chain), floored for the hash. Near-zero drift says the halves
    come from the same distribution — the green light for merging
    featurizer batches into one ANN index. Everything is hash aggs
    over (label, half, dim) — 1,280 rows — plus one broadcast-sized
    join."""
    emb = table(spark, sf_dir, "embeddings")
    xq = emb.select(
        "vec_id",
        "label",
        (F.col("vec_id") % 2).alias("half"),
        F.posexplode(
            F.expr(
                "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)"
                " * 16384) AS BIGINT))"
            )
        ).alias("pos", "q"),
    )
    sums = xq.groupBy("label", "half", "pos").agg(
        F.sum("q").cast("bigint").alias("s")
    )
    ns = emb.select(
        "label", (F.col("vec_id") % 2).alias("half")
    ).groupBy("label", "half").agg(F.count(F.lit(1)).alias("n"))
    a = sums.where(F.col("half") == 0).select(
        "label", "pos", F.col("s").alias("sa")
    )
    b = sums.where(F.col("half") == 1).select(
        "label", "pos", F.col("s").alias("sb")
    )
    na = ns.where(F.col("half") == 0).select(
        "label", F.col("n").alias("na")
    )
    nb = ns.where(F.col("half") == 1).select(
        "label", F.col("n").alias("nb")
    )
    wide = (
        a.join(b, ["label", "pos"])
        .join(F.broadcast(na), "label")
        .join(F.broadcast(nb), "label")
    )
    d = wide.groupBy("label", "na", "nb").agg(
        F.expr(
            "CAST(SUM((nb * sa - na * sb) * (nb * sa - na * sb))"
            " AS DOUBLE) / (CAST(na AS DOUBLE) * nb * na * nb)"
        ).alias("drift2")
    )
    return d.select(
        F.col("label").cast("int").alias("label"),
        F.col("na").cast("bigint").alias("n_a"),
        F.col("nb").cast("bigint").alias("n_b"),
        F.expr("CAST(floor(drift2) AS BIGINT)").alias("drift2_floor"),
    ).transform(sort_bounded, "label")
