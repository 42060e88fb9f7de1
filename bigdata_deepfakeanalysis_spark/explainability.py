"""Explainability UDFs — Grad-CAM (M8) and ViT attention rollout (M9).

The reference computes these with torch autograd hooks
(``src/gradcam_dynamic.py:132-180`` Grad-CAM; ``:213-316`` rollout).
A trained torch model is an optional extra this container cannot carry,
so — as with the M1/M3 featurizers (SURVEY §7.5) — the TENSORS are
deterministic md5-seeded surrogates, but the OPERATOR MATH is the
reference's real computation, executed in full:

- Grad-CAM: channel weights = GAP of the gradients over (h, w);
  ``cam = relu(Σ_c w_c · A_c)``; min-max normalization
  (``gradcam_dynamic.py:168-175``).
- Rollout: per layer mean over heads, add identity, row-normalize;
  chain the layer matrices; CLS row → patch grid; min-max normalize
  (``gradcam_dynamic.py:262-300``).

``used_torch=False`` marks the surrogate tensor source; swapping the
surrogate generator for real hook captures changes nothing downstream.

Scale design: one pass of mapInPandas per image batch, tensor state
built once per row from the image bytes, heatmaps emitted as flat
arrays with shape columns (data model D4) — the same execution shape as
the surrogate featurizer.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .multimodal import MEDIA_CTE, media
from .operators.parity import sort_bounded
from .registry import query

_HEATMAP_SCHEMA = (
    "media_id bigint, method string, h int, w int,"
    " heatmap array<float>, used_torch boolean"
)

_N_CHANNELS = 8       # surrogate conv channels (M8)
_N_LAYERS = 4         # surrogate transformer depth (M9)
_N_HEADS = 2          # surrogate attention heads
_GRID = 7             # ViT patch grid -> 7x7 = 49 patches + CLS


def _heatmap_udf(method: str):
    """Build the mapInPandas fn. Closure is self-contained (stdlib +
    numpy/pandas only) so workers need no engine package on sys.path."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _hashlib

        import numpy as _np
        import pandas as _pd

        def _surrogate(content: bytes, tag: str, shape: tuple) -> _np.ndarray:
            """md5-seeded uniform tensor in [0, 1) — deterministic per
            (image bytes, tag); stands in for a hook capture."""
            n = int(_np.prod(shape))
            seed = _hashlib.md5(bytes(content) + tag.encode()).digest()
            buf = (seed * (n // len(seed) + 1))[:n]
            return (
                _np.frombuffer(buf, dtype=_np.uint8)
                .astype(_np.float64)
                .reshape(shape)
                / 255.0
            )

        def _gradcam(content: bytes, h: int, w: int):
            hh, ww = max(h // 8, 1), max(w // 8, 1)
            acts = _surrogate(content, "acts", (_N_CHANNELS, hh, ww))
            # centered so relu has something to clip (real grads are
            # signed; uniform [0,1) grads would make relu a no-op)
            grads = _surrogate(content, "grads", (_N_CHANNELS, hh, ww)) - 0.5
            weights = grads.mean(axis=(1, 2))          # GAP of gradients
            cam = _np.einsum("c,chw->hw", weights, acts)
            cam = _np.maximum(cam, 0.0)                # relu
            lo, hi = cam.min(), cam.max()
            norm = (cam - lo) / (hi - lo + 1e-8)       # ref :174-175
            return hh, ww, norm.ravel()

        def _rollout(content: bytes):
            t = _GRID * _GRID + 1                      # CLS + patches
            attn = _surrogate(
                content, "attn", (_N_LAYERS, _N_HEADS, t, t)
            )
            # softmax per row so each head is a real attention matrix
            attn = _np.exp(attn * 4.0)
            attn = attn / attn.sum(axis=-1, keepdims=True)
            result = _np.eye(t)
            for layer in range(_N_LAYERS):
                a = attn[layer].mean(axis=0)           # mean over heads
                a = a + _np.eye(t)                     # + identity
                a = a / a.sum(axis=-1, keepdims=True)  # row-normalize
                result = a @ result                    # chain product
            cls_to_patches = result[0, 1:]             # CLS row
            lo, hi = cls_to_patches.min(), cls_to_patches.max()
            norm = (cls_to_patches - lo) / (hi - lo + 1e-8)
            return _GRID, _GRID, norm

        for pdf in batches:
            rows = []
            for mid, content, w, h in zip(
                pdf["media_id"], pdf["content"], pdf["width"], pdf["height"]
            ):
                if method == "gradcam":
                    hh, ww, hm = _gradcam(bytes(content), int(h), int(w))
                else:
                    hh, ww, hm = _rollout(bytes(content))
                rows.append(
                    (mid, method, hh, ww, hm.astype(float).tolist(), False)
                )
            yield _pd.DataFrame(
                rows,
                columns=[
                    "media_id", "method", "h", "w", "heatmap", "used_torch",
                ],
            )

    return run


def gradcam(media_df: DataFrame) -> DataFrame:
    """M8 — Grad-CAM heatmaps: real GAP-weight/relu/normalize math over
    surrogate activation + gradient tensors (torch hooks would replace
    only the tensor source)."""
    return media_df.select(
        "media_id", "content", "width", "height"
    ).mapInPandas(_heatmap_udf("gradcam"), _HEATMAP_SCHEMA)


def attention_rollout(media_df: DataFrame) -> DataFrame:
    """M9 — attention rollout: real head-mean/+I/row-normalize/chain
    math over surrogate per-layer attention matrices."""
    return media_df.select(
        "media_id", "content", "width", "height"
    ).mapInPandas(_heatmap_udf("rollout"), _HEATMAP_SCHEMA)


def _heatmap_summary(hm: DataFrame) -> DataFrame:
    """Driver-checkable heatmap contract: shape columns are exact;
    min-max normalization makes ``hm_min`` EXACTLY 0.0 ((x-lo)/(hi-lo+ε)
    maps the minimum to 0 bit-exactly) and pins ``hm_max`` to either
    exactly 0.0 (a degenerate map — Grad-CAM's relu can clip every cell
    on small grids) or (0.9, 1.0] — so the summary is hash-comparable
    even though the heatmap VALUES come from the engine-local surrogate
    tensors (those are covered by the numpy reference test in
    tests/test_multimodal.py)."""
    mx = F.array_max("heatmap")
    return hm.select(
        "media_id",
        "method",
        "h",
        "w",
        F.size("heatmap").alias("n_cells"),
        F.array_min("heatmap").cast("double").alias("hm_min"),
        (
            (mx == 0.0) | ((mx > 0.9) & (mx <= 1.0))
        ).alias("hm_norm_valid"),
        "used_torch",
    )


_GRADCAM_ORACLE = f"""
    WITH {MEDIA_CTE.strip()}
    SELECT media_id, 'gradcam' AS method,
           CAST(greatest(height // 8, 1) AS INTEGER) AS h,
           CAST(greatest(width // 8, 1) AS INTEGER) AS w,
           CAST(greatest(height // 8, 1) * greatest(width // 8, 1)
                AS INTEGER) AS n_cells,
           CAST(0.0 AS DOUBLE) AS hm_min,
           TRUE AS hm_norm_valid,
           FALSE AS used_torch
    FROM media WHERE media_id < 40 ORDER BY media_id
    """

_ROLLOUT_ORACLE = f"""
    WITH {MEDIA_CTE.strip()}
    SELECT media_id, 'rollout' AS method,
           CAST({_GRID} AS INTEGER) AS h,
           CAST({_GRID} AS INTEGER) AS w,
           CAST({_GRID * _GRID} AS INTEGER) AS n_cells,
           CAST(0.0 AS DOUBLE) AS hm_min,
           TRUE AS hm_norm_valid,
           FALSE AS used_torch
    FROM media WHERE media_id < 40 ORDER BY media_id
    """


@query("q_gradcam_surrogate", _GRADCAM_ORACLE)
def q_gradcam_surrogate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M8 — heatmap summary per image (full arrays stay in the engine;
    the query emits shape + normalization invariants, all of which the
    oracle recomputes — only the heatmap values themselves are
    engine-local, and the numpy reference test covers those)."""
    hm = gradcam(media(spark, sf_dir).where(F.col("media_id") < 40))
    return _heatmap_summary(hm)


@query("q_attention_rollout_surrogate", _ROLLOUT_ORACLE)
def q_attention_rollout_surrogate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M9 — same contract as q_gradcam_surrogate for the rollout method
    (the reference's Grad-CAM cap is 40 images per group — BASELINE.md —
    mirrored here)."""
    hm = attention_rollout(media(spark, sf_dir).where(F.col("media_id") < 40))
    return _heatmap_summary(hm)


# ---------------------------------------------------------------------------
# Occlusion sensitivity (Zeiler & Fergus 2014) — the third saliency
# method next to Grad-CAM (M8) and rollout (M9): mask one grid cell at
# a time, re-score, and the score DROP per cell is the saliency map.
# With the surrogate linear head below (cell activation f_c from the
# image payload, shared signed weight w_c), the occlusion delta is
# exactly w_c*f_c — so unlike the shape-only oracles above, every
# VALUE here is SQL-replayable and the driver hash-checks the full map
# summary. Swapping a real model in changes only the scorer; the
# engine shape (per-cell explode -> row-local scoring -> per-image
# argmax rollup) is the production occlusion sweep.
# ---------------------------------------------------------------------------

_OCC_GRID = 4  # 4x4 occlusion grid -> 16 cells


def _occ_u(tag_expr: str) -> str:
    """Spark SQL: md5-prefix uniform in [0,1) — exact double (integer
    / 2^32 is a power-of-two division, bit-identical cross-engine)."""
    return (
        f"CAST(CAST(conv(substr(md5({tag_expr}), 1, 8), 16, 10) AS BIGINT)"
        " AS DOUBLE) / CAST(4294967296 AS DOUBLE)"
    )


def _occ_u_sql(tag_expr: str) -> str:
    return (
        f"CAST(('0x' || substr(md5({tag_expr}), 1, 8))::BIGINT AS DOUBLE)"
        " / CAST(4294967296 AS DOUBLE)"
    )


_OCC_ORACLE = f"""
    WITH {MEDIA_CTE.strip()},
    cells AS (
        SELECT media_id, hex_payload, UNNEST(range({_OCC_GRID * _OCC_GRID}))
            AS cell
        FROM media WHERE media_id < 40),
    scored AS (
        SELECT media_id, CAST(cell AS INTEGER) AS cell,
               ({_occ_u_sql("hex_payload || '|c' || CAST(cell AS VARCHAR)")})
               * ({_occ_u_sql("'occw|' || CAST(cell AS VARCHAR)")} - 0.5)
                   AS contrib
        FROM cells),
    ranked AS (
        SELECT media_id, cell, contrib,
               ROW_NUMBER() OVER (PARTITION BY media_id
                                  ORDER BY contrib DESC, cell) AS rk
        FROM scored),
    agg AS (
        SELECT media_id,
               CAST(COUNT(*) AS INTEGER) AS n_cells,
               CAST(SUM(CAST(contrib AS DECIMAL(18,9))) AS DOUBLE)
                   AS base_score,
               CAST(COUNT(*) FILTER (WHERE contrib > 0) AS BIGINT)
                   AS n_pos_cells,
               MIN(contrib) AS min_contrib
        FROM scored GROUP BY media_id)
    SELECT a.media_id, a.n_cells, a.base_score, a.n_pos_cells,
           a.min_contrib, r.cell AS top_cell, r.contrib AS top_contrib
    FROM agg a JOIN ranked r ON a.media_id = r.media_id AND r.rk = 1
    ORDER BY a.media_id
    """


@query("q_occlusion_sensitivity", _OCC_ORACLE)
def q_occlusion_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Occlusion-sensitivity sweep over a {_OCC_GRID}x{_OCC_GRID} grid:
    per image, the per-cell score drop (saliency), its sum (the base
    score), the positive-saliency cell count, and the argmax cell —
    the 'which region drives the fake-score' diagnostic the reference
    renders as Grad-CAM overlays (``src/gradcam_dynamic.py:168-180``),
    computed by masking instead of gradients.

    Unlike the mapInPandas siblings above, the sweep stays entirely in
    whole-stage codegen: the cell explode is a flatMap, scoring is
    row-local md5/multiply expressions, and the per-image rollup is
    one partial-aggregated shuffle — at 100 TB this is a single pass
    with no Python worker in the loop. Double parity: each contrib is
    ONE IEEE multiply of two exact dyadic rationals (bit-identical
    cross-engine); the only SUM routes through DECIMAL(18,9) — scale 9 keeps
    value*10^scale inside double-exact range in BOTH engines
    (scale 18 drifted 1-2 ULPs: DuckDB's double->decimal multiply
    rounds past 2^53 where Java BigDecimal(double) is exact)."""
    cells = (
        media(spark, sf_dir)
        .where(F.col("media_id") < 40)
        .select(
            "media_id",
            "hex_payload",
            F.explode(
                F.sequence(F.lit(0), F.lit(_OCC_GRID * _OCC_GRID - 1))
            ).alias("cell"),
        )
    )
    f_c = _occ_u("concat(hex_payload, '|c', CAST(cell AS STRING))")
    w_raw = _occ_u("concat('occw|', CAST(cell AS STRING))")
    w_c = f"({w_raw} - 0.5)"
    scored = cells.select(
        "media_id",
        F.col("cell").cast("int").alias("cell"),
        F.expr(f"({f_c}) * {w_c}").alias("contrib"),
    )
    agg = scored.groupBy("media_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_cells"),
        F.expr(
            "CAST(SUM(CAST(contrib AS DECIMAL(18,9))) AS DOUBLE)"
        ).alias("base_score"),
        F.count_if(F.col("contrib") > 0).alias("n_pos_cells"),
        F.min("contrib").alias("min_contrib"),
        F.max_by(
            F.struct(F.col("cell"), F.col("contrib")),
            F.struct(F.col("contrib"), -F.col("cell")),
        ).alias("_top"),
    )
    return agg.select(
        "media_id",
        "n_cells",
        "base_score",
        "n_pos_cells",
        "min_contrib",
        F.col("_top.cell").alias("top_cell"),
        F.col("_top.contrib").alias("top_contrib"),
    )


# ---------------------------------------------------------------------------
# Fisher discriminability scores — which embedding DIMENSIONS carry
# the label signal? Per-dimension Fisher ratio (between-class
# variance of class means over mean within-class variance) from one
# pass of exact (label, dim) integer moments. The model-free feature
# attribution that tells you which channels a probe/classifier will
# lean on — the global complement of the per-sample occlusion map.
# ---------------------------------------------------------------------------

@query(
    "q_fisher_scores",
    """
    WITH xq AS (
        SELECT label, pos_i AS pos,
               CAST(floor(CAST(embedding[pos_i + 1] AS DOUBLE) * 16384)
                    AS BIGINT) AS q
        FROM embeddings
        CROSS JOIN (SELECT UNNEST(range(0, 64)) AS pos_i)),
    cls AS (
        SELECT pos, label, COUNT(*) AS n, SUM(q) AS s1,
               SUM(CAST(q AS DECIMAL(38,0)) * q) AS s2
        FROM xq GROUP BY pos, label),
    per_dim AS (
        SELECT pos,
               CAST(SUM(n) AS BIGINT) AS n_tot,
               -- between: sum_c n_c*(mu_c - mu)^2, via sum n*mu^2 - N*mu^2
               CAST(SUM(CAST(s1 AS DOUBLE) / n * s1) AS DOUBLE)
                   - CAST(SUM(s1) AS DOUBLE) / SUM(n) * SUM(s1)
                   AS between_ss,
               -- within: sum_c (s2_c - s1_c^2/n_c)
               CAST(SUM(CAST(s2 AS DOUBLE)
                        - CAST(s1 AS DOUBLE) / n * s1) AS DOUBLE)
                   AS within_ss
        FROM cls GROUP BY pos)
    SELECT CAST(pos AS INT) AS dim,
           CAST(floor(between_ss / within_ss * 1000000) AS BIGINT)
               AS fisher_micro
    FROM per_dim
    ORDER BY fisher_micro DESC, dim LIMIT 10
    """,
)
def q_fisher_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 most label-discriminative embedding dimensions by the
    Fisher ratio: per-(dim, label) integer moments in one pass
    (quantized 2^14 coordinates, squares in DECIMAL), between- and
    within-class sums of squares assembled from exact-operand double
    chains, ratio floored to micro units. A 640-row moment table is
    all that shuffles. Reads as global feature importance next to
    q_occlusion_sensitivity's per-sample maps; dims that top this
    list should dominate q_centroid_classifier's margins."""
    from .catalog import table

    emb = table(spark, sf_dir, "embeddings")
    xq = emb.select(
        "label",
        F.posexplode(
            F.expr(
                "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)"
                " * 16384) AS BIGINT))"
            )
        ).alias("pos", "q"),
    )
    cls = xq.groupBy("pos", "label").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("q").alias("s1"),
        F.expr("SUM(CAST(q AS DECIMAL(38,0)) * q)").alias("s2"),
    )
    per_dim = cls.groupBy("pos").agg(
        F.sum("n").cast("bigint").alias("n_tot"),
        F.expr(
            "CAST(SUM(CAST(s1 AS DOUBLE) / n * s1) AS DOUBLE)"
            " - CAST(SUM(s1) AS DOUBLE) / SUM(n) * SUM(s1)"
        ).alias("between_ss"),
        F.expr(
            "CAST(SUM(CAST(s2 AS DOUBLE)"
            " - CAST(s1 AS DOUBLE) / n * s1) AS DOUBLE)"
        ).alias("within_ss"),
    )
    return (
        per_dim.select(
            F.col("pos").cast("int").alias("dim"),
            F.expr(
                "CAST(floor(between_ss / within_ss * 1000000) AS BIGINT)"
            ).alias("fisher_micro"),
        )
        .orderBy(F.desc("fisher_micro"), "dim")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Permutation feature importance (r7) — the model-agnostic attribution
# the reference approximates per-image with Grad-CAM/occlusion
# (src/gradcam_dynamic.py), here computed dataset-wide: break the
# feature/label pairing of ONE dimension and measure the drop in the
# fixed linear probe's class separation. The permutation is a
# deterministic md5-bucketed cyclic shift, so the whole audit —
# including the "random" shuffle — replays bit-for-bit in SQL.
# ---------------------------------------------------------------------------

_PFI_DIMS = list(range(0, 64, 4))  # 16 audited dimensions
# w_j and the hex-bucket key spelled identically in both engines (the
# q_auc probe weights): 2*digit - 17 via 1-based instr -> "- 19".
_PFI_W = (
    "2 * instr('0123456789abcdef',"
    " substr(md5('auc|' || CAST(dim AS {s})), 1, 1)) - 19"
)


@query(
    "q_permutation_importance",
    f"""
    WITH dims AS (SELECT UNNEST(range(0, 64, 4)) AS dim),
    long AS (
        SELECT e.vec_id,
               CASE WHEN e.label < 5 THEN 1 ELSE -1 END AS s,
               d.dim,
               CAST(floor(CAST(e.embedding[d.dim + 1] AS DOUBLE)
                          * 1048576.0) AS BIGINT) AS q,
               md5('perm|' || CAST(e.vec_id AS VARCHAR)) AS h
        FROM embeddings e CROSS JOIN dims d),
    shifted AS (
        SELECT s, dim, q,
               COALESCE(LEAD(q) OVER w, FIRST_VALUE(q) OVER w) AS qp
        FROM long
        WINDOW w AS (PARTITION BY dim, substr(h, 1, 2)
                     ORDER BY h, vec_id))
    SELECT CAST(dim AS INT) AS dim,
           CAST({_PFI_W.format(s="VARCHAR")} AS BIGINT) AS w,
           CAST(SUM(s * q) AS BIGINT) AS base_contrib,
           CAST(SUM(s * qp) AS BIGINT) AS perm_contrib,
           CAST(({_PFI_W.format(s="VARCHAR")})
                * (SUM(s * q) - SUM(s * qp)) AS BIGINT) AS importance
    FROM shifted GROUP BY dim ORDER BY dim
    """,
)
def q_permutation_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Permutation feature importance over the fixed md5 linear probe
    (the q_auc_evaluation model): for each audited dimension, permute
    its values across rows and report the change in the probe's class
    separation SUM(sign * w_j * q_j) — the standard model-agnostic
    importance (Breiman 2001), made hash-replayable by a DETERMINISTIC
    permutation: rows are md5-bucketed (256 buckets on the first two
    hex chars of md5('perm|' || vec_id)) and cyclically shifted one
    position in md5 order within each (dim, bucket). Because the probe
    is linear, importance_j collapses to w_j * (Σ s·q_j − Σ s·q_j^perm)
    — exact BIGINT end-to-end.

    Scale design: the shift windows are PARTITIONED BY (dim, bucket) —
    bounded ~n/256 rows each (widen the hex prefix at larger corpora);
    no corpus-wide window, one explode (16 audited dims), one rollup.
    The same machinery permutes any column against any metric; the
    linear collapse here is what makes the oracle exact."""
    from .catalog import table

    emb = table(spark, sf_dir, "embeddings")
    pairs = ", ".join(
        f"struct({j} AS dim, CAST(floor(CAST(embedding[{j}] AS DOUBLE)"
        f" * 1048576.0) AS BIGINT) AS q)"
        for j in _PFI_DIMS
    )
    long = emb.select(
        "vec_id",
        F.expr("CASE WHEN label < 5 THEN 1 ELSE -1 END").alias("s"),
        F.expr(
            "md5(concat('perm|', CAST(vec_id AS STRING)))"
        ).alias("h"),
        F.explode(F.expr(f"array({pairs})")).alias("e"),
    ).select("vec_id", "s", "h", "e.dim", "e.q")

    from pyspark.sql.window import Window

    wd = Window.partitionBy("dim", F.substring("h", 1, 2)).orderBy(
        "h", "vec_id"
    )
    shifted = long.select(
        "s",
        "dim",
        "q",
        F.coalesce(
            F.lead("q").over(wd),
            F.first("q").over(
                wd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        ).alias("qp"),
    )
    w_expr = _PFI_W.format(s="STRING")
    return (
        shifted.groupBy("dim")
        .agg(
            F.expr("CAST(SUM(s * q) AS BIGINT)").alias("base_contrib"),
            F.expr("CAST(SUM(s * qp) AS BIGINT)").alias("perm_contrib"),
        )
        .select(
            F.col("dim").cast("int").alias("dim"),
            F.expr(f"CAST({w_expr} AS BIGINT)").alias("w"),
            "base_contrib",
            "perm_contrib",
            F.expr(
                f"CAST(({w_expr}) * (base_contrib - perm_contrib)"
                " AS BIGINT)"
            ).alias("importance"),
        )
        .transform(sort_bounded, "dim")
    )
