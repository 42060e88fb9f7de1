"""Multimodal binary-column operators (SURVEY §2.8 M11; §2.9).

Image/audio/video modeled as opaque ``binary`` columns with typed
metadata (width/height/n_frames), mirroring the reference's image
pipeline shape (E1: scan → decode → featurize → persist,
``src/extract_embedding.py:54-93``) without torch/PIL in the container:

- a deterministic ``media`` fixture derived in-query from embeddings
  (content = md5-hex bytes, so both engines derive identical payloads)
- metadata scan ops (kind rollups, byte lengths) — oracle-exact
- surrogate featurizer over ``mapInPandas`` (M1's stand-in, SURVEY §7.5):
  md5 of the content's hex representation → 8-dim pseudo-embedding.
  Deterministic, so even the Python-UDF path is oracle-exact.
- frame sampling (video-style every-k-th frame) — oracle-exact
- resize stub: real PIL decode when available, else a clearly-marked
  deterministic fake — the Spark plumbing (schema, Arrow batches,
  partition-level iteration) is real and tested either way.

Scale design: mapInPandas featurizers initialize per partition (X10:
model-once-per-executor), stream Arrow batches, and emit narrow rows —
the binary column never shuffles (featurize before any groupBy; GAP
X6 pattern). Metadata predicates push down to parquet when media is
stored columnar (binary column pruned unless selected).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .catalog import table
from .registry import query

_N_DIMS = 8

# ---------------------------------------------------------------------------
# media fixture (engine + oracle derive identical rows)
# ---------------------------------------------------------------------------

MEDIA_CTE = """
media AS (
    SELECT vec_id AS media_id,
           CASE WHEN vec_id % 3 = 0 THEN 'image'
                WHEN vec_id % 3 = 1 THEN 'audio'
                ELSE 'video' END AS kind,
           md5('m' || CAST(vec_id AS VARCHAR))
               || md5('n' || CAST(vec_id AS VARCHAR)) AS hex_payload,
           CAST(16 + vec_id % 48 AS INTEGER) AS width,
           CAST(16 + (vec_id * 7) % 48 AS INTEGER) AS height,
           CAST(1 + vec_id % 24 AS INTEGER) AS n_frames
    FROM embeddings)
"""


def media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The binary-column table: content is real BINARY on the Spark side
    (64 bytes of md5-derived payload)."""
    emb = table(spark, sf_dir, "embeddings")
    vid = F.col("vec_id")
    hex_payload = F.concat(
        F.md5(F.concat(F.lit("m"), vid.cast("string"))),
        F.md5(F.concat(F.lit("n"), vid.cast("string"))),
    )
    return emb.select(
        vid.alias("media_id"),
        F.when(vid % 3 == 0, "image")
        .when(vid % 3 == 1, "audio")
        .otherwise("video")
        .alias("kind"),
        hex_payload.alias("hex_payload"),
        F.to_binary(hex_payload, F.lit("hex")).alias("content"),
        (16 + vid % 48).cast("int").alias("width"),
        (16 + (vid * 7) % 48).cast("int").alias("height"),
        (1 + vid % 24).cast("int").alias("n_frames"),
    )


# ---------------------------------------------------------------------------
# mapInPandas featurizers
# ---------------------------------------------------------------------------

def surrogate_featurize(media_df: DataFrame) -> DataFrame:
    """mapInPandas featurizer (iterator-of-batches: per-partition init,
    Arrow transfer — the M1/M2 execution shape with a hash 'model')."""
    schema = "media_id bigint, dim int, feature double"

    n_dims = _N_DIMS

    # NOTE: the closure is self-contained (stdlib only) so workers can
    # unpickle it without the engine package on their sys.path.
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _hashlib  # per-partition "model init" (X10)

        import pandas as _pd

        for pdf in batches:
            out_ids, out_dims, out_vals = [], [], []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                h = _hashlib.md5(bytes(content).hex().encode("ascii")).hexdigest()
                vec = [int(c, 16) / 15.0 for c in h[:n_dims]]
                out_ids.extend([mid] * len(vec))
                out_dims.extend(range(len(vec)))
                out_vals.extend(vec)
            yield _pd.DataFrame(
                {"media_id": out_ids, "dim": out_dims, "feature": out_vals}
            )

    return media_df.select("media_id", "content").mapInPandas(run, schema)


def resize_half(media_df: DataFrame) -> DataFrame:
    """Decode + resize to half resolution. Real decode needs PIL (absent
    in this container): import-gated; the fallback emits a deterministic
    fake pixel summary so the pipeline stays total. The Spark plumbing
    (schema, Arrow batching, metadata math) is identical either way."""
    schema = (
        "media_id bigint, new_width int, new_height int,"
        " checksum bigint, decoded boolean"
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        try:
            from PIL import Image  # optional extra; absent in container

            have_pil = True
        except ImportError:
            have_pil = False
        for pdf in batches:
            rows = []
            for mid, content, w, h in zip(
                pdf["media_id"], pdf["content"], pdf["width"], pdf["height"]
            ):
                payload = bytes(content)
                if have_pil:
                    # real path: decode → bilinear half-size; rows whose
                    # bytes aren't a decodable image (e.g. this fixture's
                    # synthetic payloads) fall through to the stub with
                    # decoded=False rather than failing the batch
                    try:
                        import io as _io

                        img = Image.open(_io.BytesIO(payload)).convert("RGB")
                        half = img.resize(
                            (max(img.width // 2, 1), max(img.height // 2, 1))
                        )
                        rows.append(
                            (
                                mid,
                                half.width,
                                half.height,
                                sum(half.tobytes()) % 65536,
                                True,
                            )
                        )
                        continue
                    except Exception:
                        pass
                # deterministic fake: checksum of the payload stands in
                # for the resized pixel buffer
                rows.append(
                    (mid, w // 2, h // 2, sum(payload) % 65536, False)
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "new_width", "new_height", "checksum",
                    "decoded",
                ],
            )

    return media_df.select(
        "media_id", "content", "width", "height"
    ).mapInPandas(run, schema)


# ---------------------------------------------------------------------------
# Oracle-checked queries
# ---------------------------------------------------------------------------

@query(
    "q_multimodal_metadata",
    f"""
    WITH {MEDIA_CTE.strip()}
    SELECT kind, COUNT(*) AS n,
           CAST(SUM(length(hex_payload) / 2) AS BIGINT) AS total_bytes,
           CAST(SUM(width) AS BIGINT) AS sum_width,
           CAST(SUM(n_frames) AS BIGINT) AS sum_frames
    FROM media GROUP BY kind ORDER BY kind
    """,
)
def q_multimodal_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed-metadata rollup over the binary table; byte length comes
    from the real binary column on the Spark side."""
    return (
        media(spark, sf_dir)
        .groupBy("kind")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.length("content")).cast("bigint").alias("total_bytes"),
            F.sum("width").cast("bigint").alias("sum_width"),
            F.sum("n_frames").cast("bigint").alias("sum_frames"),
        )
    )


@query(
    "q_surrogate_features",
    f"""
    WITH {MEDIA_CTE.strip()}
    SELECT media_id, dim,
           ROUND((instr('0123456789abcdef',
                        substr(md5(hex_payload), dim + 1, 1)) - 1)
                 / 15.0, 9) AS feature
    FROM media, (SELECT UNNEST(range(0, {_N_DIMS})) AS dim)
    WHERE media_id < 50
    ORDER BY media_id, dim
    """,
)
def q_surrogate_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mapInPandas surrogate featurizer (Python UDF path!) checked
    exactly against SQL recomputing the same md5-digit embedding — the
    Arrow round-trip must be value-preserving."""
    feats = surrogate_featurize(media(spark, sf_dir).where(F.col("media_id") < 50))
    return feats.withColumn("feature", F.round("feature", 9))


@query(
    "q_frame_sample",
    f"""
    WITH {MEDIA_CTE.strip()},
    frames AS (
        SELECT media_id, n_frames,
               greatest(n_frames // 4, 1) AS stride,
               UNNEST(range(0, n_frames)) AS frame_idx
        FROM media WHERE kind = 'video' AND media_id < 100)
    SELECT media_id, frame_idx
    FROM frames WHERE frame_idx % stride = 0
    ORDER BY media_id, frame_idx
    """,
)
def q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling: every stride-th frame index (stride = n_frames/4,
    min 1) of each video — pure metadata math, the per-frame decode
    would hang off this explode as a mapInPandas stage."""
    vids = media(spark, sf_dir).where(
        (F.col("kind") == "video") & (F.col("media_id") < 100)
    )
    return (
        vids.select(
            "media_id",
            F.greatest(
                (F.col("n_frames") / 4).cast("int"), F.lit(1)
            ).alias("stride"),
            F.explode(
                F.sequence(F.lit(0), F.col("n_frames") - 1)
            ).alias("frame_idx"),
        )
        .where(F.col("frame_idx") % F.col("stride") == 0)
        .select("media_id", "frame_idx")
    )


@query(
    "q_resize_stub",
    f"""
    WITH {MEDIA_CTE.strip()}
    SELECT media_id,
           CAST(width // 2 AS INTEGER) AS new_width,
           CAST(height // 2 AS INTEGER) AS new_height,
           CAST((SELECT SUM(CAST('0x' || substr(hex_payload, 2 * i + 1, 2)
                                 AS INTEGER))
                 FROM (SELECT UNNEST(range(0, 32)) AS i)) % 65536
                AS BIGINT) AS checksum,
           FALSE AS decoded
    FROM media WHERE media_id < 100 ORDER BY media_id
    """,
)
def q_resize_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize-to-half plumbing over mapInPandas (decode stubbed per task
    spec — no imaging libs in container). Tests assert schema, half
    dimensions, and determinism. The stub path is fully deterministic
    (floor-halved dims, byte-sum checksum of the payload), so the
    oracle recomputes it from the hex payload — hash-exact whenever
    imaging libs are absent (this container always; an environment
    with PIL flips ``decoded`` and takes the real-decode path, which
    is intentionally outside the oracle's contract)."""
    return resize_half(media(spark, sf_dir).where(F.col("media_id") < 100))


_STAGES = (1, 2, 3)


def surrogate_multistage(media_df: DataFrame) -> DataFrame:
    """M3 — multi-stage feature-map extraction shape
    (``src/feature_map_analysis.py:80-139``: one backbone forward pass
    emits a list of per-stage maps; UDTF-shaped 1→N rows per image).
    mapInPandas with per-partition init; the surrogate 'backbone'
    derives stage s features as md5(hex_payload || '|s<s>') digits, so
    the whole Python path is SQL-recomputable and oracle-exact."""
    schema = "media_id bigint, stage int, dim int, feature double"

    n_dims = _N_DIMS
    stages = _STAGES

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _hashlib  # per-partition "model init" (X10)

        import pandas as _pd

        for pdf in batches:
            ids, st, dims, vals = [], [], [], []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                hexp = bytes(content).hex()
                for s in stages:
                    h = _hashlib.md5(
                        f"{hexp}|s{s}".encode("ascii")
                    ).hexdigest()
                    for d in range(n_dims):
                        ids.append(mid)
                        st.append(s)
                        dims.append(d)
                        vals.append(int(h[d], 16) / 15.0)
            yield _pd.DataFrame(
                {"media_id": ids, "stage": st, "dim": dims, "feature": vals}
            )

    return media_df.select("media_id", "content").mapInPandas(run, schema)


@query(
    "q_multistage_features",
    f"""
    WITH {MEDIA_CTE.strip()}
    SELECT media_id, stage, dim,
           ROUND((instr('0123456789abcdef',
                        substr(md5(hex_payload || '|s' ||
                                   CAST(stage AS VARCHAR)),
                               dim + 1, 1)) - 1)
                 / 15.0, 9) AS feature
    FROM media,
         (SELECT UNNEST([{", ".join(str(s) for s in _STAGES)}]) AS stage),
         (SELECT UNNEST(range(0, {_N_DIMS})) AS dim)
    WHERE media_id < 40
    ORDER BY media_id, stage, dim
    """,
)
def q_multistage_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M3 — the UDTF-shaped multi-stage extractor (1 image → stages ×
    dims rows) checked exactly against SQL recomputing the same
    per-stage hash features."""
    feats = surrogate_multistage(
        media(spark, sf_dir).where(F.col("media_id") < 40)
    )
    return feats.withColumn("feature", F.round("feature", 9))


@query(
    "q_audio_chunk_rms",
    f"""
    WITH {MEDIA_CTE.strip()},
    aud AS (
        SELECT media_id, hex_payload FROM media
        WHERE kind = 'audio' AND media_id < 200),
    samples AS (
        SELECT media_id, x.i // 4 AS chunk,
               (('0x' || substr(hex_payload, x.i * 4 + 1, 4))::BIGINT
                - 32768) AS s
        FROM aud, (SELECT UNNEST(range(0, 16)) AS i) x)
    SELECT media_id, chunk,
           CAST(COUNT(*) AS BIGINT) AS n_samples,
           CAST(MAX(ABS(s)) AS BIGINT) AS peak,
           ROUND(sqrt(AVG(s * s)), 9) AS rms
    FROM samples GROUP BY media_id, chunk
    ORDER BY media_id, chunk
    """,
)
def q_audio_chunk_rms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio windowing: decode each audio clip's payload into 16 signed
    16-bit PCM samples (4 hex digits each — the deterministic stand-in
    for a soundfile/ffmpeg decode, which would hang off the same scan
    as a mapInPandas stage like ``resize_half``), frame into 4-sample
    chunks, and aggregate per-chunk peak and RMS — the
    loudness/VAD-style per-window profile an audio curation pipeline
    filters on.

    Fully codegen: sample extraction is a row-local
    transform(sequence) over the hex payload (no Python), the chunk
    rollup is one partial-aggregated groupBy. The integer sums make
    RMS bit-identical across engines (sum of squares ≤ 4·32768² is
    exact in double before the sqrt). Audio counterpart of
    ``q_frame_sample`` (video) and ``q_resize_stub`` (image)."""
    aud = media(spark, sf_dir).where(
        (F.col("kind") == "audio") & (F.col("media_id") < 200)
    )
    samples = F.expr(
        "transform(sequence(0, 15), i -> "
        "CAST(conv(substr(hex_payload, i * 4 + 1, 4), 16, 10) AS BIGINT)"
        " - 32768)"
    )
    return (
        aud.select("media_id", F.posexplode(samples).alias("pos", "s"))
        .groupBy(
            "media_id", F.floor(F.col("pos") / 4).cast("long").alias("chunk")
        )
        .agg(
            F.count(F.lit(1)).alias("n_samples"),
            F.max(F.abs("s")).alias("peak"),
            F.round(F.sqrt(F.avg(F.col("s") * F.col("s"))), 9).alias("rms"),
        )
    )


# ---------------------------------------------------------------------------
# Perceptual-hash image near-dup (aHash): the image-side dedup stage of
# LAION-style multimodal pipelines. The surrogate "decode" treats the
# 64-byte payload as an 8×8 grayscale image (same stance as the
# featurizer surrogates: torch/PIL absent, Spark-side plumbing real);
# average-hash = one bit per pixel vs the image mean — 64-bit
# fingerprint in 4×16-bit bands, then the SAME pigeonhole band join /
# Hamming verify as text SimHash (``dedup.simhash_band_pairs``). All
# integer arithmetic: bit-identical across engines. Planted near-dups
# swap two payload bytes — mean-invariant, so the copy's hash differs
# in ≤2 bit positions by construction.
#
# Scale shape: hashing is row-local codegen over the binary column
# (never shuffles pixels); the band join shuffles 4 narrow rows per
# image; the oracle brute-forces all pairs — the band join must find
# the identical set (pigeonhole: Hamming ≤2 ⇒ ≥2 of 4 bands equal).
# ---------------------------------------------------------------------------

_PX = (
    "transform(sequence(0, 63), i -> CAST("
    "(instr('0123456789abcdef', substr(hex_payload, 2 * i + 1, 1)) - 1)"
    " * 16 + (instr('0123456789abcdef',"
    " substr(hex_payload, 2 * i + 2, 1)) - 1) AS INT))"
)


@query(
    "q_phash_near_dup",
    """
    WITH imgs AS (
        SELECT vec_id AS media_id,
               md5('m' || CAST(vec_id AS VARCHAR))
                   || md5('n' || CAST(vec_id AS VARCHAR)) AS hex_payload
        FROM embeddings WHERE vec_id % 3 = 0),
    corp AS (
        SELECT media_id, hex_payload FROM imgs
        UNION ALL
        SELECT media_id + 100000,
               substr(hex_payload, 5, 2) || substr(hex_payload, 3, 2)
                   || substr(hex_payload, 1, 2) || substr(hex_payload, 7)
        FROM imgs WHERE media_id < 60),
    pxl AS (
        SELECT media_id,
               list_transform(range(0, 64), i ->
                   (instr('0123456789abcdef',
                          substr(hex_payload, 2 * i + 1, 1)) - 1) * 16
                   + (instr('0123456789abcdef',
                            substr(hex_payload, 2 * i + 2, 1)) - 1)) AS px
        FROM corp),
    withm AS (SELECT media_id, px, list_sum(px) // 64 AS m FROM pxl),
    sim AS (
        SELECT media_id,
               CAST(list_sum(list_transform(range(0, 16), j ->
                   CASE WHEN px[j + 1] > m THEN (1 << j) ELSE 0 END))
                   AS INTEGER) AS b0,
               CAST(list_sum(list_transform(range(0, 16), j ->
                   CASE WHEN px[16 + j + 1] > m THEN (1 << j) ELSE 0 END))
                   AS INTEGER) AS b1,
               CAST(list_sum(list_transform(range(0, 16), j ->
                   CASE WHEN px[32 + j + 1] > m THEN (1 << j) ELSE 0 END))
                   AS INTEGER) AS b2,
               CAST(list_sum(list_transform(range(0, 16), j ->
                   CASE WHEN px[48 + j + 1] > m THEN (1 << j) ELSE 0 END))
                   AS INTEGER) AS b3
        FROM withm)
    SELECT a.media_id AS doc_a, b.media_id AS doc_b,
           bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
           + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3))
               AS hamming
    FROM sim a JOIN sim b ON a.media_id < b.media_id
    WHERE bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
          + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3)) <= 2
    ORDER BY doc_a, doc_b
    """,
)
def q_phash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average-hash near-dup pairs (Hamming ≤ 2) over the image subset
    plus byte-swapped planted copies; band join vs the oracle's
    brute-force — identical pair sets or the pigeonhole argument is
    wrong (pytest additionally asserts every planted copy is found)."""
    from .operators.dedup import simhash_band_pairs

    imgs = media(spark, sf_dir).where(F.col("kind") == "image").select(
        "media_id", "hex_payload"
    )
    copies = imgs.where(F.col("media_id") < 60).select(
        (F.col("media_id") + 100000).alias("media_id"),
        F.expr(
            "concat(substr(hex_payload, 5, 2), substr(hex_payload, 3, 2),"
            " substr(hex_payload, 1, 2), substr(hex_payload, 7))"
        ).alias("hex_payload"),
    )
    corp = (
        imgs.unionByName(copies)
        .withColumn("px", F.expr(_PX))
        .withColumn(
            "m", F.expr("aggregate(px, 0, (a, x) -> a + x) DIV 64")
        )
    )
    for k in range(4):
        corp = corp.withColumn(
            f"b{k}",
            F.expr(
                f"CAST(aggregate(sequence(0, 15), 0, (a, j) -> a +"
                f" IF(element_at(px, {16 * k} + j + 1) > m,"
                f" CAST(shiftleft(1, j) AS INT), 0)) AS INT)"
            ),
        )
    # Materialize the four band ints BEFORE the band join (text SimHash
    # pins for the same reason — its vote groupBy is NOT enough, since
    # the join sides' Exchanges never canonicalize equal and
    # ReusedExchange does not fire): Catalyst's CollapseProject would
    # inline the nested-lambda hash expressions into every downstream
    # stage — the explode, both join sides, the join keys, and the
    # distinct each re-evaluate px AND the per-element mean, an
    # interpreted ~40× blowup (measured 27 s vs 0.6 s for one pass at
    # sf0.1). The checkpoint pins 687 rows × 4 ints; at scale this is
    # the persisted fingerprint table an image-dedup pipeline keeps
    # anyway.
    sim = corp.select(
        F.col("media_id").alias("doc_id"), "b0", "b1", "b2", "b3"
    ).localCheckpoint(eager=True)
    return simhash_band_pairs(sim, ham_max=2)


# ---------------------------------------------------------------------------
# Scene-cut detection — frame-to-frame signature deltas over the video
# assets: the shot-segmentation pass a video curation pipeline runs
# before sampling keyframes. Signatures are md5-derived (deterministic
# per frame, SQL-recomputable), the detector itself — per-video lag +
# threshold — is the real operator shape a perceptual feature would
# plug into.
# ---------------------------------------------------------------------------

_CUT_THRESHOLD = 96  # |sig delta| above this = cut (sig in 0..255)


@query(
    "q_scene_cuts",
    f"""
    WITH {MEDIA_CTE.strip()},
    frames AS (
        SELECT media_id, n_frames, frame_idx,
               CAST('0x' || substr(md5(hex_payload || '|f'
                                       || CAST(frame_idx AS VARCHAR)), 1, 2)
                    AS INTEGER) AS sig
        FROM media, (SELECT UNNEST(range(0, 24)) AS frame_idx)
        WHERE kind = 'video' AND media_id < 200
          AND frame_idx < n_frames),
    deltas AS (
        SELECT media_id, n_frames, frame_idx, sig,
               abs(sig - LAG(sig) OVER (PARTITION BY media_id
                                        ORDER BY frame_idx)) AS d
        FROM frames)
    SELECT media_id,
           CAST(MAX(n_frames) AS INTEGER) AS n_frames,
           CAST(COUNT(*) FILTER (d > {_CUT_THRESHOLD}) AS BIGINT)
               AS n_cuts,
           CAST(MIN(CASE WHEN d > {_CUT_THRESHOLD} THEN frame_idx END)
                AS BIGINT) AS first_cut
    FROM deltas GROUP BY media_id ORDER BY media_id
    """,
)
def q_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scene-cut detection over every video asset: per-frame signature
    (md5-derived int 0-255 standing in for a perceptual frame hash —
    swapping in a real decoder changes only the signature expression),
    frame-to-frame absolute delta via a per-video LAG window, cut
    where the delta exceeds {_CUT_THRESHOLD}; per video: frame count,
    cut count, first cut index (NULL when no cut).

    100 TB shape: the explode is a flatMap (no shuffle), the LAG
    window shuffles once on media_id with frames arriving sorted per
    video, the rollup rides the same partitioning — one shuffle
    end-to-end."""
    vids = media(spark, sf_dir).where(
        (F.col("kind") == "video") & (F.col("media_id") < 200)
    )
    frames = (
        vids.select(
            "media_id",
            "n_frames",
            "hex_payload",
            F.explode(
                F.sequence(F.lit(0), F.least(F.col("n_frames") - 1, F.lit(23)))
            ).alias("frame_idx"),
        )
        .select(
            "media_id",
            "n_frames",
            "frame_idx",
            F.expr(
                "CAST(conv(substr(md5(concat(hex_payload, '|f',"
                " CAST(frame_idx AS STRING))), 1, 2), 16, 10) AS INT)"
            ).alias("sig"),
        )
    )
    from pyspark.sql.window import Window as _W

    w = _W.partitionBy("media_id").orderBy("frame_idx")
    deltas = frames.withColumn(
        "d", F.abs(F.col("sig") - F.lag("sig").over(w))
    )
    return (
        deltas.groupBy("media_id")
        .agg(
            F.max("n_frames").cast("int").alias("n_frames"),
            F.count(F.when(F.col("d") > _CUT_THRESHOLD, 1))
            .cast("bigint")
            .alias("n_cuts"),
            F.min(
                F.when(F.col("d") > _CUT_THRESHOLD, F.col("frame_idx"))
            )
            .cast("bigint")
            .alias("first_cut"),
        )
    )


# ---------------------------------------------------------------------------
# Image tiling — the patch-extraction plumbing for a ViT-style
# pipeline: slice each binary payload into fixed-size tiles with
# typed (tile_id, byte offset, length) metadata and a per-tile
# content digest. The BINARY slicing is real (substr over the binary
# column, whole-stage codegen); decode-to-pixels would sit behind the
# same mapInPandas seam as resize_stub. Oracle parity rides the hex
# twin: hex(substr(content, o, l)) == substr(hex_payload, 2o-1, 2l),
# so the digest of the true binary slice is checkable from the string
# side without a BLOB md5.
# ---------------------------------------------------------------------------

_TILE_BYTES = 16   # 64-byte payload -> 4 tiles


@query(
    "q_image_tiling",
    f"""
    WITH {MEDIA_CTE.strip()},
    tiles AS (
        SELECT media_id,
               CAST(t AS INTEGER) AS tile_id,
               CAST(t * {_TILE_BYTES} AS INTEGER) AS byte_offset,
               {_TILE_BYTES} AS tile_len,
               md5(lower(substr(hex_payload, CAST(t AS INTEGER)
                                 * {2 * _TILE_BYTES} + 1,
                               {2 * _TILE_BYTES}))) AS tile_md5
        FROM media, UNNEST(range(4)) AS r(t)
        WHERE media_id < 60 AND kind = 'image')
    SELECT media_id, tile_id, byte_offset, tile_len, tile_md5
    FROM tiles
    ORDER BY media_id, tile_id
    """,
)
def q_image_tiling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tile the first image payloads into 4 x {_TILE_BYTES}-byte
    patches: per tile the typed offset metadata plus the md5 of the
    ACTUAL BINARY SLICE (computed as md5(hex(substr(content, ...))) on
    the Spark side — the oracle derives the identical digest from the
    hex twin column, proving the binary substr sliced the same bytes).
    At 100 TB this explode+slice is the shuffle-free fan-out that
    feeds patch-level decode/featurize UDFs; metadata stays typed and
    prunable."""
    m = media(spark, sf_dir).where(
        (F.col("media_id") < 60) & (F.col("kind") == "image")
    )
    tiles = m.select(
        "media_id",
        F.explode(F.sequence(F.lit(0), F.lit(3))).alias("tile_id"),
        "content",
    ).select(
        "media_id",
        F.col("tile_id").cast("int").alias("tile_id"),
        (F.col("tile_id") * _TILE_BYTES).cast("int").alias("byte_offset"),
        F.lit(_TILE_BYTES).cast("int").alias("tile_len"),
        F.md5(
            F.lower(
                F.hex(
                    F.expr(
                        f"substr(content, tile_id * {_TILE_BYTES} + 1,"
                        f" {_TILE_BYTES})"
                    )
                )
            )
        ).alias("tile_md5"),
    )
    return tiles


# ---------------------------------------------------------------------------
# Voice-activity segments — the audio curation op one level above
# q_audio_chunk_rms: threshold each chunk's energy, then merge
# consecutive active chunks into segments with the gaps-and-islands
# idiom (chunk_idx - row_number over active chunks). The threshold
# compares INTEGER energy sums, so activity flags are engine-exact
# with no float compare at the boundary.
# ---------------------------------------------------------------------------

_VAD_CHUNK = 2           # samples per chunk -> 8 chunks per clip
_VAD_T = 720_000_000     # ~E[sum of 2 squared uniform 16-bit samples]


@query(
    "q_audio_vad_segments",
    f"""
    WITH {MEDIA_CTE.strip()},
    aud AS (
        SELECT media_id, hex_payload FROM media
        WHERE kind = 'audio' AND media_id < 200),
    samples AS (
        SELECT media_id, x.i // {_VAD_CHUNK} AS chunk,
               (('0x' || substr(hex_payload, x.i * 4 + 1, 4))::BIGINT
                - 32768) AS s
        FROM aud, (SELECT UNNEST(range(0, 16)) AS i) x),
    chunks AS (
        SELECT media_id, chunk, SUM(s * s) AS energy,
               SUM(s * s) > {_VAD_T} AS active
        FROM samples GROUP BY media_id, chunk),
    islands AS (
        SELECT media_id, chunk,
               chunk - ROW_NUMBER() OVER (PARTITION BY media_id
                                          ORDER BY chunk) AS grp
        FROM chunks WHERE active),
    segs AS (
        SELECT media_id, grp, COUNT(*) AS seg_len, MIN(chunk) AS seg_start
        FROM islands GROUP BY media_id, grp)
    SELECT c.media_id,
           CAST(COUNT(DISTINCT c.chunk) AS BIGINT) AS n_chunks,
           CAST(COUNT(DISTINCT CASE WHEN c.active THEN c.chunk END)
                AS BIGINT) AS n_active,
           CAST(COUNT(DISTINCT s.grp) AS BIGINT) AS n_segments,
           CAST(COALESCE(MAX(s.seg_len), 0) AS BIGINT) AS longest_seg,
           CAST(MIN(s.seg_start) AS BIGINT) AS first_active_chunk
    FROM chunks c LEFT JOIN segs s ON c.media_id = s.media_id
    GROUP BY c.media_id
    ORDER BY c.media_id
    """,
)
def q_audio_vad_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Active-audio segments per clip: 2-sample chunk energies from
    the PCM decode, integer threshold, islands of consecutive active
    chunks rolled to (count, longest, first-start). The downstream
    shape for 'cut silence, keep speech' audio curation — at scale the
    islands window partitions per clip and the whole pipeline is one
    shuffle on media_id."""
    aud = media(spark, sf_dir).where(
        (F.col("kind") == "audio") & (F.col("media_id") < 200)
    )
    samples = F.expr(
        "transform(sequence(0, 15), i -> "
        "CAST(conv(substr(hex_payload, i * 4 + 1, 4), 16, 10) AS BIGINT)"
        " - 32768)"
    )
    chunks = (
        aud.select("media_id", F.posexplode(samples).alias("pos", "s"))
        .select(
            "media_id",
            (F.col("pos") / _VAD_CHUNK).cast("long").alias("chunk"),
            "s",
        )
        .groupBy("media_id", "chunk")
        .agg(F.sum(F.col("s") * F.col("s")).alias("energy"))
        .withColumn("active", F.col("energy") > _VAD_T)
    )
    from pyspark.sql.window import Window as _W

    w = _W.partitionBy("media_id").orderBy("chunk")
    islands = chunks.where("active").select(
        "media_id",
        "chunk",
        (F.col("chunk") - F.row_number().over(w)).alias("grp"),
    )
    segs = islands.groupBy("media_id", "grp").agg(
        F.count(F.lit(1)).alias("seg_len"),
        F.min("chunk").alias("seg_start"),
    )
    return (
        chunks.join(segs, "media_id", "left")
        .groupBy("media_id")
        .agg(
            F.countDistinct("chunk").alias("n_chunks"),
            F.countDistinct(
                F.when(F.col("active"), F.col("chunk"))
            ).alias("n_active"),
            F.countDistinct("grp").alias("n_segments"),
            F.coalesce(F.max("seg_len"), F.lit(0))
            .cast("bigint")
            .alias("longest_seg"),
            F.min("seg_start").cast("bigint").alias("first_active_chunk"),
        )
        .select(
            "media_id",
            F.col("n_chunks").cast("bigint").alias("n_chunks"),
            F.col("n_active").cast("bigint").alias("n_active"),
            F.col("n_segments").cast("bigint").alias("n_segments"),
            "longest_seg",
            "first_active_chunk",
        )
    )
