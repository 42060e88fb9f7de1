"""Sources & sinks (SURVEY §2.1 S1/S2/S5/S6/S9; §3 E1 ingest shape).

The reference ingests directory-partitioned image datasets — the
partition key lives in the path (``imagenet_ai_0419_<GEN>/train/ai/*``,
``src/extract_embedding.py:14-24``) — and persists features as
compressed per-group files (``src/feature_map_analysis.py:196-205``).
Here:

- S1/S2: ``binaryFile`` scan with ``pathGlobFilter`` pushdown over a
  deterministic on-disk tree (bytes derived from vec_ids, so the DuckDB
  oracle recomputes every aggregate WITHOUT reading the files)
- P3 group parse from ``input_file_name()`` (codegen string ops)
- S5/S6: partitioned parquet sink + read-back (partition pruning
  asserted in tests via the explain output)
- S9: CSV / JSON round-trips (the reference's JSON-sink compat path)

Scale design: ``pathGlobFilter`` prunes at file-listing time (X2); the
partitioned write keys the layout by group so downstream group-filtered
scans are partition-pruned (X1). Fixture staging is idempotent,
deterministic, and tiny (one 32-byte blob per image).
"""

from __future__ import annotations

import hashlib
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import staging_dir, table
from ..registry import query
from .fixtures import GROUPED_EMBEDDINGS_CTE, grouped_embeddings
from .parity import sort_bounded

_N_IMAGES = 100
_GENS = ("adm", "biggan", "sdv5", "vqdm")  # generator names, reference-style


def _tree() -> Path:
    return staging_dir("image_tree")


def _payload(vec_id: int) -> bytes:
    """Deterministic 32-byte fake image: md5('m'|id) || md5('n'|id) —
    the same derivation as multimodal.media, so SQL can recompute it."""
    return bytes.fromhex(
        hashlib.md5(f"m{vec_id}".encode()).hexdigest()
        + hashlib.md5(f"n{vec_id}".encode()).hexdigest()
    )


def write_image_tree() -> Path:
    """Stage the GenImage-layout tree (idempotent):
    ``<base>/imagenet_ai_0419_<gen>/train/ai/img_<id>.png`` plus decoy
    files that the glob filter must skip."""
    base = _tree()
    marker = base / ".complete"
    if marker.exists():
        return base
    for vid in range(_N_IMAGES):
        gen = _GENS[vid % 4]
        d = base / f"imagenet_ai_0419_{gen}" / "train" / "ai"
        d.mkdir(parents=True, exist_ok=True)
        (d / f"img_{vid}.png").write_bytes(_payload(vid))
        if vid % 10 == 0:  # decoys: wrong extension / metadata files
            (d / f"img_{vid}.txt").write_bytes(b"not an image")
    (base / "imagenet_ai_0419_adm" / "train" / "ai" / "listing.json").write_bytes(
        b"{}"
    )
    marker.write_bytes(b"")
    return base


def scan_images(spark: SparkSession) -> DataFrame:
    """S1+S2 — binaryFile scan, extension filter pushed to file listing,
    group key parsed from the directory name (P3)."""
    raw = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.png")
        .option("recursiveFileLookup", "false")
        .load(f"{_tree()}/imagenet_ai_0419_*/train/ai/")
    )
    dirname = F.element_at(F.split(F.col("path"), "/"), -4)
    return raw.select(
        F.substring_index(dirname, "_", -1).alias("group"),
        F.element_at(F.split(F.col("path"), "/"), -1).alias("filename"),
        F.col("length").alias("n_bytes"),
        "content",
    )


@query(
    "q_binaryfile_ingest",
    f"""
    WITH imgs AS (
        SELECT vec_id,
               ['adm', 'biggan', 'sdv5', 'vqdm'][(vec_id % 4) + 1] AS "group",
               instr('0123456789abcdef',
                     substr(md5('m' || CAST(vec_id AS VARCHAR)), 1, 1)) - 1
                   AS first_nibble
        FROM embeddings WHERE vec_id < {_N_IMAGES})
    SELECT "group", COUNT(*) AS n_images,
           CAST(COUNT(*) * 32 AS BIGINT) AS total_bytes,
           CAST(SUM(first_nibble) AS BIGINT) AS sum_first_nibble
    FROM imgs GROUP BY "group" ORDER BY "group"
    """,
)
def q_binaryfile_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1 ingest — stage the image tree, binaryFile-scan it with the
    glob filter (decoy .txt/.json files must be pruned at listing), parse
    the generator group from the path, aggregate counts / byte totals /
    a content checksum (first nibble of each payload). The oracle
    re-derives everything from vec_ids — if the scan read a decoy or
    missed a file, counts and checksums diverge."""
    write_image_tree()
    imgs = scan_images(spark)
    return (
        imgs.select(
            "group",
            "n_bytes",
            # first nibble of the payload == first md5 hex digit
            F.expr(
                "CAST(conv(substring(hex(substring(content, 1, 1)), 1, 1),"
                " 16, 10) AS INT)"
            ).alias("first_nibble"),
        )
        .groupBy("group")
        .agg(
            F.count(F.lit(1)).alias("n_images"),
            F.sum("n_bytes").cast("bigint").alias("total_bytes"),
            F.sum("first_nibble").cast("bigint").alias("sum_first_nibble"),
        )
        .transform(sort_bounded, "group")
    )




@query(
    "q_partitioned_roundtrip",
    f"""
    WITH {GROUPED_EMBEDDINGS_CTE.strip()}
    SELECT "group", COUNT(*) AS n,
           CAST(MIN(vec_id) AS BIGINT) AS min_vec_id,
           CAST(SUM(len(vector)) AS BIGINT) AS total_dims
    FROM grouped_embeddings
    WHERE "group" = 'gen1'
    GROUP BY "group"
    """,
)
def q_partitioned_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5/S6 — write grouped embeddings partitioned by group (zstd
    parquet, the engine's tensor-store layout D4), read back with a
    group filter: the filter must become a PartitionFilter (pruned
    directories, tested via explain), and the round-tripped data must
    aggregate identically to the source."""
    out = str(staging_dir("roundtrip") / "grouped_embeddings")
    (
        grouped_embeddings(spark, sf_dir)
        .write.mode("overwrite")
        .partitionBy("group")
        .parquet(out)
    )
    back = spark.read.parquet(out).where(F.col("group") == "gen1")
    return back.groupBy("group").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("vec_id").cast("bigint").alias("min_vec_id"),
        F.sum(F.size("vector")).cast("bigint").alias("total_dims"),
    )


@query(
    "q_csv_json_roundtrip",
    """
    SELECT n.n_nationkey, n.n_name, r.r_name
    FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
    ORDER BY n.n_nationkey
    """,
)
def q_csv_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9 — nation → CSV (with header) → Avro container
    (``format("pyavro")``, the pure-Python codec) and region → JSON,
    read all back, join: values must survive every text/binary format
    leg (the reference's JSON persistence path,
    ``src/extract_embedding.py:134-138``). The Avro leg (r9) routes
    the CSV-read rows through a pyavro write/read round-trip, so the
    codec gets driver-window exposure under this query's unchanged
    exact oracle — a dropped row, mangled union branch, or varint bug
    on either the encode or decode side is a hash mismatch."""
    from .avro_lite import make_pyavro_datasource

    rt = staging_dir("roundtrip")
    nation_csv = str(rt / "nation_csv")
    nation_avro = str(rt / "nation_avro")
    region_json = str(rt / "region_json")
    table(spark, sf_dir, "nation").write.mode("overwrite").option(
        "header", True
    ).csv(nation_csv)
    table(spark, sf_dir, "region").write.mode("overwrite").json(region_json)
    spark.dataSource.register(make_pyavro_datasource(spark))
    (
        spark.read.option("header", True)
        .option("inferSchema", True)
        .csv(nation_csv)
        .write.format("pyavro")
        .mode("overwrite")
        .save(nation_avro)
    )
    n = spark.read.format("pyavro").load(nation_avro)
    r = spark.read.json(region_json)
    return (
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select(F.col("n_nationkey").cast("bigint"), "n_name", "r_name")
    )


@query(
    "q_e2e_image_pipeline",
    f"""
    WITH feats AS (
        SELECT ['adm', 'biggan', 'sdv5', 'vqdm'][(vec_id % 4) + 1] AS "group",
               dim,
               (instr('0123456789abcdef',
                      substr(md5(md5('m' || CAST(vec_id AS VARCHAR))
                                 || md5('n' || CAST(vec_id AS VARCHAR))),
                             dim + 1, 1)) - 1) / 15.0 AS feature
        FROM embeddings, (SELECT UNNEST(range(0, 8)) AS dim)
        WHERE vec_id < {_N_IMAGES})
    SELECT "group", dim,
           COUNT(*) AS n,
           CAST(SUM(CAST(feature AS DECIMAL(12,9))) AS DOUBLE) / COUNT(*)
               AS mean_feature
    FROM feats GROUP BY "group", dim
    ORDER BY "group", dim
    """,
)
def q_e2e_image_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1 end-to-end (SURVEY §3): binaryFile scan of the staged image
    tree -> group from path (P3) -> mapInPandas surrogate featurizer
    (M1 stand-in, Arrow batches, per-partition init) -> per-(group, dim)
    decimal-exact mean (the E2 aggregation shape). The oracle re-derives
    the features arithmetically from vec_ids: scan, decode plumbing,
    Python UDF round-trip, and aggregation are all checked in one query.
    """
    from ..multimodal import surrogate_featurize

    write_image_tree()
    imgs = scan_images(spark).select(
        "group",
        F.regexp_extract("filename", r"img_(\d+)\.png", 1)
        .cast("bigint")
        .alias("media_id"),
        "content",
    )
    feats = surrogate_featurize(imgs).join(
        imgs.select("media_id", "group"), "media_id"
    )
    return (
        feats.groupBy("group", "dim")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr(
                "CAST(SUM(CAST(feature AS DECIMAL(12,9))) AS DOUBLE)"
                " / COUNT(*)"
            ).alias("mean_feature"),
        )
        .transform(sort_bounded, "group", "dim")
    )


# ---------------------------------------------------------------------------
# S4 — npz compatibility reader (the reference's tensor store)
# ---------------------------------------------------------------------------

_NPZ_N = 30  # stems staged into the npz store (x3 stages = 90 files)


def write_npz_store(spark: SparkSession, sf_dir: str) -> Path:
    """Stage a reference-layout npz tensor store —
    ``<base>/<group>/<stem>/<stage>.npz`` with single key ``fmap``,
    float32 [C,H,W] (``src/feature_map_analysis.py:196-205``) — from
    the D4 featuremaps fixture. Idempotent, keyed by SF dir; bounded
    driver-side staging (90 tiny files)."""
    import numpy as np

    from .fixtures import FM_C, FM_H, FM_W, featuremaps

    base = staging_dir(f"npz_store_{Path(sf_dir).name}")
    marker = base / ".complete"
    if marker.exists():
        return base
    rows = featuremaps(spark, sf_dir).where(F.col("vec_id") < _NPZ_N).collect()
    for r in rows:
        d = base / r.group / r.stem
        d.mkdir(parents=True, exist_ok=True)
        arr = np.asarray(r.data, dtype=np.float32).reshape(FM_C, FM_H, FM_W)
        np.savez_compressed(d / f"{r.stage}.npz", fmap=arr)
    marker.write_bytes(b"")
    return base


def read_npz_featuremaps(spark: SparkSession, base: Path) -> DataFrame:
    """S4 ingest path for users with existing reference output
    (``src/compare_xception_featuremaps.py:34-37`` reads
    ``np.load(f)["fmap"]``): binaryFile scan + mapInPandas npz decode
    into the engine-native D4 schema. The binary payload never
    shuffles — decode emits narrow rows in the scan stage."""
    schema = (
        "group string, stem string, stage string,"
        " c int, h int, w int, data array<float>"
    )

    # self-contained closure (numpy/pandas only) for worker unpickling
    def run(batches):
        import io as _io

        import numpy as _np
        import pandas as _pd

        for pdf in batches:
            rows = []
            for path, content in zip(pdf["path"], pdf["content"]):
                parts = path.rstrip("/").split("/")
                stage, stem, group = parts[-1][:-4], parts[-2], parts[-3]
                fmap = _np.load(_io.BytesIO(bytes(content)))["fmap"]
                c, h, w = (int(x) for x in fmap.shape)
                rows.append(
                    (
                        group, stem, stage, c, h, w,
                        fmap.astype(_np.float32).ravel().tolist(),
                    )
                )
            yield _pd.DataFrame(
                rows,
                columns=["group", "stem", "stage", "c", "h", "w", "data"],
            )

    raw = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.npz")
        .option("recursiveFileLookup", "true")
        .load(str(base))
    )
    return raw.select("path", "content").mapInPandas(run, schema)


@query(
    "q_npz_roundtrip",
    f"""
    WITH fm AS (
        SELECT 'gen' || CAST(label % 4 AS VARCHAR) AS "group",
               'stage' || CAST(stage_n AS VARCHAR) AS stage,
               embedding[(stage_n - 1) * 14 + 1 :
                         (stage_n - 1) * 14 + 36] AS data
        FROM embeddings, (SELECT UNNEST([1, 2, 3]) AS stage_n)
        WHERE vec_id < {_NPZ_N})
    SELECT "group", stage, COUNT(*) AS n_tensors,
           CAST(COUNT(*) * 36 AS BIGINT) AS n_cells,
           CAST(SUM(list_aggregate(
                    list_transform(data,
                        x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0)
                                  AS BIGINT)),
                    'sum')) AS BIGINT) AS checksum_q
    FROM fm GROUP BY "group", stage
    ORDER BY "group", stage
    """,
)
def q_npz_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4 round-trip: D4 fixture → compressed npz store on disk →
    binaryFile + mapInPandas decode → per-(group, stage) counts and a
    fixed-point checksum over every tensor cell. The oracle recomputes
    from the parquet source, so any compression/decode/shape loss in
    the npz path diverges."""
    base = write_npz_store(spark, sf_dir)
    fm = read_npz_featuremaps(spark, base)
    cell_sum = (
        "aggregate(transform(data, x ->"
        " CAST(floor(CAST(x AS DOUBLE) * 1048576.0D) AS BIGINT)),"
        " CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    )
    return (
        fm.groupBy("group", "stage")
        .agg(
            F.count(F.lit(1)).alias("n_tensors"),
            F.sum(F.col("c") * F.col("h") * F.col("w"))
            .cast("bigint")
            .alias("n_cells"),
            F.sum(F.expr(cell_sum)).cast("bigint").alias("checksum_q"),
        )
    )


@query(
    "q_orc_roundtrip",
    """
    SELECT c_mktsegment, COUNT(*) AS n,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE)
               AS sum_acctbal
    FROM customer
    WHERE c_custkey < 500
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
)
def q_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9 — ORC columnar round-trip (zlib): customer → ORC → read back →
    aggregate; values must survive the second columnar format. The read
    side keeps predicate pushdown (ORC min/max stripes) — same scan
    contract as parquet."""
    rt = staging_dir("roundtrip")
    orc_path = str(rt / "customer_orc")
    table(spark, sf_dir, "customer").where(
        F.col("c_custkey") < 500
    ).write.mode("overwrite").orc(orc_path)
    back = spark.read.orc(orc_path)
    return (
        back.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr(
                "CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE)"
            ).alias("sum_acctbal"),
        )
        .transform(sort_bounded, "c_mktsegment")
    )


@query(
    "q_schema_evolution_scan",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(CASE WHEN o_orderkey % 2 = 0 THEN 1 END) AS BIGINT)
               AS n_custkey,
           CAST(COUNT(CASE WHEN o_orderkey % 2 = 1 THEN 1 END) AS BIGINT)
               AS n_totalprice,
           CAST(SUM(CASE WHEN o_orderkey % 2 = 1
                    THEN CAST(o_totalprice AS DECIMAL(18,4)) END) AS DOUBLE)
               AS sum_totalprice,
           CAST(COUNT(DISTINCT CASE WHEN o_orderkey % 2 = 1
                      THEN o_orderpriority END) AS BIGINT) AS n_priorities
    FROM orders
    """,
)
def q_schema_evolution_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution: two parquet batches with DIFFERENT column sets
    appended to one table directory (an early-era file with
    (orderkey, custkey), a later one adding (totalprice, priority) and
    dropping custkey), read back with ``mergeSchema`` — the union
    schema must surface with nulls where a batch lacked the column,
    and aggregate identically to the source-table recomputation the
    oracle runs. The lakehouse reality of 100 TB tables: columns
    arrive and retire mid-history; readers must not need a rewrite.

    Scale note: mergeSchema reconciles footers at LISTING time (a
    driver-side merge over file metadata, not a data pass) — pin the
    canonical schema in a metastore for hot paths and keep mergeSchema
    for exploratory scans."""
    orders = table(spark, sf_dir, "orders")
    out = str(staging_dir("schema_evolution") / "orders_evolving")
    (
        orders.where(F.col("o_orderkey") % 2 == 0)
        .select("o_orderkey", "o_custkey")
        .write.mode("overwrite")
        .parquet(out)
    )
    (
        orders.where(F.col("o_orderkey") % 2 == 1)
        .select("o_orderkey", "o_totalprice", "o_orderpriority")
        .write.mode("append")
        .parquet(out)
    )
    merged = spark.read.option("mergeSchema", "true").parquet(out)
    return merged.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.count("o_custkey").cast("bigint").alias("n_custkey"),
        F.count("o_totalprice").cast("bigint").alias("n_totalprice"),
        F.expr(
            "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)"
        ).alias("sum_totalprice"),
        F.countDistinct("o_orderpriority").cast("bigint").alias(
            "n_priorities"
        ),
    )


# ---------------------------------------------------------------------------
# Spark 4 Python DataSource: the reference's embedding-JSON map format
# (one ``{image_key: [float × D]}`` object per (dataset, backbone) file,
# ``src/extract_embedding.py:134-138``) as a FIRST-CLASS pluggable
# source — ``spark.read.format("embjson").load(dir)`` — instead of the
# text+from_json detour (`q_embedding_json_source` keeps that path for
# comparison). One InputPartition per file: file-level parallelism is
# exactly the reference's per-project loop, distributed. The reader
# runs on executors (Arrow-batched by the DataSource framework); keys
# are emitted in sorted order per file so output is deterministic.
# ---------------------------------------------------------------------------

def make_embjson_datasource():
    """Build the ``embjson`` DataSource class.

    Defined inside a factory so cloudpickle serializes the class BY
    VALUE: the reader executes on Python workers that do not have this
    package on their import path (the driver may be launched from
    anywhere), and a module-level class would pickle as a module
    reference and fail to import there. Self-contained closures are the
    deployment-free way to ship a Python DataSource."""
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        InputPartition,
    )

    class _EmbJsonReader(DataSourceReader):
        def __init__(self, options):
            self._dir = options.get("path")

        def partitions(self):
            from pathlib import Path as _P

            return [
                InputPartition(str(p))
                for p in sorted(_P(self._dir).glob("*.json"))
            ]

        def read(self, partition):
            import json as _json
            from pathlib import Path as _P

            p = _P(partition.value)
            obj = _json.loads(p.read_text())
            for key in sorted(obj):
                yield (p.name, key, [float(x) for x in obj[key]])

    class EmbeddingJsonDataSource(DataSource):
        """``format("embjson")`` — directory of embedding-JSON maps."""

        @classmethod
        def name(cls) -> str:
            return "embjson"

        def schema(self) -> str:
            return "file string, image_key string, vector array<double>"

        def reader(self, schema):
            return _EmbJsonReader(self.options)

    return EmbeddingJsonDataSource


def _stage_embjson_dir(spark: SparkSession, sf_dir: str) -> Path:
    """Two backbone files over disjoint vec_id ranges (deterministic)."""
    import json as _json

    out = staging_dir("embjson_ds")
    # the reader globs *.json — clear stale/foreign files from older
    # revisions so the staging dir holds exactly the two written below
    for old in out.glob("*.json"):
        old.unlink()
    ranges = {"emb_resnet50.json": (0, 20), "emb_xception.json": (20, 40)}
    for fname, (lo, hi) in ranges.items():
        dst = out / fname
        rows = (
            table(spark, sf_dir, "embeddings")
            .where((F.col("vec_id") >= lo) & (F.col("vec_id") < hi))
            .select(
                "vec_id", F.col("embedding").cast("array<double>").alias("v")
            )
            .collect()
        )
        obj = {f"img_{r.vec_id}.png": list(r.v) for r in sorted(rows)}
        dst.write_text(_json.dumps(obj, sort_keys=True))
    return out


@query(
    "q_python_datasource",
    """
    WITH tagged AS (
        SELECT CASE WHEN vec_id < 20 THEN 'emb_resnet50.json'
                    ELSE 'emb_xception.json' END AS file,
               vec_id, embedding
        FROM embeddings WHERE vec_id < 40)
    SELECT file,
           COUNT(DISTINCT vec_id) AS n_keys,
           CAST(SUM(CAST(len(embedding) AS BIGINT)) AS BIGINT) AS n_values,
           CAST(SUM((SELECT SUM(CAST(CAST(v AS DOUBLE) AS DECIMAL(12,9)))
                     FROM UNNEST(embedding) AS t(v))) AS DOUBLE) AS vec_sum
    FROM tagged GROUP BY file ORDER BY file
    """,
)
def q_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-file rollup read through the registered ``embjson`` Python
    DataSource; the oracle recomputes key counts, value counts and the
    decimal-exact value sum from the parquet source, so a reader bug
    (dropped file, mangled key, float corruption) is a mismatch."""
    spark.dataSource.register(make_embjson_datasource())
    path = _stage_embjson_dir(spark, sf_dir)
    df = spark.read.format("embjson").load(str(path))
    return (
        df.select(
            "file", "image_key", F.explode("vector").alias("v")
        )
        .groupBy("file")
        .agg(
            F.countDistinct("image_key").alias("n_keys"),
            F.count(F.lit(1)).cast("bigint").alias("n_values"),
            F.expr("CAST(SUM(CAST(v AS DECIMAL(12,9))) AS DOUBLE)").alias(
                "vec_sum"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Corrupt-record ingestion (PERMISSIVE mode): real crawl/ETL feeds are
# never clean — the engine must quarantine malformed records without
# failing the scan (the reference handles decode failures with
# ``__SKIP__::`` sentinel keys, ``src/extract_embedding.py:43-45``;
# the relational equivalent is the _corrupt_record column). Planted:
# every 11th line is truncated JSON. The oracle never reads the file —
# it recomputes both populations from the generation rule, so a parser
# that silently drops or mis-shreds rows is a mismatch.
# ---------------------------------------------------------------------------

_JSONL_N = 400


def _stage_jsonl(spark: SparkSession) -> Path:
    out = staging_dir("jsonl_corrupt") / "feed.jsonl"
    lines = []
    for i in range(_JSONL_N):
        if i % 11 == 0:
            lines.append('{"id":')  # truncated — unparseable
        else:
            lines.append('{"id": %d, "v": %d}' % (i, i * 3))
    out.write_text("\n".join(lines))
    return out


@query(
    "q_corrupt_json_permissive",
    f"""
    WITH ids AS (SELECT UNNEST(range(0, {_JSONL_N})) AS i)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN i % 11 = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_corrupt,
           CAST(SUM(CASE WHEN i % 11 <> 0 THEN i * 3 END) AS BIGINT)
               AS sum_v
    FROM ids
    """,
)
def q_corrupt_json_permissive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERMISSIVE scan of a JSONL feed with planted malformed lines:
    good rows parse, bad rows land whole in _corrupt_record (nulls
    elsewhere), and the totals must reconcile exactly against the
    generation rule."""
    path = _stage_jsonl(spark)
    df = (
        spark.read.schema("id bigint, v bigint, _corrupt_record string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(str(path))
    )
    return df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("_corrupt_record").alias("n_corrupt"),
        F.sum("v").cast("long").alias("sum_v"),
    )


# ---------------------------------------------------------------------------
# JDBC source/sink (SURVEY S9): a REAL JDBC round-trip through the
# embedded Derby engine Spark already bundles (no external database in
# the sandbox; spark-avro/Kafka remain unavailable — see COVERAGE.md).
# ---------------------------------------------------------------------------

def _derby_url(spark: SparkSession) -> str:
    """jdbc:derby URL under the staging root; pins derby.system.home
    BEFORE first Derby load so derby.log lands in staging, not the
    driver's cwd (which may be read-only or outside the repo).

    The database directory is per-process: embedded Derby allows ONE
    booting JVM per database, so a shared path would make concurrent
    engine processes (pytest + bench, two drivers) fail with
    'another instance of Derby may have already booted'."""
    import os as _os
    import shutil as _shutil
    import time as _time

    home = staging_dir("derby")
    # sweep stale per-PID databases (ADVICE r4: every pytest/bench/
    # driver process left one behind forever). A db dir untouched for
    # an hour belongs to a dead process — its owner would have booted
    # Derby (touching files) within the current run. Best-effort: a
    # concurrent owner's boot lock makes rmtree fail partway, which is
    # fine (it is then recent again).
    cutoff = _time.time() - 3600
    for db in home.glob("enginedb_*"):
        try:
            if db.name != f"enginedb_{_os.getpid()}" and (
                db.stat().st_mtime < cutoff
            ):
                _shutil.rmtree(db, ignore_errors=True)
        except OSError:
            pass
    try:
        spark._jvm.System.setProperty("derby.system.home", str(home))
    except Exception:
        pass  # JVM bridge unavailable only in spark-connect; best-effort
    return f"jdbc:derby:{home}/enginedb_{_os.getpid()};create=true"


@query(
    "q_jdbc_roundtrip",
    """
    WITH nat AS (
        SELECT n_nationkey, n_name, n_regionkey,
               CAST(COUNT(c_custkey) AS BIGINT) AS n_customers,
               CAST(SUM(CAST(COALESCE(c_acctbal, 0) AS DECIMAL(18,2)))
                    AS DOUBLE) AS total_acctbal
        FROM nation LEFT JOIN customer ON c_nationkey = n_nationkey
        GROUP BY n_nationkey, n_name, n_regionkey)
    SELECT n_regionkey,
           CAST(COUNT(*) AS BIGINT) AS n_nations,
           CAST(SUM(n_customers) AS BIGINT) AS n_customers,
           CAST(SUM(CAST(total_acctbal AS DECIMAL(18,2))) AS DOUBLE)
               AS total_acctbal
    FROM nat
    WHERE n_customers > 0
    GROUP BY n_regionkey ORDER BY n_regionkey
    """,
)
def q_jdbc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9 JDBC: write a per-nation rollup to an embedded Derby table
    (``DataFrameWriter.jdbc``, overwrite), read it back as a
    PARTITIONED JDBC scan (``partitionColumn=n_nationkey`` with
    bounds + 4 partitions — the parallel-ingest shape: each partition
    issues its own bounded WHERE query, which is how a 100 TB pipeline
    drains an operational store without a single-connection
    bottleneck), with a pushed predicate (``n_customers > 0`` reaches
    the remote engine as a WHERE clause), then aggregates per region.
    The oracle recomputes the whole round-trip from parquet — any
    type mangling or row loss across the JDBC boundary is a hash
    mismatch.

    DECIMAL discipline: acctbal sums go through DECIMAL(18,2) on both
    engines before the final DOUBLE, so partial-aggregation order
    cannot skew the doubles."""
    url = _derby_url(spark)
    driver = "org.apache.derby.jdbc.EmbeddedDriver"
    nat = (
        table(spark, sf_dir, "nation")
        .join(
            table(spark, sf_dir, "customer"),
            F.col("c_nationkey") == F.col("n_nationkey"),
            "left",
        )
        .groupBy("n_nationkey", "n_name", "n_regionkey")
        .agg(
            F.count("c_custkey").alias("n_customers"),
            F.expr(
                "CAST(SUM(CAST(COALESCE(c_acctbal, 0) AS DECIMAL(18,2)))"
                " AS DOUBLE)"
            ).alias("total_acctbal"),
        )
    )
    (
        nat.write.mode("overwrite")
        .format("jdbc")
        .option("url", url)
        .option("dbtable", "nation_rollup")
        .option("driver", driver)
        .save()
    )
    lo, hi = 0, 30
    back = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", "nation_rollup")
        .option("driver", driver)
        .option("partitionColumn", "n_nationkey")
        .option("lowerBound", str(lo))
        .option("upperBound", str(hi))
        .option("numPartitions", "4")
        .load()
        .where(F.col("n_customers") > 0)
    )
    return (
        back.groupBy("n_regionkey")
        .agg(
            F.count(F.lit(1)).alias("n_nations"),
            F.sum("n_customers").cast("bigint").alias("n_customers"),
            F.expr(
                "CAST(SUM(CAST(total_acctbal AS DECIMAL(18,2))) AS DOUBLE)"
            ).alias("total_acctbal"),
        )
    )


# ---------------------------------------------------------------------------
# File-provenance metadata — Spark's hidden ``_metadata`` struct
# (file_path/file_name/file_size/row_index): the lineage surface a
# pipeline uses to trace any row back to its physical file without
# paying for a provenance column at write time.
# ---------------------------------------------------------------------------

@query(
    "q_file_metadata",
    f"""
    WITH {GROUPED_EMBEDDINGS_CTE.strip()},
    expected AS (
        SELECT "group", COUNT(*) AS n_rows,
               CAST(SUM(vec_id) AS BIGINT) AS vec_sum
        FROM grouped_embeddings GROUP BY "group")
    SELECT "group",
           CAST(n_rows AS BIGINT) AS n_rows,
           vec_sum,
           n_rows > 0 AS file_names_consistent,
           n_rows > 0 AS sizes_positive
    FROM expected ORDER BY "group"
    """,
)
def q_file_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level file provenance via the hidden ``_metadata`` column
    over the partitioned tensor store: per group, the row count and
    vec_id checksum (oracle-recomputed from the logical table) plus
    two provenance invariants read from the physical layer — every
    row's ``_metadata.file_path`` must contain its OWN group's
    partition directory (a mismatch would mean rows attributed to the
    wrong file), and every file size must be positive. The oracle pins
    the data columns exactly and the invariant flags as constants.

    At 100 TB this is how incident response works: no provenance
    column was ever written, yet any suspect row names its source
    file, size, and row index for free at scan time."""
    out = str(staging_dir("roundtrip") / "grouped_embeddings")
    (
        grouped_embeddings(spark, sf_dir)
        .write.mode("overwrite")
        .partitionBy("group")
        .parquet(out)
    )
    back = spark.read.parquet(out).select(
        "group",
        "vec_id",
        F.col("_metadata.file_path").alias("fpath"),
        F.col("_metadata.file_size").alias("fsize"),
        F.col("_metadata.row_index").alias("ridx"),
    )
    return (
        back.groupBy("group")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("vec_id").cast("bigint").alias("vec_sum"),
            (
                F.count(
                    F.when(
                        F.col("fpath").contains(
                            F.concat(F.lit("group="), F.col("group"))
                        ),
                        1,
                    )
                )
                == F.count(F.lit(1))
            ).alias("file_names_consistent"),
            (F.min("fsize") > 0).alias("sizes_positive"),
        )
    )


@query(
    "q_xml_roundtrip",
    """
    SELECT s.s_suppkey, s.s_name, n.n_name,
           CAST(FLOOR(s.s_acctbal * 100) AS BIGINT) AS acctbal_cents
    FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
    ORDER BY s.s_suppkey
    """,
)
def q_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9 — XML round-trip through Spark 4's built-in XML source
    (the spark-xml package folded into core): supplier → XML rows →
    read back with an explicit schema, join nation, emit a fixed-point
    balance. The oracle recomputes from parquet, so any value mangled
    by XML serialization (escaping, numeric text forms, field order)
    is a hash mismatch. Schema-on-read is explicit — XML inference
    samples types and must never be load-bearing in a pipeline."""
    rt = staging_dir("roundtrip")
    xml_dir = str(rt / "supplier_xml")
    (
        table(spark, sf_dir, "supplier")
        .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
        .write.mode("overwrite")
        .option("rootTag", "suppliers")
        .option("rowTag", "supplier")
        .format("xml")
        .save(xml_dir)
    )
    back = (
        spark.read.schema(
            "s_suppkey bigint, s_name string, s_nationkey bigint,"
            " s_acctbal double"
        )
        .option("rowTag", "supplier")
        .format("xml")
        .load(xml_dir)
    )
    nation = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        back.join(
            F.broadcast(nation),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select(
            "s_suppkey",
            "s_name",
            "n_name",
            F.expr("CAST(FLOOR(s_acctbal * 100) AS BIGINT)").alias(
                "acctbal_cents"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Dynamic partition overwrite — the lakehouse incremental-refresh
# primitive: with partitionOverwriteMode=dynamic, an INSERT OVERWRITE
# replaces ONLY the partitions present in the incoming frame and
# leaves every other partition untouched (static mode would wipe the
# whole table). At 100 TB this is how a daily re-run replaces one
# day's partition under a thousand-day table without rewriting it.
# ---------------------------------------------------------------------------

@query(
    "q_dynamic_partition_overwrite",
    f"""
    WITH {GROUPED_EMBEDDINGS_CTE.strip()},
    final AS (
        -- untouched partitions keep v1 rows; gen1 is replaced by the
        -- halved v2 load (even vec_ids only, value marker bumped)
        SELECT "group", vec_id, 1 AS version FROM grouped_embeddings
        WHERE "group" <> 'gen1'
        UNION ALL
        SELECT "group", vec_id, 2 AS version FROM grouped_embeddings
        WHERE "group" = 'gen1' AND vec_id % 2 = 0)
    SELECT "group",
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MAX(version) AS INTEGER) AS version,
           CAST(MIN(vec_id) AS BIGINT) AS min_vec_id
    FROM final
    GROUP BY "group"
    ORDER BY "group"
    """,
)
def q_dynamic_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write the grouped embeddings partitioned by group (version=1),
    then INSERT-OVERWRITE only the gen1 partition with a halved
    version=2 load under partitionOverwriteMode=dynamic. The read-back
    must show gen1 fully replaced (half the rows, version 2) and every
    other partition untouched at version 1 — which is exactly what the
    oracle computes from the split arithmetic. A static-mode
    regression (wiping sibling partitions) or an append-instead-of-
    replace both break the hash."""
    from .fixtures import grouped_embeddings

    tag = Path(sf_dir).name.replace(".", "_")
    out = str(staging_dir("dyn_overwrite") / f"emb_{tag}")
    base = grouped_embeddings(spark, sf_dir).select(
        "group", "vec_id", F.lit(1).alias("version")
    )
    base.write.mode("overwrite").partitionBy("group").parquet(out)
    v2 = (
        grouped_embeddings(spark, sf_dir)
        .where((F.col("group") == "gen1") & (F.col("vec_id") % 2 == 0))
        .select("vec_id", F.lit(2).alias("version"), "group")
    )
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "STATIC")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        v2.write.mode("overwrite").partitionBy("group").parquet(out)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    back = spark.read.parquet(out)
    return (
        back.groupBy("group")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.max("version").cast("int").alias("version"),
            F.min("vec_id").cast("bigint").alias("min_vec_id"),
        )
    )


# ---------------------------------------------------------------------------
# Incremental directory pickup — the batch-ingest idiom for "only
# files that landed since the last run": two staged parquet batches
# with controlled mtimes, read back through recursiveFileLookup +
# modifiedAfter so listing-level pruning (not a filter!) drops the
# old batch before any bytes are scanned.
# ---------------------------------------------------------------------------

@query(
    "q_incremental_file_pickup",
    """
    SELECT n_nationkey, n_name, n_regionkey
    FROM nation WHERE n_nationkey >= 13
    ORDER BY n_nationkey
    """,
)
def q_incremental_file_pickup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """modifiedAfter ingest: the 'old' batch (nationkey < 13) is
    staged with a 2020 mtime, the 'new' batch with a 2024 mtime, and
    the read lists the whole tree but keeps only files modified after
    2022 — Spark's file-index prunes at LISTING time, so the old
    batch contributes zero scan tasks (the cheap cursor for daily
    landing zones when a transactional table format isn't in play;
    the registered CDC/snapshot ops are the upgrade path). Oracle =
    the new batch's predicate on the base table."""
    import os

    base = staging_dir("incremental_pickup")
    nat = table(spark, sf_dir, "nation")
    old_dir, new_dir = str(base / "old"), str(base / "new")
    nat.where(F.col("n_nationkey") < 13).select(
        "n_nationkey", "n_name", "n_regionkey"
    ).coalesce(1).write.mode("overwrite").parquet(old_dir)
    nat.where(F.col("n_nationkey") >= 13).select(
        "n_nationkey", "n_name", "n_regionkey"
    ).coalesce(1).write.mode("overwrite").parquet(new_dir)
    old_t = 1577836800  # 2020-01-01
    new_t = 1717200000  # 2024-06-01
    for d, t in ((old_dir, old_t), (new_dir, new_t)):
        for root, _dirs, files in os.walk(d):
            for f in files:
                os.utime(os.path.join(root, f), (t, t))
    return (
        spark.read.option("recursiveFileLookup", "true")
        .option("modifiedAfter", "2022-01-01T00:00:00")
        .parquet(str(base))
    )


# ---------------------------------------------------------------------------
# Catalog census — one row per registered table: row count and column
# count. The discovery query every catalog/metastore UI runs first;
# ten independent count aggregates union into one result, each a
# count-star parquet scan (statistics-only at the footer level).
# ---------------------------------------------------------------------------

_CENSUS_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def _census_branch(t: str) -> str:
    # the engine's events surface includes the ts_ns normalization
    # column (catalog.table) — describe events_us, not raw events
    src_t = (
        "(SELECT event_id, make_timestamp(epoch_ns(ts)//1000) AS ts,"
        " epoch_ns(ts) AS ts_ns, user_id, event_type, value, props"
        " FROM events)" if t == "events" else t
    )
    return (
        f"SELECT '{t}' AS table_name,"
        f" CAST(COUNT(*) AS BIGINT) AS n_rows,"
        f" (SELECT CAST(COUNT(*) AS BIGINT)"
        f" FROM (DESCRIBE SELECT * FROM {src_t})) AS n_cols FROM {src_t}"
    )


@query(
    "q_catalog_census",
    " UNION ALL ".join(_census_branch(t) for t in _CENSUS_TABLES)
    + " ORDER BY table_name",
)
def q_catalog_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row and column counts for every table in the engine's catalog,
    one result row each, unioned and ordered. Each branch is a
    count-star over parquet — Spark answers it from row-group
    statistics without materializing columns — and the column count
    is schema metadata, free at plan time. The first query any data
    catalog issues against a new warehouse."""
    from functools import reduce

    dfs = []
    for t in _CENSUS_TABLES:
        df = table(spark, sf_dir, t)
        dfs.append(
            df.agg(F.count(F.lit(1)).cast("bigint").alias("n_rows")).select(
                F.lit(t).alias("table_name"),
                "n_rows",
                F.lit(len(df.columns)).cast("bigint").alias("n_cols"),
            )
        )
    return reduce(lambda a, b: a.unionByName(b), dfs).orderBy("table_name")
