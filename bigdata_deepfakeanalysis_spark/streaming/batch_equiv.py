"""Structured-Streaming surface with batch-equivalent semantics
(SURVEY §2.10 — extension; the reference is strictly batch).

Each operator is a DataFrame→DataFrame transformation usable under BOTH
``spark.read`` (oracle-checked here, at any SF) and ``spark.readStream``
(wired by :func:`stream_events`; exercised in tests via a file source +
memory sink). That equivalence is the point: Structured Streaming's
incremental execution of the same logical plan.

Operators: tumbling / sliding / session windows, watermark late-data
drop, dedup-within-watermark, stream-static broadcast join.

Scale design: windowed aggs shuffle on (window, key) — bounded state per
watermark; the static side of stream-static joins is broadcast so the
stream never shuffles. Window starts are emitted as formatted strings
(driver hash compares dates poorly across engines — FIXTURES.md note).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import EVENTS_US_CTE, table
from ..operators.parity import sort_bounded
from ..registry import query

_FMT = "yyyy-MM-dd HH:mm:ss"
_FMT_DUCK = "%Y-%m-%d %H:%M:%S"


# ---------------------------------------------------------------------------
# Transformations (shared between batch and stream)
# ---------------------------------------------------------------------------

def tumbling_counts(events: DataFrame) -> DataFrame:
    """10-minute tumbling window per event_type: count + decimal-exact
    value sum."""
    return (
        events.groupBy(
            F.window("ts", "10 minutes").alias("win"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr(
                "CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)"
            ).alias("sum_value"),
        )
        .select(
            F.date_format("win.start", _FMT).alias("win_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def sliding_counts(events: DataFrame) -> DataFrame:
    """10-minute window sliding every 5 minutes: each event lands in two
    windows."""
    return (
        events.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("win"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.date_format("win.start", _FMT).alias("win_start"), "n")
    )


def session_counts(events: DataFrame, gap: str = "5 minutes") -> DataFrame:
    """Session windows per user: a session closes after a 5-minute gap.
    Emits session start + event count + decimal-exact value sum."""
    return (
        events.groupBy(
            F.session_window("ts", gap).alias("win"), "user_id"
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr(
                "CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)"
            ).alias("sum_value"),
        )
        .select(
            "user_id",
            F.date_format("win.start", _FMT).alias("sess_start"),
            "n",
            "sum_value",
        )
    )


def chained_window_rollup(events: DataFrame) -> DataFrame:
    """Chained time-window aggregation (Spark 3.4+ multiple stateful
    operators): level 1 buckets events into per-(1-hour window, user)
    counts; level 2 re-windows level 1's output via ``window_time`` into
    6-hour rollups — active user-hours, total events, and the max
    per-user hourly burst. In streaming this runs as TWO stacked
    stateful aggregations in one query (the window_time event-time
    column lets the second agg track the first's watermark); in batch
    the identical plan is two ordinary hash aggregates. Counts and max
    are integers, so batch / stream / oracle agree exactly.

    Scale shape: level 1 shuffles on (window, user) with map-side
    partial aggregation; level 2's input is one row per user-hour —
    already tiny — so its shuffle is negligible. State per trigger is
    bounded by the watermark on both levels."""
    lvl1 = events.groupBy(
        F.window("ts", "1 hour").alias("win"), "user_id"
    ).agg(F.count(F.lit(1)).alias("n"))
    return (
        lvl1.groupBy(F.window(F.window_time("win"), "6 hours").alias("win6"))
        .agg(
            F.count(F.lit(1)).alias("n_user_hours"),
            F.sum("n").cast("bigint").alias("n_events"),
            F.max("n").cast("bigint").alias("max_hourly_burst"),
        )
        .select(
            F.date_format("win6.start", _FMT).alias("win_start"),
            "n_user_hours",
            "n_events",
            "max_hourly_burst",
        )
    )


def dedup_keep_first(events: DataFrame) -> DataFrame:
    """Batch equivalent of ``dropDuplicatesWithinWatermark`` on
    (user_id, event_type): deterministic first-event survivor (min
    event_id ~ earliest arrival)."""
    return events.groupBy("user_id", "event_type").agg(
        F.min("event_id").alias("first_event_id"),
        F.count(F.lit(1)).alias("n_dropped_plus_1"),
    )


def drop_late(events: DataFrame, delay: str = "1 hour") -> DataFrame:
    """Batch equivalent of ``withWatermark(ts, delay)``'s final state:
    only events at or above (global max ts - delay) survive."""
    horizon = events.agg(
        (F.max("ts") - F.expr(f"INTERVAL {delay}")).alias("wm")
    )
    return events.join(F.broadcast(horizon)).where(F.col("ts") >= F.col("wm"))


def record_breakers(events: DataFrame) -> DataFrame:
    """Per-user record-breaking events: rows whose ``value`` strictly
    exceeds the running max of every earlier event (ordered by
    (ts, event_id)); the first event per user is a breaker by
    definition. Batch form of the custom stateful operator below —
    comparisons only, no float arithmetic, so batch / stream / oracle
    agree bit-exactly on the parquet doubles."""
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        events.withColumn("_prior_max", F.max("value").over(w))
        .where(
            F.col("_prior_max").isNull()
            | (F.col("value") > F.col("_prior_max"))
        )
        .select(
            "user_id",
            F.date_format("ts", _FMT).alias("ts"),
            "event_id",
            "value",
        )
    )


def record_breakers_stateful(stream: DataFrame) -> DataFrame:
    """The same operator as a CUSTOM STATEFUL streaming op
    (``applyInPandasWithState``, SURVEY §2.10 extension): per-user state
    is one double (the running max), each micro-batch emits only the
    rows that beat it and folds the batch's max back into state. State
    is O(1) per key — the 100 TB shape for "emit improvements over
    all history" where a windowed agg would have to retain every event.
    Requires per-key in-order arrival across micro-batches (holds for
    the one-file-per-trigger replay source here; a production deployment
    pairs it with an ordered source per key, e.g. Kafka partitions)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = "user_id bigint, ts string, event_id bigint, value double"
    state_schema = "max_value double"

    def fn(key, pdfs, state: GroupState):
        cur = state.get[0] if state.exists else None
        ids, tss, vals = [], [], []
        for pdf in pdfs:
            pdf = pdf.sort_values(["ts", "event_id"])
            for ts, eid, val in zip(pdf["ts"], pdf["event_id"], pdf["value"]):
                if cur is None or val > cur:
                    ids.append(eid)
                    tss.append(ts.strftime("%Y-%m-%d %H:%M:%S"))
                    vals.append(val)
                    cur = val
        if cur is not None:
            state.update((float(cur),))
        import pandas as _pd

        yield _pd.DataFrame(
            {
                "user_id": [key[0]] * len(ids),
                "ts": tss,
                "event_id": ids,
                "value": vals,
            }
        )

    return stream.groupBy("user_id").applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def stream_static_join(events: DataFrame, customer: DataFrame) -> DataFrame:
    """Stream-static join: enrich events with the customer dimension
    (broadcast — the stream side never shuffles), roll up by segment."""
    dim = customer.select("c_custkey", "c_mktsegment")
    return (
        events.join(
            F.broadcast(dim), events.user_id == dim.c_custkey, "inner"
        )
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr(
                "CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)"
            ).alias("sum_value"),
        )
    )


def stream_static_anti_join(events: DataFrame, customer: DataFrame) -> DataFrame:
    """Stream-static ANTI join: drop events from blocklisted users
    (negative account balance) — the streaming filter-by-dimension
    pattern (fraud/abuse suppression). The static blocklist is
    broadcast, so the stream side never shuffles; rolled up per
    event_type with a decimal-exact value sum."""
    blocklist = customer.where(F.col("c_acctbal") < 0).select(
        F.col("c_custkey").alias("user_id")
    )
    return (
        events.join(F.broadcast(blocklist), "user_id", "left_anti")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr(
                "CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)"
            ).alias("sum_value"),
        )
    )


# ---------------------------------------------------------------------------
# Streaming wiring (the readStream side of the same transformations)
# ---------------------------------------------------------------------------

def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events as an unbounded source: file stream over the same parquet,
    one file = one micro-batch, with the same nanos→µs handling as the
    batch catalog."""
    import shutil
    from pathlib import Path

    from ..catalog import EVENTS_READ_SCHEMA, events_select, staging_dir
    # The file stream source requires a directory; stage the events file
    # into a fixed, marker-gated directory keyed by the SF dir (a fresh
    # mkdtemp per call leaked /tmp disk across repeated test/bench runs).
    stage = staging_dir(f"events_stream_{Path(sf_dir).name}")
    src = Path(sf_dir) / "events.parquet"
    dst = stage / "events.parquet"
    # gate the copy on (size, mtime), not bare existence — a
    # regenerated fixture must invalidate the staged copy
    src_stat = src.stat()
    if (
        not dst.exists()
        or dst.stat().st_size != src_stat.st_size
        or dst.stat().st_mtime < src_stat.st_mtime
    ):
        shutil.copy2(str(src), str(dst))
    raw = (
        spark.readStream.schema(EVENTS_READ_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(stage))
    )
    return events_select(raw).drop("ts_ns")


def run_stream_once(
    transformed: DataFrame, sink_name: str, mode: str = "complete"
) -> None:
    """Drain the stream into a memory sink — tests compare the sink
    table against the batch result. ``mode="append"`` for stateful ops
    (applyInPandasWithState emits append-only output)."""
    q = (
        transformed.writeStream.format("memory")
        .queryName(sink_name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


# ---------------------------------------------------------------------------
# Oracle-checked queries (batch semantics of each streaming op)
# ---------------------------------------------------------------------------

@query(
    "q_stream_tumbling_window",
    f"""
    WITH {EVENTS_US_CTE},
    b AS (
        SELECT time_bucket(INTERVAL '10 minutes', ts) AS w, event_type,
               COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        FROM events_us GROUP BY 1, 2)
    SELECT strftime(w, '{_FMT_DUCK}') AS win_start, event_type, n, sum_value
    FROM b ORDER BY win_start, event_type
    """,
)
def q_stream_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    return tumbling_counts(ev)


@query(
    "q_stream_sliding_window",
    f"""
    WITH {EVENTS_US_CTE},
    starts AS (
        SELECT time_bucket(INTERVAL '5 minutes', ts)
                 - k * INTERVAL '5 minutes' AS w
        FROM events_us, (SELECT UNNEST([0, 1]) AS k))
    SELECT strftime(w, '{_FMT_DUCK}') AS win_start, COUNT(*) AS n
    FROM starts GROUP BY w ORDER BY win_start
    """,
)
def q_stream_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window 10m/5m — every event is in exactly the two windows
    starting at bucket(ts,5m) and bucket(ts,5m)-5m."""
    ev = table(spark, sf_dir, "events")
    return sliding_counts(ev)


@query(
    "q_stream_session_window",
    f"""
    WITH {EVENTS_US_CTE},
    seq AS (
        SELECT user_id, ts, value,
               CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                         <= INTERVAL '5 minutes'
                    THEN 0 ELSE 1 END AS new_sess
        FROM events_us),
    sess AS (
        SELECT user_id, ts, value,
               SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                   ROWS UNBOUNDED PRECEDING) AS sess_id
        FROM seq)
    SELECT user_id, strftime(MIN(ts), '{_FMT_DUCK}') AS sess_start,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM sess GROUP BY user_id, sess_id
    ORDER BY user_id, sess_start
    """,
)
def q_stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (5-minute gap) — the oracle recreates Spark's
    ``session_window`` with gaps-and-islands over LAG."""
    ev = table(spark, sf_dir, "events")
    return session_counts(ev)


@query(
    "q_stream_dedup_watermark",
    f"""
    WITH {EVENTS_US_CTE}
    SELECT user_id, event_type, MIN(event_id) AS first_event_id,
           COUNT(*) AS n_dropped_plus_1
    FROM events_us GROUP BY user_id, event_type
    ORDER BY user_id, event_type
    """,
)
def q_stream_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    return dedup_keep_first(ev)


@query(
    "q_stream_late_drop",
    f"""
    WITH {EVENTS_US_CTE},
    wm AS (SELECT MAX(ts) - INTERVAL '1 hour' AS wm FROM events_us)
    SELECT TRUE AS kept, COUNT(*) AS n,
           strftime(MIN(ts), '{_FMT_DUCK}') AS first_kept_ts
    FROM events_us, wm WHERE ts >= wm
    """,
)
def q_stream_late_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark late-data drop: only the final hour of events survives
    the 1-hour watermark's terminal state."""
    ev = table(spark, sf_dir, "events")
    kept = drop_late(ev, "1 hour")
    return kept.agg(
        F.lit(True).alias("kept"),
        F.count(F.lit(1)).alias("n"),
        F.date_format(F.min("ts"), _FMT).alias("first_kept_ts"),
    )


@query(
    "q_stream_chained_windows",
    f"""
    WITH {EVENTS_US_CTE},
    l1 AS (
        SELECT time_bucket(INTERVAL '1 hour', ts) AS w1, user_id,
               COUNT(*) AS n
        FROM events_us GROUP BY 1, 2),
    l2 AS (
        SELECT time_bucket(INTERVAL '6 hours', w1) AS w6,
               CAST(COUNT(*) AS BIGINT) AS n_user_hours,
               CAST(SUM(n) AS BIGINT) AS n_events,
               CAST(MAX(n) AS BIGINT) AS max_hourly_burst
        FROM l1 GROUP BY 1)
    SELECT strftime(w6, '{_FMT_DUCK}') AS win_start, n_user_hours,
           n_events, max_hourly_burst
    FROM l2 ORDER BY win_start
    """,
)
def q_stream_chained_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chained windowed aggregation (window-over-window) — the oracle
    re-buckets level 1's 1-hour buckets with a 6-hour time_bucket
    (1-hour windows never straddle a 6-hour boundary, so re-bucketing
    the window start equals Spark's window-over-window_time); the
    streaming form of the same plan is asserted batch≡stream in
    tests/test_streaming.py."""
    ev = table(spark, sf_dir, "events")
    return chained_window_rollup(ev)


@query(
    "q_stream_record_breakers",
    f"""
    WITH {EVENTS_US_CTE},
    w AS (
        SELECT user_id, ts, event_id, value,
               MAX(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND 1 PRECEDING) AS pm
        FROM events_us)
    SELECT user_id, strftime(ts, '{_FMT_DUCK}') AS ts, event_id, value
    FROM w WHERE pm IS NULL OR value > pm
    ORDER BY user_id, event_id
    """,
)
def q_stream_record_breakers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful op (record-breaking events per user), checked via
    its batch window-function equivalent; the applyInPandasWithState
    path is asserted batch≡stream in tests/test_streaming.py."""
    ev = table(spark, sf_dir, "events")
    return record_breakers(ev)


@query(
    "q_stream_static_join",
    f"""
    WITH {EVENTS_US_CTE}
    SELECT c_mktsegment, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events_us JOIN customer ON user_id = c_custkey
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
)
def q_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    cust = table(spark, sf_dir, "customer")
    return stream_static_join(ev, cust).transform(
        sort_bounded, "c_mktsegment"
    )


@query(
    "q_stream_static_anti_join",
    f"""
    WITH {EVENTS_US_CTE}
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events_us
    WHERE user_id NOT IN (SELECT c_custkey FROM customer
                          WHERE c_acctbal < 0)
    GROUP BY event_type ORDER BY event_type
    """,
)
def q_stream_static_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static broadcast ANTI join (blocklist suppression) — the
    oracle runs the equivalent NOT IN over the same tables (event
    user_ids and custkeys are non-null, so anti join ≡ NOT IN); the
    streaming form is asserted batch≡stream in tests/test_streaming.py."""
    ev = table(spark, sf_dir, "events")
    cust = table(spark, sf_dir, "customer")
    return stream_static_anti_join(ev, cust).transform(
        sort_bounded, "event_type"
    )


# ---------------------------------------------------------------------------
# Stream-stream interval join (event-time attribution): every purchase
# within 10 minutes after a click by the same user. In streaming form
# both sides carry watermarks and the join condition bounds event time
# on both ends, so Spark keeps only a watermark-deep state window per
# side — the canonical bounded-state stream-stream join. The batch form
# is the identical transformation (watermarks are no-ops in batch).
# ---------------------------------------------------------------------------

def stream_stream_attribution(
    clicks_src: DataFrame,
    purchases_src: DataFrame,
    within: str = "10 minutes",
    join_type: str = "inner",
) -> DataFrame:
    """(click, purchase) pairs per user with the purchase in
    [click_ts, click_ts + within]; integer µs lag (exact on both
    engines).

    ``join_type="left_outer"`` adds the conversion-funnel rows: clicks
    with NO purchase inside the window surface with null purchase
    columns. In streaming form the outer row is emitted exactly when
    the watermark passes ``click_ts + within`` (the click's state can
    no longer match) — bounded state either way."""
    a = clicks_src.where(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    b = purchases_src.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user_id"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    return (
        a.join(
            b,
            (F.col("user_id") == F.col("p_user_id"))
            & (F.col("purchase_ts") >= F.col("click_ts"))
            & (
                F.col("purchase_ts")
                <= F.col("click_ts") + F.expr(f"INTERVAL {within}")
            ),
            join_type,
        )
        .select(
            "user_id",
            "click_id",
            "purchase_id",
            (
                F.unix_micros("purchase_ts") - F.unix_micros("click_ts")
            ).alias("lag_us"),
        )
    )


@query(
    "q_stream_stream_join",
    f"""
    WITH {EVENTS_US_CTE},
    a AS (SELECT user_id, event_id AS click_id, ts AS click_ts
          FROM events_us WHERE event_type = 'click'),
    b AS (SELECT user_id AS p_user_id, event_id AS purchase_id,
                 ts AS purchase_ts
          FROM events_us WHERE event_type = 'purchase')
    SELECT user_id, click_id, purchase_id,
           epoch_us(purchase_ts) - epoch_us(click_ts) AS lag_us
    FROM a JOIN b ON user_id = p_user_id
      AND purchase_ts >= click_ts
      AND purchase_ts <= click_ts + INTERVAL '10 minutes'
    ORDER BY user_id, click_id, purchase_id
    """,
)
def q_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time interval self-join (click → purchase attribution) —
    the batch semantics of the watermarked stream-stream join; the
    readStream path is asserted batch≡stream in tests/test_streaming.py."""
    ev = table(spark, sf_dir, "events")
    return stream_stream_attribution(ev, ev)


@query(
    "q_stream_stream_outer_join",
    f"""
    WITH {EVENTS_US_CTE},
    a AS (SELECT user_id, event_id AS click_id, ts AS click_ts
          FROM events_us WHERE event_type = 'click'),
    b AS (SELECT user_id AS p_user_id, event_id AS purchase_id,
                 ts AS purchase_ts
          FROM events_us WHERE event_type = 'purchase')
    SELECT a.user_id, click_id, purchase_id,
           epoch_us(purchase_ts) - epoch_us(click_ts) AS lag_us
    FROM a LEFT JOIN b ON a.user_id = p_user_id
      AND purchase_ts >= click_ts
      AND purchase_ts <= click_ts + INTERVAL '10 minutes'
    ORDER BY user_id, click_id, purchase_id
    """,
)
def q_stream_stream_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER event-time interval join — the conversion funnel with
    unconverted clicks as null-purchase rows. Streaming semantics: the
    outer row emits exactly when the watermark passes
    click_ts + window (state expiry), asserted batch≡stream in
    tests/test_streaming.py; this registered form is the identical
    batch transformation."""
    ev = table(spark, sf_dir, "events")
    return stream_stream_attribution(ev, ev, join_type="left_outer")


# ---------------------------------------------------------------------------
# foreachBatch exactly-once sink: idempotent per-epoch partition
# overwrite. Structured Streaming guarantees at-least-once foreachBatch
# invocation; the sink makes replays no-ops by keying the write on the
# epoch — each micro-batch dynamically overwrites ONLY its own
# partition, so reprocessing after a checkpoint loss/rollback rewrites
# identical data instead of appending duplicates. This is the standard
# parquet/warehouse exactly-once recipe (the file-sink's own log gives
# the same guarantee; foreachBatch is the shape that generalizes to
# MERGE-style upserts).
# ---------------------------------------------------------------------------

def foreach_batch_idempotent_sink(
    spark: SparkSession, sf_dir: str, out_dir: str, checkpoint_dir: str
) -> None:
    """Drain the events file-stream into ``out_dir`` via foreachBatch,
    one dynamic partition per epoch. Safe to re-run with a fresh
    checkpoint (full replay): every epoch overwrites its own partition."""
    stream = stream_events(spark, sf_dir)

    def write_batch(df: DataFrame, epoch_id: int) -> None:
        (
            df.withColumn("_epoch", F.lit(int(epoch_id)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_epoch")
            .parquet(out_dir)
        )

    q = (
        stream.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


@query(
    "q_stream_exactly_once",
    f"""
    WITH {EVENTS_US_CTE}
    SELECT COUNT(*) AS n_rows, COUNT(DISTINCT event_id) AS n_distinct
    FROM events_us
    """,
)
def q_stream_exactly_once(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once proof: drain the stream into the idempotent sink
    TWICE — the second pass with a fresh checkpoint, i.e. a full replay
    of every micro-batch — then count the sink. If replays appended
    instead of overwriting their epoch partitions, n_rows would double;
    the oracle counts the source table once."""
    import shutil
    from pathlib import Path

    from ..catalog import staging_dir

    tag = Path(sf_dir).name
    out = staging_dir(f"stream_eo_out_{tag}")
    for attempt in range(2):
        ckpt = staging_dir(f"stream_eo_ckpt_{tag}_{attempt}")
        # fresh checkpoint each attempt => attempt 2 replays everything
        shutil.rmtree(ckpt, ignore_errors=True)
        foreach_batch_idempotent_sink(spark, sf_dir, str(out), str(ckpt))
    sunk = spark.read.parquet(str(out))
    return sunk.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_distinct("event_id").alias("n_distinct"),
    )


def record_breakers_tws(stream: DataFrame) -> DataFrame:
    """The record-breaker operator on Spark 4's
    ``transformWithStateInPandas`` — the successor API to
    ``applyInPandasWithState``: typed per-key state handles
    (ValueState/ListState/MapState), timers, and state TTL behind a
    ``StatefulProcessor`` interface. State contract is identical to
    ``record_breakers_stateful`` (one double per key, O(1)); requires
    the RocksDB state store provider (the production backend — the TWS
    operator does not run on the default HDFS-heap store)."""
    from pyspark.sql.streaming import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class _Breakers(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._max = handle.getValueState(
                "max_value", "max_value double"
            )

        def handleInputRows(self, key, rows, timer_values):
            import pandas as _pd

            cur = self._max.get()[0] if self._max.exists() else None
            ids, tss, vals = [], [], []
            for pdf in rows:
                pdf = pdf.sort_values(["ts", "event_id"])
                for ts, eid, val in zip(
                    pdf["ts"], pdf["event_id"], pdf["value"]
                ):
                    if cur is None or val > cur:
                        ids.append(eid)
                        tss.append(ts.strftime("%Y-%m-%d %H:%M:%S"))
                        vals.append(val)
                        cur = val
            if cur is not None:
                self._max.update((float(cur),))
            yield _pd.DataFrame(
                {
                    "user_id": [key[0]] * len(ids),
                    "ts": tss,
                    "event_id": ids,
                    "value": vals,
                }
            )

        def close(self) -> None:
            pass

    return stream.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=_Breakers(),
        outputStructType=(
            "user_id bigint, ts string, event_id bigint, value double"
        ),
        outputMode="Append",
        timeMode="None",
    )


# ---------------------------------------------------------------------------
# Exactly-once into an operational store: foreachBatch → JDBC (the
# bundled embedded Derby), replay-idempotent AND epoch-atomic. The
# no-XA pattern, r13 form (VERDICT r12 task 5 — versioned epochs + a
# commit pointer, halving the per-epoch store row writes of the r12
# staging-swap form): each attempt appends the batch ONCE into the
# versioned data table under a fresh (epoch, ver), then ONE driver
# transaction flips the epoch's pointer row in the commits table.
# Readers join data through the pointer, so they observe each epoch
# atomically jumping from its previous complete version to the next —
# never a half-written one (the data rows of a version are fully
# appended before the pointer can name it). A crash while appending
# leaves an unreferenced version (invisible; superseded by the next
# attempt's higher ver); a crash inside the pointer transaction rolls
# back to the previous pointer. Stale versions are garbage-collected
# after the flip, outside the transaction — they were already
# invisible. Compared to the staging swap (stage-append + target
# DELETE + INSERT..SELECT copy + stage DELETE ≈ 4 row-writes per
# replayed row), a replayed epoch now costs append + pointer flip +
# garbage DELETE ≈ 2, and a first-time epoch costs just the append.
# The parquet sink above gets the same property from dynamic
# partition overwrite.
# ---------------------------------------------------------------------------

def foreach_batch_jdbc_sink(
    spark: SparkSession,
    sf_dir: str,
    checkpoint_dir: str,
    table_name: str,
    _test_crash=None,
) -> str:
    """Drain the events stream into a versioned Derby table via
    foreachBatch: each epoch appends under a fresh version and then
    atomically flips the epoch's committed-version pointer in ONE
    transaction, so any replayed micro-batch converges to the same
    visible state and a crash at ANY point leaves readers on a
    complete epoch boundary. Convergence across a FULL re-drain
    additionally relies on availableNow carving identical micro-batch
    boundaries from the same source listing (deterministic here;
    q_stream_jdbc_exactly_once asserts the fixed point by value
    checksum, which would catch a carving drift as a stale-epoch
    residue). ``_test_crash(epoch_id)``, when given, runs INSIDE the
    pointer transaction after the pointer DELETE — the crash-injection
    hook the atomicity test uses (raising there must roll back, not
    lose the epoch). Returns the JDBC url; read the committed view via
    ``jdbc_committed_view(table_name)`` — the only read path
    (tests/test_streaming.py checks the package source for it).

    SINGLE WRITER: at most one query drains into ``table_name`` at a
    time. Version allocation (``MAX(ver) + 1`` for the epoch) is not
    fenced, so two concurrent attempts of one epoch — a zombie and its
    replacement — could pick the same version and append into it
    together; the pointer would then name the merged rows. A unique
    ``(epoch, ver)`` claim that makes the loser's append fail is the
    fix, and is not in place."""
    from ..operators.sources import _derby_url

    url = _derby_url(spark)
    driver = "org.apache.derby.jdbc.EmbeddedDriver"
    commits_name = f"{table_name}_commits"

    # create-if-absent via a bounded JDBC DDL round-trip
    jvm = spark._jvm
    conn = jvm.java.sql.DriverManager.getConnection(url)
    try:
        ddl = {
            table_name: (
                f"CREATE TABLE {table_name} (epoch BIGINT, ver BIGINT,"
                f" event_id BIGINT, user_id BIGINT, value DOUBLE)"
            ),
            commits_name: (
                f"CREATE TABLE {commits_name} (epoch BIGINT, ver BIGINT)"
            ),
        }
        for t, stmt in ddl.items():
            meta = conn.getMetaData().getTables(None, None, t.upper(), None)
            if not meta.next():
                st = conn.createStatement()
                st.execute(stmt)
                st.close()
    finally:
        conn.close()

    stream = stream_events(spark, sf_dir).select(
        "event_id", "user_id", "value"
    )

    def write_batch(df: DataFrame, epoch_id: int) -> None:
        e = int(epoch_id)
        # 1. next version for this epoch: one above anything already in
        #    the data table (covers both crashed-attempt residue and a
        #    replay of an already-committed epoch)
        c = jvm.java.sql.DriverManager.getConnection(url)
        try:
            s = c.createStatement()
            rs = s.executeQuery(
                f"SELECT MAX(ver) FROM {table_name} WHERE epoch = {e}"
            )
            rs.next()
            prev = rs.getLong(1)
            v = 1 if rs.wasNull() else prev + 1
            rs.close()
            s.close()
        finally:
            c.close()
        # 2. distributed append of THIS version's rows (per-partition
        #    writer connections; not atomic, and doesn't need to be —
        #    version v is invisible until the pointer names it)
        (
            df.withColumn("epoch", F.lit(e))
            .withColumn("ver", F.lit(v))
            .select("epoch", "ver", "event_id", "user_id", "value")
            .write.mode("append")
            .format("jdbc")
            .option("url", url)
            .option("dbtable", table_name)
            .option("driver", driver)
            # 10x the default 1000-row executeBatch: fewer JDBC round
            # trips per partition writer (guide §1.2 per-task work;
            # interleaved A/B at sf0.1: 100k-row write 1.27 s -> 0.83 s)
            .option("batchsize", "10000")
            .save()
        )
        # 3. atomic pointer flip: one connection, one transaction
        c = jvm.java.sql.DriverManager.getConnection(url)
        try:
            c.setAutoCommit(False)
            s = c.createStatement()
            try:
                s.execute(f"DELETE FROM {commits_name} WHERE epoch = {e}")
                if _test_crash is not None:
                    _test_crash(e)
                s.execute(
                    f"INSERT INTO {commits_name} VALUES ({e}, {v})"
                )
                c.commit()
            except Exception:
                c.rollback()
                raise
            finally:
                s.close()
        finally:
            c.close()
        # 4. garbage-collect superseded versions (auto-commit, outside
        #    the transaction: these rows are already invisible through
        #    the pointer, so a crash here just defers the cleanup to
        #    the next attempt of this epoch)
        c = jvm.java.sql.DriverManager.getConnection(url)
        try:
            s = c.createStatement()
            s.execute(
                f"DELETE FROM {table_name}"
                f" WHERE epoch = {e} AND ver <> {v}"
            )
            s.close()
        finally:
            c.close()

    q = (
        stream.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return url


def jdbc_committed_view(table_name: str) -> str:
    """The reader-side committed view of a versioned exactly-once
    table: data joined through the epoch's commit pointer. A JDBC
    ``dbtable`` subquery, so the join runs store-side."""
    return (
        f"(SELECT d.epoch, d.event_id, d.user_id, d.value"
        f" FROM {table_name} d JOIN {table_name}_commits c"
        f" ON d.epoch = c.epoch AND d.ver = c.ver) AS t"
    )


@query(
    "q_stream_jdbc_exactly_once",
    f"""
    WITH {EVENTS_US_CTE}
    SELECT COUNT(*) AS n_rows, COUNT(DISTINCT event_id) AS n_distinct,
           CAST(SUM(CAST(FLOOR(value * 1000) AS BIGINT)) AS BIGINT)
               AS value_fp_sum
    FROM events_us
    """,
)
def q_stream_jdbc_exactly_once(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once into the JDBC store, proven by full replay: drain
    the stream twice (second pass with a fresh checkpoint replays
    every micro-batch) into a versioned Derby table whose epochs
    commit by an atomic pointer flip (r13), then count the committed
    view. Appending replays would double n_rows; losing an epoch would
    drop the fixed-point value checksum; the oracle computes all three
    numbers from the source table read once."""
    import shutil
    from pathlib import Path

    from ..catalog import staging_dir

    tag = Path(sf_dir).name.replace(".", "_")
    table_name = f"eo_events_{tag}"
    url = None
    for attempt in range(2):
        ckpt = staging_dir(f"stream_eo_jdbc_ckpt_{tag}_{attempt}")
        shutil.rmtree(ckpt, ignore_errors=True)
        url = foreach_batch_jdbc_sink(spark, sf_dir, str(ckpt), table_name)
    sunk = (
        spark.read.format("jdbc")
        .option("url", url)
        # committed view: data joined through the epoch commit pointer
        # (r13 versioned-epoch sink) — replays of an epoch flip the
        # pointer, so appending replays would still double n_rows here
        # only if the sink lost its versioning (the replay proof is
        # unchanged)
        .option("dbtable", jdbc_committed_view(table_name))
        .option("driver", "org.apache.derby.jdbc.EmbeddedDriver")
        # stream the verification scan in 10k-row fetch blocks instead
        # of the driver-default row-at-a-time ResultSet paging
        .option("fetchsize", "10000")
        .load()
    )
    return sunk.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_distinct("event_id").alias("n_distinct"),
        F.sum(F.expr("CAST(FLOOR(value * 1000) AS BIGINT)"))
        .cast("bigint")
        .alias("value_fp_sum"),
    )
