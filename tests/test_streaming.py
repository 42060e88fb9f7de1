"""The streaming ops must produce the SAME result via readStream as via
the batch path — Structured Streaming incrementalizes the same plan.

Parameterized over every streaming operator whose plan is runnable in a
single availableNow drain (tumbling / sliding / session windows, dedup,
stream-static join). ``drop_late`` is batch-equivalent-only by design:
its batch form aggregates the stream then joins it back (not a runnable
streaming plan), and a one-batch availableNow run never advances the
watermark, so there is nothing to drop — its semantics are covered by
the q_stream_late_drop oracle check.
"""

from __future__ import annotations

import pytest

from bigdata_deepfakeanalysis_spark.catalog import table
from bigdata_deepfakeanalysis_spark.streaming import batch_equiv as BE

from .conftest import SF_SMALL, jobs_of

_CASES = {
    "tumbling": (
        lambda spark, ev: BE.tumbling_counts(ev),
        ["win_start", "event_type"],
        ["sum_value"],
    ),
    "sliding": (
        lambda spark, ev: BE.sliding_counts(ev),
        ["win_start"],
        [],
    ),
    "session": (
        lambda spark, ev: BE.session_counts(ev),
        ["user_id", "sess_start"],
        ["sum_value"],
    ),
    "dedup": (
        lambda spark, ev: BE.dedup_keep_first(ev),
        ["user_id", "event_type"],
        [],
    ),
    "stream_static": (
        lambda spark, ev: BE.stream_static_join(
            ev, table(spark, SF_SMALL, "customer")
        ),
        ["c_mktsegment"],
        ["sum_value"],
    ),
    "stream_static_anti": (
        lambda spark, ev: BE.stream_static_anti_join(
            ev, table(spark, SF_SMALL, "customer")
        ),
        ["event_type"],
        ["sum_value"],
    ),
}


def test_stateful_record_breakers_matches_batch(spark):
    """applyInPandasWithState custom stateful op == batch window form.
    Comparisons only (no float arithmetic) so equality is exact."""
    batch = BE.record_breakers(table(spark, SF_SMALL, "events")).toPandas()

    stream = BE.stream_events(spark, SF_SMALL)
    BE.run_stream_once(
        BE.record_breakers_stateful(stream), "breakers_sink", mode="append"
    )
    streamed = spark.table("breakers_sink").toPandas()

    key = ["user_id", "event_id"]
    b = batch.sort_values(key).reset_index(drop=True)
    s = streamed.sort_values(key).reset_index(drop=True)
    assert len(b) == len(s) > 0
    assert (b[b.columns].values == s[b.columns].values).all()


@pytest.mark.parametrize("name", sorted(_CASES))
def test_stream_matches_batch(spark, name):
    build, key, float_cols = _CASES[name]
    batch = build(spark, table(spark, SF_SMALL, "events")).toPandas()

    stream = BE.stream_events(spark, SF_SMALL)
    assert stream.isStreaming
    sink = f"{name}_sink"
    BE.run_stream_once(build(spark, stream), sink)
    streamed = spark.table(sink).toPandas()

    b = batch.sort_values(key).reset_index(drop=True)
    s = streamed.sort_values(key).reset_index(drop=True)
    assert len(b) == len(s) > 0
    exact_cols = [c for c in b.columns if c not in float_cols]
    assert (b[exact_cols].values == s[exact_cols].values).all()
    for c in float_cols:
        assert (abs(b[c] - s[c]) < 1e-9).all()


def test_chained_windows_match_batch_up_to_watermark(spark):
    """Two STACKED streaming aggregations in one query (window over
    window_time, Spark 3.4+ multiple stateful operators): with a
    0-second watermark and append mode, every 6-hour rollup whose
    window CLOSED at or before the final global watermark (= max event
    ts) must equal the batch form exactly; the trailing open window
    must not have emitted. Counts only — equality is exact."""
    import pandas as pd
    from pyspark.sql import functions as F

    ev = table(spark, SF_SMALL, "events")
    batch = BE.chained_window_rollup(ev).toPandas()
    mx = ev.agg(F.max("ts")).collect()[0][0]
    closes = pd.to_datetime(batch["win_start"]) + pd.Timedelta(hours=6)
    expected = batch[closes <= mx]

    stream = BE.stream_events(spark, SF_SMALL).withWatermark(
        "ts", "0 seconds"
    )
    BE.run_stream_once(
        BE.chained_window_rollup(stream), "chained_sink", mode="append"
    )
    streamed = spark.table("chained_sink").toPandas()

    b = expected.sort_values("win_start").reset_index(drop=True)
    s = streamed.sort_values("win_start").reset_index(drop=True)
    assert len(b) == len(s) > 0
    assert len(b) < len(batch)  # the open tail window did not emit
    assert (b[b.columns].values == s[b.columns].values).all()


def test_stream_stream_join_matches_batch(spark):
    """Watermarked stream-stream interval join == batch interval join.
    Integer join keys and µs lags — equality is exact."""
    ev = table(spark, SF_SMALL, "events")
    batch = BE.stream_stream_attribution(ev, ev).toPandas()

    sa = BE.stream_events(spark, SF_SMALL).withWatermark("ts", "1 hour")
    sb = BE.stream_events(spark, SF_SMALL).withWatermark("ts", "1 hour")
    BE.run_stream_once(
        BE.stream_stream_attribution(sa, sb), "ss_join_sink", mode="append"
    )
    streamed = spark.table("ss_join_sink").toPandas()

    key = ["user_id", "click_id", "purchase_id"]
    b = batch.sort_values(key).reset_index(drop=True)
    s = streamed.sort_values(key).reset_index(drop=True)
    assert len(b) == len(s) > 0
    assert (b[b.columns].values == s[b.columns].values).all()


def test_foreach_batch_sink_is_replay_idempotent(spark):
    """Drain, then fully replay with a fresh checkpoint: the sink must
    contain each source event exactly once — epoch-keyed dynamic
    partition overwrite makes the at-least-once foreachBatch contract
    effectively exactly-once."""
    import shutil
    from pathlib import Path

    from bigdata_deepfakeanalysis_spark.catalog import staging_dir, table

    out = staging_dir("stream_eo_test_out")
    shutil.rmtree(out, ignore_errors=True)
    for attempt in range(2):
        ckpt = staging_dir(f"stream_eo_test_ckpt_{attempt}")
        shutil.rmtree(ckpt, ignore_errors=True)
        BE.foreach_batch_idempotent_sink(
            spark, SF_SMALL, str(out), str(ckpt)
        )
    sunk = sorted(
        r.event_id for r in spark.read.parquet(str(out)).collect()
    )
    src = sorted(
        r.event_id for r in table(spark, SF_SMALL, "events").collect()
    )
    assert sunk == src


def test_jdbc_sink_epoch_swap_is_atomic_under_crash(spark):
    """VERDICT r11 task 5 (pattern upgraded r13 per VERDICT r12 task
    5): the JDBC exactly-once sink's epoch transition must be ONE
    transaction. Protocol: (1) clean drain commits every epoch; (2) a
    REPLAY drain crashes via the injection hook inside the pointer
    transaction, after the pointer DELETE — the exact window where a
    non-transactional pointer update would leave the epoch unreadable;
    the transaction must roll back, leaving the COMMITTED VIEW
    bit-identical to the pre-crash state (the crashed attempt's data
    rows may persist, but only as unreferenced versions invisible
    through the pointer); (3) a further replay converges to the source
    and garbage-collects every superseded version."""
    import shutil

    from bigdata_deepfakeanalysis_spark.catalog import staging_dir, table

    table_name = "eo_crash_events"

    def drain(attempt: int, crash=None) -> str:
        ckpt = staging_dir(f"stream_eo_crash_ckpt_{attempt}")
        shutil.rmtree(ckpt, ignore_errors=True)
        return BE.foreach_batch_jdbc_sink(
            spark, SF_SMALL, str(ckpt), table_name, _test_crash=crash
        )

    def counts(url: str, dbtable: str) -> tuple[int, int]:
        df = (
            spark.read.format("jdbc")
            .option("url", url)
            .option("dbtable", dbtable)
            .option("driver", "org.apache.derby.jdbc.EmbeddedDriver")
            .load()
        )
        return df.count(), df.select("event_id").distinct().count()

    committed = BE.jdbc_committed_view(table_name)
    # rows NOT referenced by the commit pointer (crashed/superseded
    # versions awaiting garbage collection)
    garbage = (
        f"(SELECT d.event_id FROM {table_name} d"
        f" LEFT JOIN {table_name}_commits c"
        f" ON d.epoch = c.epoch AND d.ver = c.ver"
        f" WHERE c.epoch IS NULL) AS g"
    )

    url = drain(0)
    src_n = table(spark, SF_SMALL, "events").count()
    n0, d0 = counts(url, committed)
    assert n0 == d0 == src_n > 0

    fired: list[int] = []

    def crash(epoch: int) -> None:
        fired.append(epoch)
        raise RuntimeError("injected crash inside the pointer txn")

    with pytest.raises(Exception, match="injected crash"):
        drain(1, crash=crash)
    assert fired, "crash hook never reached the pointer transaction"
    # the uncommitted pointer DELETE rolled back: committed view
    # unchanged, no torn epoch
    assert counts(url, committed) == (n0, d0)

    # replay converges and garbage-collects the crashed attempt's rows
    drain(2)
    assert counts(url, committed) == (n0, d0)
    assert counts(url, garbage)[0] == 0


def test_jdbc_exactly_once_result_runs_one_job(spark):
    """q_stream_jdbc_exactly_once counts the committed view in the
    store: after the build (which drains the stream twice), writing the
    result reads one row in one job. Reading the committed rows into
    Spark and counting them there runs 3 (two shuffle map stages for
    the distinct count, then the result)."""
    from bigdata_deepfakeanalysis_spark.registry import all_queries

    df = all_queries()["q_stream_jdbc_exactly_once"](spark, SF_SMALL)
    write = df.write.format("noop").mode("overwrite")
    jobs = jobs_of(spark, write.save)
    assert jobs == 1, jobs


def test_jdbc_exactly_once_on_empty_events(spark, tmp_path):
    """Empty input: the store-side count reads (0, 0, NULL), as the
    oracle does over the same empty table."""
    import duckdb
    import pyarrow.parquet as pq

    from bigdata_deepfakeanalysis_spark.registry import all_oracles

    from .conftest import assert_matches_oracle

    sf = tmp_path / "empty_events"
    sf.mkdir()
    src = pq.read_table(f"{SF_SMALL}/events.parquet")
    pq.write_table(src.slice(0, 0), sf / "events.parquet")
    df = BE.q_stream_jdbc_exactly_once(spark, str(sf))
    assert [tuple(r) for r in df.collect()] == [(0, 0, None)]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{sf}/events.parquet')"
    )
    assert_matches_oracle(
        df, con, all_oracles()["q_stream_jdbc_exactly_once"]
    )
    con.close()


def test_jdbc_sink_fences_concurrent_attempts_of_an_epoch(spark):
    """A zombie attempt and its replacement replay the same epoch at
    once. Both pick the same next version (the hook holds each until
    the other has picked); the version claim's key lets one through and
    fails the other before it appends, so the committed view holds each
    event once. Without the claim both append into that version and
    the pointer names the merged rows, every event twice. An attempt
    overtaken by a newer claim fails at its pointer flip, leaving the
    committed view as it was."""
    import shutil
    import threading

    from bigdata_deepfakeanalysis_spark.catalog import staging_dir, table

    table_name = "eo_fence_events"
    both_picked = threading.Barrier(2, timeout=120)

    def drain(attempt: int, pick=None) -> str:
        ckpt = staging_dir(f"stream_eo_fence_ckpt_{attempt}")
        shutil.rmtree(ckpt, ignore_errors=True)
        return BE.foreach_batch_jdbc_sink(
            spark, SF_SMALL, str(ckpt), table_name,
            _test_pick=pick,
        )

    url = drain(0)  # tables exist and every epoch is committed once
    errors: list[Exception] = []

    def attempt(i: int) -> None:
        try:
            drain(i, pick=lambda e, v: both_picked.wait())
        except Exception as exc:  # noqa: BLE001 - the loser's failure
            errors.append(exc)

    threads = [threading.Thread(target=attempt, args=(i,)) for i in (1, 2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert not any(t.is_alive() for t in threads)
    assert len(errors) == 1, errors
    assert "duplicate key" in str(errors[0])

    committed = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", BE.jdbc_committed_view(table_name))
        .option("driver", "org.apache.derby.jdbc.EmbeddedDriver")
        .load()
    )
    src_n = table(spark, SF_SMALL, "events").count()

    def counts() -> tuple[int, int]:
        return (
            committed.count(),
            committed.select("event_id").distinct().count(),
        )

    assert counts() == (src_n, src_n) and src_n > 0

    # an attempt overtaken by a newer claim while it appends must not
    # flip the pointer to its own version
    def newer_claim(e: int, v: int) -> None:
        c = spark._jvm.java.sql.DriverManager.getConnection(url)
        try:
            s = c.createStatement()
            s.execute(f"INSERT INTO {table_name}_claims VALUES ({e}, {v + 1})")
            s.close()
        finally:
            c.close()

    with pytest.raises(Exception, match="superseded"):
        drain(3, pick=newer_claim)
    assert counts() == (src_n, src_n)
    drain(4)
    assert counts() == (src_n, src_n)


def _jdbc_reads_bypassing_view(source: str) -> list[int]:
    """Line numbers of JDBC DataFrame reads in ``source`` whose table is
    not ``jdbc_committed_view(...)``. A read is a call chain through
    ``.read`` that selects JDBC by ``.format("jdbc")`` (table in
    ``option("dbtable", ...)``) or by ``.jdbc(url, table)``. Chains
    through ``.write`` — the sink's own append — are exempt."""
    import ast

    def is_view(node) -> bool:
        return (
            isinstance(node, ast.Call)
            and getattr(node.func, "id", getattr(node.func, "attr", None))
            == "jdbc_committed_view"
        )

    bad = []
    for node in ast.walk(ast.parse(source)):
        if not (isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("load", "jdbc")):
            continue
        attrs, dbtable, jdbc = [], None, node.func.attr == "jdbc"
        if jdbc:
            dbtable = node.args[1] if len(node.args) > 1 else next(
                (k.value for k in node.keywords if k.arg == "table"), None
            )
        cur = node.func.value
        while isinstance(cur, (ast.Call, ast.Attribute)):
            if isinstance(cur, ast.Attribute):
                attrs.append(cur.attr)
                cur = cur.value
                continue
            f = cur.func
            args = [a.value if isinstance(a, ast.Constant) else a
                    for a in cur.args]
            if isinstance(f, ast.Attribute):
                if f.attr == "format" and args == ["jdbc"]:
                    jdbc = True
                if f.attr == "option" and args[:1] == ["dbtable"]:
                    dbtable = cur.args[1]
            cur = f
        if jdbc and "read" in attrs and "write" not in attrs:
            if dbtable is None or not is_view(dbtable):
                bad.append(node.lineno)
    return bad


def test_versioned_jdbc_table_is_read_only_through_committed_view():
    """Readers of the versioned exactly-once table must join through the
    epoch commit pointer: a direct read would see superseded and
    crashed-attempt versions. Every JDBC read in a module that defines
    or drives ``foreach_batch_jdbc_sink`` goes through
    ``jdbc_committed_view``; the sink's append is a write and exempt.
    (The sink's own raw statements — the fenced ``(epoch, ver)``
    claim, the pointer flip, garbage collection — are its commit
    protocol over plain JDBC, not reads through Spark.)"""
    import pathlib

    import bigdata_deepfakeanalysis_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    owners = {
        p: p.read_text()
        for p in root.rglob("*.py")
        if "foreach_batch_jdbc_sink" in p.read_text()
    }
    assert root / "streaming" / "batch_equiv.py" in owners
    bad = {
        str(p.relative_to(root)): lines
        for p, src in owners.items()
        if (lines := _jdbc_reads_bypassing_view(src))
    }
    assert not bad, bad

    # the check itself catches a direct read of the data table, in both
    # spellings, and exempts the append
    direct = (
        "spark.read.format('jdbc').option('url', u)"
        ".option('dbtable', table_name).load()\n"
        "spark.read.jdbc(u, table_name)\n"
        "df.write.format('jdbc').option('dbtable', table_name).save()\n"
        "spark.read.format('jdbc')"
        ".option('dbtable', jdbc_committed_view(table_name)).load()\n"
    )
    assert _jdbc_reads_bypassing_view(direct) == [1, 2]


def test_stateful_op_on_rocksdb_state_store(spark):
    """The custom stateful operator must run unchanged on the RocksDB
    state store provider — the production state backend for large
    keyspaces (the default HDFS-backed store keeps state on the JVM
    heap; RocksDB spills to local SSD and checkpoints incrementally)."""
    from bigdata_deepfakeanalysis_spark.catalog import table

    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    try:
        spark.conf.set(
            key,
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
        stream = BE.stream_events(spark, SF_SMALL)
        BE.run_stream_once(
            BE.record_breakers_stateful(stream), "rocksdb_sink", mode="append"
        )
        streamed = spark.table("rocksdb_sink").toPandas()
        batch = BE.record_breakers(table(spark, SF_SMALL, "events")).toPandas()
        k = ["user_id", "event_id"]
        b = batch.sort_values(k).reset_index(drop=True)
        s = streamed.sort_values(k).reset_index(drop=True)
        assert len(b) == len(s) > 0
        assert (b[b.columns].values == s[b.columns].values).all()
    finally:
        if prev is not None:
            spark.conf.set(key, prev)
        else:
            spark.conf.unset(key)


def test_stream_stream_outer_join_matches_batch_up_to_watermark(spark):
    """LEFT OUTER watermarked interval join: inner rows equal the batch
    join exactly; outer (null-purchase) rows emit exactly for the
    clicks whose attribution window CLOSED before the final global
    watermark — and the final no-data micro-batch flushes that expired
    state. The global watermark is the MIN across the two sides'
    watermark nodes, and Catalyst pushes the event_type filter below
    each watermark node, so each side's watermark is the max ts of its
    OWN event type (observed: the max-ts click never expires because
    min(max click ts, max purchase ts) = its own timestamp). A click
    whose window is still open at that watermark must NOT have
    emitted: streaming never declares "unconverted" while a purchase
    could still arrive."""
    import pandas as pd
    from pyspark.sql import functions as F

    ev = table(spark, SF_SMALL, "events")
    batch = BE.stream_stream_attribution(
        ev, ev, join_type="left_outer"
    ).toPandas()
    mx = (
        ev.where(F.col("event_type").isin("click", "purchase"))
        .groupBy("event_type")
        .agg(F.max("ts").alias("m"))
        .agg(F.min("m"))
        .collect()[0][0]
    )
    deadline_closed = (
        ev.where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            (
                F.col("ts") + F.expr("INTERVAL 10 minutes") < F.lit(mx)
            ).alias("closed"),
        )
        .toPandas()
        .set_index("click_id")["closed"]
    )
    expected = batch[
        batch["purchase_id"].notna()
        | batch["click_id"].map(deadline_closed)
    ]

    sa = BE.stream_events(spark, SF_SMALL).withWatermark("ts", "0 seconds")
    sb = BE.stream_events(spark, SF_SMALL).withWatermark("ts", "0 seconds")
    BE.run_stream_once(
        BE.stream_stream_attribution(sa, sb, join_type="left_outer"),
        "ss_outer_sink",
        mode="append",
    )
    streamed = spark.table("ss_outer_sink").toPandas()

    key = ["user_id", "click_id", "purchase_id"]
    b = expected.sort_values(key).reset_index(drop=True)
    s = streamed.sort_values(key).reset_index(drop=True)
    assert len(b) == len(s) > 0
    assert b["purchase_id"].isna().sum() > 0  # outer rows actually flushed
    assert len(b) < len(batch)  # ...and the open-window tail click did not
    bv, sv = b[b.columns].fillna(-1), s[b.columns].fillna(-1)
    assert (bv.values == sv.values).all()


def test_tws_record_breakers_matches_batch(spark):
    """transformWithStateInPandas (Spark 4 typed-state API) must emit
    the same record-breaker rows as the batch window form; TWS only
    runs on the RocksDB state store, so the provider is set for the
    run. The TWS runtime speaks protobuf to its state server —
    environment-gated like torch (the operator itself is importable
    and plan-buildable either way)."""
    import pytest

    pytest.importorskip(
        "google.protobuf.descriptor",
        reason="transformWithState needs the protobuf runtime",
    )
    from bigdata_deepfakeanalysis_spark.catalog import table

    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    try:
        spark.conf.set(
            key,
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
        stream = BE.stream_events(spark, SF_SMALL)
        BE.run_stream_once(
            BE.record_breakers_tws(stream), "tws_sink", mode="append"
        )
        streamed = spark.table("tws_sink").toPandas()
        batch = BE.record_breakers(table(spark, SF_SMALL, "events")).toPandas()
        k = ["user_id", "event_id"]
        b = batch.sort_values(k).reset_index(drop=True)
        s = streamed.sort_values(k).reset_index(drop=True)
        assert len(b) == len(s) > 0
        assert (b[b.columns].values == s[b.columns].values).all()
    finally:
        if prev is not None:
            spark.conf.set(key, prev)
        else:
            spark.conf.unset(key)


def test_tws_operator_builds_without_protobuf(spark):
    """Plan construction for the TWS op must not need the protobuf
    runtime — only execution does — so the operator stays importable
    and schema-checkable in minimal environments."""
    stream = BE.stream_events(spark, SF_SMALL)
    df = BE.record_breakers_tws(stream)
    assert [f.name for f in df.schema.fields] == [
        "user_id",
        "ts",
        "event_id",
        "value",
    ]
    assert df.isStreaming


# ---------------------------------------------------------------------------
# pylog — the offset-tracked append-only log source (SURVEY S9: Kafka's
# SEMANTIC core — replayable offset ranges — without jar or broker).
# ---------------------------------------------------------------------------


def test_pylog_cursor_and_torn_line_safety(tmp_path):
    from bigdata_deepfakeanalysis_spark.streaming import pylog

    d = str(tmp_path / "log")
    pylog.append_log(d, [("k1", "v1"), ("k2", "v2")])
    rows, cur = pylog._read_range(d, {"seg": 0, "pos": 0}, None)
    assert [(r[0], r[1]) for r in rows] == [("k1", "v1"), ("k2", "v2")]
    # a torn trailing record (producer mid-write) must NOT be consumed
    seg0 = tmp_path / "log" / "00000000.jsonl"
    with open(seg0, "ab") as f:
        f.write(b'{"k":"k3","v":"v3"')  # no newline, incomplete JSON
    rows2, cur2 = pylog._read_range(d, cur, None)
    assert rows2 == [] and cur2 == cur
    with open(seg0, "ab") as f:
        f.write(b"}\n")
    rows3, cur3 = pylog._read_range(d, cur, None)
    assert [(r[0], r[1]) for r in rows3] == [("k3", "v3")]
    # replay of the exact committed range is deterministic
    replay = list(
        pylog._read_range(d, {"seg": 0, "pos": 0}, cur3)[0]
    )
    assert replay == rows + rows3


def test_pylog_segment_roll_and_offsets(tmp_path):
    from bigdata_deepfakeanalysis_spark.streaming import pylog

    d = str(tmp_path / "log")
    pylog.append_log(
        d, [(f"k{i}", "x" * 20) for i in range(30)], roll_bytes=200
    )
    import os

    segs = sorted(os.listdir(d))
    assert len(segs) > 1  # rolled
    rows, cur = pylog._read_range(d, {"seg": 0, "pos": 0}, None)
    assert [r[0] for r in rows] == [f"k{i}" for i in range(30)]
    # offsets are strictly increasing within each segment
    for seg_no in {r[2] for r in rows}:
        offs = [r[3] for r in rows if r[2] == seg_no]
        assert offs == sorted(offs) and len(set(offs)) == len(offs)


def test_pylog_cursor_never_skips_a_torn_segment(tmp_path):
    """A torn tail in a NON-final segment must halt the cursor there:
    advancing into segment 1 would lose the record once its writer
    completes it (the cursor cannot represent partial consumption of
    an earlier segment)."""
    import os

    from bigdata_deepfakeanalysis_spark.streaming import pylog

    d = str(tmp_path / "log")
    os.makedirs(d)
    with open(os.path.join(d, "00000000.jsonl"), "wb") as f:
        f.write(b'{"k":"a","v":"1"}\n{"k":"b","v":"2')  # torn tail
    with open(os.path.join(d, "00000001.jsonl"), "wb") as f:
        f.write(b'{"k":"c","v":"3"}\n')
    rows, cur = pylog._read_range(d, {"seg": 0, "pos": 0}, None)
    assert [(r[0], r[2]) for r in rows] == [("a", 0)]
    assert cur["seg"] == 0  # halted at the torn segment
    # writer completes the record: the next batch delivers b THEN c
    with open(os.path.join(d, "00000000.jsonl"), "ab") as f:
        f.write(b'"}\n')
    rows2, cur2 = pylog._read_range(d, cur, None)
    assert [(r[0], r[2]) for r in rows2] == [("b", 0), ("c", 1)]
    assert cur2["seg"] == 1
    # and the committed ranges replay byte-identically
    assert list(pylog._read_range(d, {"seg": 0, "pos": 0}, cur)[0]) == rows
    assert list(pylog._read_range(d, cur, cur2)[0]) == rows2


def test_pylog_append_repairs_crashed_producer_tail(tmp_path):
    """A restarted producer must truncate its predecessor's torn tail
    before appending — appending after it would merge two records into
    one invalid JSON line and wedge every subsequent read."""
    import os

    from bigdata_deepfakeanalysis_spark.streaming import pylog

    d = str(tmp_path / "log")
    pylog.append_log(d, [("a", "1")])
    seg0 = os.path.join(d, "00000000.jsonl")
    with open(seg0, "ab") as f:
        f.write(b'{"k":"torn","v":"lo')  # crash mid-append, no ack
    pylog.append_log(d, [("b", "2")])
    rows, _ = pylog._read_range(d, {"seg": 0, "pos": 0}, None)
    # the unacknowledged torn record is discarded, not merged
    assert [(r[0], r[1]) for r in rows] == [("a", "1"), ("b", "2")]


def test_pylog_repairs_torn_record_larger_than_scan_window(tmp_path):
    """A torn record LONGER than the 1 MiB backward-scan window must
    be truncated entirely (ADVICE r8 / VERDICT r8 task 5): the old
    single-window scan truncated to the window start, leaving a
    shorter but still-torn tail that the next append merged into one
    invalid line."""
    import os

    from bigdata_deepfakeanalysis_spark.streaming import pylog

    d = str(tmp_path / "log")
    pylog.append_log(d, [("a", "1")], roll_bytes=1 << 30)
    seg0 = os.path.join(d, "00000000.jsonl")
    good = os.path.getsize(seg0)
    with open(seg0, "ab") as f:  # >2 windows of torn record, no \n
        f.write(b'{"k":"torn","v":"' + b"x" * (2 * (1 << 20) + 37))
    pylog.append_log(d, [("b", "2")], roll_bytes=1 << 30)
    rows, _ = pylog._read_range(d, {"seg": 0, "pos": 0}, None)
    assert [(r[0], r[1]) for r in rows] == [("a", "1"), ("b", "2")]
    # the truncation point is the last acknowledged newline
    with open(seg0, "rb") as f:
        assert f.read(good) == b'{"k":"a","v":"1"}\n'


def test_pylog_repairs_whole_segment_torn_from_byte_zero(tmp_path):
    """A segment that is ONE torn record from offset 0 (no newline
    anywhere, larger than the scan window) truncates to empty instead
    of looping forever or keeping torn bytes."""
    import os

    from bigdata_deepfakeanalysis_spark.streaming import pylog

    d = str(tmp_path / "log")
    os.makedirs(d)
    seg0 = os.path.join(d, "00000000.jsonl")
    with open(seg0, "wb") as f:
        f.write(b'{"k":"torn","v":"' + b"y" * ((1 << 20) + 11))
    pylog.append_log(d, [("a", "1")])
    rows, _ = pylog._read_range(d, {"seg": 0, "pos": 0}, None)
    assert [(r[0], r[1]) for r in rows] == [("a", "1")]


def test_pylog_data_plane_partitions_match_simple_reader(tmp_path):
    """The stream reader must emit exactly the rows of the plain
    ``_read_range`` reference for the same [start, end) cursor range,
    one InputPartition per in-range segment, all ranges
    newline-aligned."""
    from bigdata_deepfakeanalysis_spark.streaming import pylog

    d = str(tmp_path / "log")
    # small roll -> several segments; last append leaves a growing tail
    pylog.append_log(
        d, [(f"k{i}", "x" * 20) for i in range(40)], roll_bytes=200
    )
    start = {"seg": 0, "pos": 0}
    end = pylog._durable_cursor(d)
    expect, cur = pylog._read_range(d, start, None)
    assert cur == end  # planning cursor == the reference's cursor

    ds_cls = pylog.make_pylog_datasource()
    reader = ds_cls(options={"path": d}).streamReader(None)
    assert reader.latestOffset() == end
    parts = reader.partitions(start, end)
    segs_covered = [p.seg for p in parts]
    assert segs_covered == sorted(set(segs_covered))  # one per segment
    assert len(segs_covered) > 3  # the roll actually made segments
    got = [row for p in parts for row in reader.read(p)]
    # reader rows carry the topic-partition id (0 for a bare log)
    assert got == [(k, v, 0, seg, off) for k, v, seg, off in expect]
    # replay of a committed sub-range is byte-identical
    mid = {"seg": segs_covered[2], "pos": 0}
    sub = [
        row
        for p in reader.partitions(start, mid)
        for row in reader.read(p)
    ]
    assert sub == [
        (k, v, 0, seg, off)
        for k, v, seg, off in expect
        if seg < mid["seg"]
    ]


def test_pylog_data_plane_latest_offset_halts_at_torn_segment(tmp_path):
    """latestOffset must apply the same stop-at-first-torn-segment
    rule as the ``_read_range`` cursor — otherwise a restart could
    skip the torn record once its writer completes it."""
    import os

    from bigdata_deepfakeanalysis_spark.streaming import pylog

    d = str(tmp_path / "log")
    os.makedirs(d)
    with open(os.path.join(d, "00000000.jsonl"), "wb") as f:
        f.write(b'{"k":"a","v":"1"}\n{"k":"b","v":"2')  # torn
    with open(os.path.join(d, "00000001.jsonl"), "wb") as f:
        f.write(b'{"k":"c","v":"3"}\n')
    assert pylog._durable_cursor(d) == {"seg": 0, "pos": 18}


def test_pylog_stream_exactly_once_across_restarts(spark, tmp_path):
    """Two availableNow drains over one checkpoint: the second run
    delivers ONLY the records appended between runs — checkpointed
    offset cursors + replayable ranges = exactly-once into the sink."""
    from bigdata_deepfakeanalysis_spark.streaming.pylog import (
        append_log,
        make_pylog_datasource,
    )

    spark.dataSource.register(make_pylog_datasource())
    log = str(tmp_path / "log")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    append_log(log, [(f"a{i}", str(i)) for i in range(5)])

    def drain():
        q = (
            spark.readStream.format("pylog")
            .load(log)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120), "availableNow drain timed out"

    drain()
    got1 = {r.key for r in spark.read.parquet(sink).collect()}
    assert got1 == {f"a{i}" for i in range(5)}
    append_log(log, [(f"b{i}", str(i)) for i in range(3)])
    drain()
    out = spark.read.parquet(sink).collect()
    assert len(out) == 8  # no duplicates, nothing lost
    assert {r.key for r in out} == {f"a{i}" for i in range(5)} | {
        f"b{i}" for i in range(3)
    }


def test_pylog_data_plane_stream_exactly_once_across_restarts(
    spark, tmp_path
):
    """The executor data plane under the full exactly-once protocol
    with a drain spanning several segments: two availableNow drains
    over one checkpoint, the second delivers only the between-run
    appends, every segment byte-range decoded on the executors."""
    from bigdata_deepfakeanalysis_spark.streaming.pylog import (
        append_log,
        make_pylog_datasource,
    )

    spark.dataSource.register(make_pylog_datasource())
    log = str(tmp_path / "log")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    # roll_bytes small enough that the drain spans several partitions
    append_log(
        log, [(f"a{i}", str(i)) for i in range(9)], roll_bytes=60
    )

    def drain():
        q = (
            spark.readStream.format("pylog")
            .load(log)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120), "availableNow drain timed out"

    drain()
    got1 = {r.key for r in spark.read.parquet(sink).collect()}
    assert got1 == {f"a{i}" for i in range(9)}
    append_log(log, [(f"b{i}", str(i)) for i in range(3)], roll_bytes=60)
    drain()
    out = spark.read.parquet(sink).collect()
    assert len(out) == 12
    assert {r.key for r in out} == {f"a{i}" for i in range(9)} | {
        f"b{i}" for i in range(3)
    }
    # segment/offset columns survive the executor decode path and
    # are unique per record (stable replay identity)
    assert len({(r.segment, r.offset) for r in out}) == 12


def test_pylog_topic_partitions_have_independent_cursors(tmp_path):
    """r12 multi-partition topics: a torn tail in p0 must halt ONLY
    p0's cursor — p1 keeps draining (the Kafka property the
    one-dir-one-partition form couldn't express)."""
    import os

    from bigdata_deepfakeanalysis_spark.streaming import pylog

    topic = str(tmp_path / "topic")
    pylog.append_log(os.path.join(topic, "p0"), [("a", "1")])
    pylog.append_log(os.path.join(topic, "p1"), [("b", "2")])
    # torn producer tail in p0 only
    with open(os.path.join(topic, "p0", "00000000.jsonl"), "ab") as f:
        f.write(b'{"k":"torn","v":"x')

    ds_cls = pylog.make_pylog_datasource()
    reader = ds_cls(options={"path": topic}).streamReader(None)

    def batch(start, end):
        parts = reader.partitions(start, end)
        return [r for p in parts for r in reader.read(p)]

    start = reader.initialOffset()
    assert set(start) == {"0", "1"}  # topic-shaped offset
    cur = reader.latestOffset()
    rows = batch(start, cur)
    assert {(r[0], r[2]) for r in rows} == {("a", 0), ("b", 1)}
    # p0's cursor halted before the torn bytes; p1's advanced fully
    assert cur["0"]["pos"] == 18 and cur["1"]["pos"] == 18
    # completing the torn record releases ONLY p0's held-back row
    with open(os.path.join(topic, "p0", "00000000.jsonl"), "ab") as f:
        f.write(b'"}\n')
    rows2 = batch(cur, reader.latestOffset())
    assert [(r[0], r[2]) for r in rows2] == [("torn", 0)]
    # committed-range replay is per-partition byte-identical
    assert sorted(batch(start, cur)) == sorted(rows)


def test_pylog_topic_exactly_once_across_restarts(spark, tmp_path):
    """N directories = N partitions with independent {"seg","pos"}
    cursors — exactly-once re-proven across a 2-partition topic drain
    + restart. The crc32 router must actually use both partitions, and
    the partition column must agree with the router."""
    from zlib import crc32

    from bigdata_deepfakeanalysis_spark.streaming.pylog import (
        append_topic,
        make_pylog_datasource,
    )

    spark.dataSource.register(make_pylog_datasource())
    topic = str(tmp_path / "topic")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    first = [(f"a{i}", str(i)) for i in range(8)]
    append_topic(topic, first, n_partitions=2, roll_bytes=60)
    assert (tmp_path / "topic" / "p0").is_dir()
    assert (tmp_path / "topic" / "p1").is_dir()

    def drain():
        q = (
            spark.readStream.format("pylog")
            .load(topic)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120), "availableNow drain timed out"

    drain()
    out1 = spark.read.parquet(sink).collect()
    assert {r.key for r in out1} == {k for k, _ in first}
    # the partition column is the router's assignment
    for r in out1:
        assert r.partition == crc32(r.key.encode()) % 2
    assert {r.partition for r in out1} == {0, 1}

    second = [(f"b{i}", str(i)) for i in range(5)]
    append_topic(topic, second, n_partitions=2, roll_bytes=60)
    drain()  # restart over the same checkpoint
    out2 = spark.read.parquet(sink).collect()
    assert len(out2) == 13  # nothing lost, nothing doubled
    assert {r.key for r in out2} == {k for k, _ in first + second}
