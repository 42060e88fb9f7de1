"""Offset-tracked append-only log streaming source ("pylog").

SURVEY S9 lists Kafka among the sources a complete engine speaks; this
sandbox has neither the spark-sql-kafka jar nor a broker, so the wire
protocol is untestable here. What IS implementable — and what the
engine's streaming suite actually needs from Kafka — is its SEMANTIC
core: an append-only log consumed by (replayable) offset ranges, so
Structured Streaming's checkpointed offsets give exactly-once delivery
into an idempotent sink. ``pylog`` provides exactly that with zero
external dependencies:

- a log DIRECTORY of append-only segment files
  (``00000000.jsonl``, ``00000001.jsonl``, …); producers append JSONL
  records (:func:`append_log`) and roll segments at ``roll_bytes``;
- a Spark 4 Python streaming DataSource (``format("pylog")``) built on
  ``DataSourceStreamReader``: offsets are ``{"seg": i, "pos": byte}``
  cursors, ``latestOffset`` is the last durably written complete
  record, and every batch ``[start, end)`` is planned as one
  InputPartition per segment byte-range and decoded on the executors,
  so a recovered batch replays the exact range — the contract Kafka's
  (partition, offset) pairs give a committed consumer;
- partial-write safety: a producer crash (or concurrent append) can
  leave a torn trailing line; the reader only advances through the
  last complete ``\\n``-terminated record, so a torn tail is consumed
  by a LATER batch once completed, never as garbage.

Output schema mirrors Kafka's consumer surface: ``key string, value
string, partition int, segment int, offset bigint`` (offset = byte
position of the record within its segment — stable across replays).

Scale notes: one log directory models one Kafka partition (ordering is
per-directory, like per-partition ordering in Kafka). Since r12 a
TOPIC is N such directories — subdirectories ``p0/ p1/ …`` under the
load path, each with its own INDEPENDENT ``{"seg", "pos"}`` cursor
(the Kafka topic shape: per-partition offsets, per-partition ordering,
no cross-partition coupling — a torn tail in one partition never
stalls another's cursor). A path with no ``p*`` subdirectories reads
as the single partition 0 with the original flat cursor, so r9-era
checkpoints stay valid. ``append_topic`` routes records by
``crc32(key) % n`` (Kafka's default partitioner shape). Planning
reads only segment sizes and tails; the driver never decodes a
record. ``_read_range`` is the plain-Python reference of the same
cursor contract (stop at the first torn segment) that the tests
compare the reader against.

Not registered in the frozen 415-query registry; verified by the
exactly-once/replay tests in tests/test_streaming.py.
"""

from __future__ import annotations

import json
import os
import sys

_SEG_FMT = "{:08d}.jsonl"


def _segments(log_dir: str) -> list[str]:
    try:
        names = sorted(
            n for n in os.listdir(log_dir) if n.endswith(".jsonl")
        )
    except FileNotFoundError:
        return []
    return [os.path.join(log_dir, n) for n in names]


# bytes per step of the backward scan for the last complete line
_SCAN_WINDOW = 1 << 20


def _repair_torn_tail(path: str) -> None:
    """Truncate a crash-left torn record (no trailing newline) from a
    segment. A torn tail was never acknowledged to the producer's
    caller, so discarding it is the correct (Kafka-like) semantics;
    appending AFTER it would merge two records into one invalid line
    and wedge every subsequent read."""
    # One shared backward scan (_last_complete_pos) serves both the
    # repair (here) and the stream reader's latestOffset — a
    # torn record larger than one window resolves to the last
    # acknowledged newline either way (ADVICE r8 / VERDICT r8 task 5).
    # The hypothesis fuzz patches _SCAN_WINDOW to exercise multi-window
    # scans cheaply.
    pos, complete = _last_complete_pos(path)
    if not complete:
        with open(path, "rb+") as f:
            f.truncate(pos)


def append_log(
    log_dir: str, records, roll_bytes: int = 1 << 20
) -> None:
    """Append ``(key, value)`` records to the log's last segment,
    rolling to a new segment when it exceeds ``roll_bytes``.

    SINGLE WRITER per log directory (Kafka's one-leader-per-partition
    model): on entry, a torn tail left by a crashed predecessor is
    truncated (:func:`_repair_torn_tail`) — never appended after.
    Rolled (non-last) segments are immutable from then on, which is
    what makes committed offset ranges replayable byte-for-byte."""
    os.makedirs(log_dir, exist_ok=True)
    segs = _segments(log_dir)
    if not segs:
        segs = [os.path.join(log_dir, _SEG_FMT.format(0))]
        open(segs[0], "ab").close()
    cur = segs[-1]
    _repair_torn_tail(cur)
    size = os.path.getsize(cur)
    out = open(cur, "ab")
    try:
        for k, v in records:
            if size >= roll_bytes:
                out.close()
                nxt = int(os.path.basename(cur).split(".")[0]) + 1
                cur = os.path.join(log_dir, _SEG_FMT.format(nxt))
                out = open(cur, "ab")
                size = 0
            line = (
                json.dumps({"k": k, "v": v}, separators=(",", ":")) + "\n"
            ).encode("utf-8")
            out.write(line)
            size += len(line)
    finally:
        out.close()


def _read_range(log_dir: str, start: dict, end: dict | None):
    """Yield (key, value, segment, offset) for the records in
    [start, end); with end=None, up to the last COMPLETE line durably
    on disk, returning the advanced cursor.

    CURSOR INVARIANT: with ``end=None`` the scan STOPS at the first
    segment it cannot consume to its end (a torn tail — an append in
    flight). The cursor therefore never skips past unconsumed bytes,
    and a batch whose end cursor lands in segment E proves every
    earlier in-range segment was fully consumed AND newline-terminated
    at batch time; since only the LAST segment of a log ever grows
    (append_log's immutable-after-roll contract), replaying
    [start, end) later reads byte-identical data — the deterministic
    replay the exactly-once sink relies on."""
    segs = _segments(log_dir)
    cur_seg, cur_pos = int(start["seg"]), int(start["pos"])
    out_cursor = {"seg": cur_seg, "pos": cur_pos}
    rows = []
    for path in segs:
        seg_no = int(os.path.basename(path).split(".")[0])
        if seg_no < cur_seg:
            continue
        if end is not None and seg_no > int(end["seg"]):
            break
        pos = cur_pos if seg_no == cur_seg else 0
        avail = os.path.getsize(path)
        limit = avail
        if end is not None and seg_no == int(end["seg"]):
            limit = min(limit, int(end["pos"]))
        with open(path, "rb") as f:
            f.seek(pos)
            data = f.read(limit - pos)
        # only complete lines: a torn tail stays for the next batch
        last_nl = data.rfind(b"\n")
        if last_nl < 0:
            consumed = 0
        else:
            consumed = last_nl + 1
            at = pos
            for line in data[:consumed].split(b"\n")[:-1]:
                obj = json.loads(line)
                rows.append((obj["k"], obj["v"], seg_no, at))
                at += len(line) + 1
        new_pos = pos + consumed
        out_cursor = {"seg": seg_no, "pos": new_pos}
        if end is None and new_pos < avail:
            # torn tail: stop here so the cursor cannot jump past it
            # into a later segment (that would lose the record once
            # its writer completes it)
            break
    return rows, out_cursor


def _last_complete_pos(path: str) -> tuple[int, bool]:
    """(byte position just after the last complete line, fully-consumed
    flag). THE backward multi-window scan — shared by
    :func:`_repair_torn_tail` (which truncates to the returned
    position) and the stream reader's ``latestOffset`` (read-only
    planning), so the two can never drift (code-review r9): a torn
    record longer than one window resolves to the last acknowledged
    newline in both uses, and the hypothesis fuzz over
    ``_SCAN_WINDOW`` exercises this single implementation."""
    size = os.path.getsize(path)
    if size == 0:
        return 0, True
    with open(path, "rb") as f:
        hi = size
        first = True
        while hi > 0:
            back = min(hi, _SCAN_WINDOW)
            f.seek(hi - back)
            tail = f.read(back)
            if first and tail.endswith(b"\n"):
                return size, True
            first = False
            nl = tail.rfind(b"\n")
            if nl >= 0:
                return hi - back + nl + 1, False
            hi -= back
    return 0, False


def _durable_cursor(log_dir: str) -> dict:
    """The latest replay-safe cursor: advance through segments in
    order, stopping at the first segment not consumable to its end
    (the STOP-AT-FIRST-TORN-SEGMENT rule `_read_range` enforces) —
    the stream reader's ``latestOffset``."""
    cur = {"seg": 0, "pos": 0}
    for path in _segments(log_dir):
        seg_no = int(os.path.basename(path).split(".")[0])
        pos, complete = _last_complete_pos(path)
        cur = {"seg": seg_no, "pos": pos}
        if not complete:
            break
    return cur


# ---------------------------------------------------------------------------
# Topics: N partition directories, N independent cursors (r12,
# VERDICT r11 task 6)
# ---------------------------------------------------------------------------

_ZERO = {"seg": 0, "pos": 0}


def _topic_partitions(topic_dir: str) -> list[tuple[int, str]]:
    """(partition id, directory) pairs for a topic path: ``p<digits>``
    subdirectories sorted by id, else the path itself as the single
    partition 0 (the pre-r12 layout — old logs and checkpoints read
    unchanged). Discovery is per-call, so a partition directory
    created after stream start is picked up by the next micro-batch
    with a fresh zero cursor (the nearest analogue of consuming a
    repartitioned Kafka topic)."""
    try:
        names = os.listdir(topic_dir)
    except FileNotFoundError:
        names = []
    parts = sorted(
        (int(n[1:]), os.path.join(topic_dir, n))
        for n in names
        if n.startswith("p") and n[1:].isdigit()
        and os.path.isdir(os.path.join(topic_dir, n))
    )
    return parts or [(0, topic_dir)]


def _norm_cursors(offset: dict) -> dict[int, dict]:
    """{partition id -> {"seg","pos"} cursor} from either offset
    shape: the flat single-partition cursor (has a "seg" key) maps to
    partition 0; the topic shape is already keyed by stringified
    partition id."""
    if "seg" in offset:
        return {0: {"seg": int(offset["seg"]), "pos": int(offset["pos"])}}
    return {
        int(pid): {"seg": int(c["seg"]), "pos": int(c["pos"])}
        for pid, c in offset.items()
    }


def _denorm_cursors(
    cursors: dict[int, dict],
    parts: list[tuple[int, str]],
    topic_dir: str,
) -> dict:
    """Offset shape follows the topic layout deterministically: a
    bare single-partition log (the load path IS the partition) keeps
    the r9 flat cursor, so pre-topic checkpoints stay valid; a
    p*-subdir topic serializes the per-partition map."""
    if parts == [(0, topic_dir)]:
        return dict(cursors[0])
    return {str(pid): dict(c) for pid, c in cursors.items()}


def append_topic(
    topic_dir: str,
    records,
    n_partitions: int = 2,
    roll_bytes: int = 1 << 20,
) -> None:
    """Append ``(key, value)`` records to an N-partition topic,
    routing each record by ``crc32(key) % n_partitions`` — the shape
    of Kafka's default partitioner (same key ⇒ same partition ⇒
    per-key ordering). One :func:`append_log` call per non-empty
    partition keeps the single-writer-per-directory contract; within
    a partition, records keep arrival order."""
    from zlib import crc32

    by_part: dict[int, list] = {}
    for k, v in records:
        pid = crc32(str(k).encode("utf-8")) % n_partitions
        by_part.setdefault(pid, []).append((k, v))
    for pid, recs in sorted(by_part.items()):
        append_log(
            os.path.join(topic_dir, f"p{pid}"), recs, roll_bytes=roll_bytes
        )


def make_pylog_datasource():
    """Build the ``pylog`` streaming DataSource class (factory +
    by-value module registration, same deployment-free pattern as
    avro_lite — the reader runs where the package may not be
    importable)."""
    from pyspark import cloudpickle as _cp

    _cp.register_pickle_by_value(sys.modules[__name__])
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceStreamReader,
        InputPartition,
    )

    _latest = _durable_cursor
    _tparts = _topic_partitions
    _norm = _norm_cursors
    _denorm = _denorm_cursors

    class _PyLogInputPartition(InputPartition):
        def __init__(
            self, path: str, pid: int, seg: int, lo: int, hi: int
        ):
            self.path = path
            self.pid = pid
            self.seg = seg
            self.lo = lo
            self.hi = hi

    class _PyLogStreamReader(DataSourceStreamReader):
        """One InputPartition per segment byte-range, decoded on the
        EXECUTORS. Offsets are ``{"seg", "pos"}`` cursors and
        latestOffset is :func:`_durable_cursor` (stop at the first
        torn segment, the rule :func:`_read_range` enforces), so
        checkpointed ranges replay byte-identically. Planning reads
        only segment sizes/tails (O(segments)); record decoding never
        touches the driver. Partition ranges are newline-aligned by
        construction: cursors always sit just after a newline (or 0),
        non-final segments are immutable-after-roll, and the final
        segment is bounded by the batch's end cursor."""

        def __init__(self, options):
            self._dir = options.get("path")
            if not self._dir:
                raise ValueError(
                    "pylog requires the 'path' option (the log "
                    "directory) — e.g. readStream.format('pylog')"
                    ".load('/logs/topic1')"
                )

        def initialOffset(self) -> dict:
            tparts = _tparts(self._dir)
            return _denorm(
                {pid: dict(_ZERO) for pid, _ in tparts},
                tparts,
                self._dir,
            )

        def latestOffset(self) -> dict:
            tparts = _tparts(self._dir)
            return _denorm(
                {pid: _latest(pdir) for pid, pdir in tparts},
                tparts,
                self._dir,
            )

        def partitions(self, start: dict, end: dict):
            s_all, e_all = _norm(start), _norm(end)
            dirs = dict(_tparts(self._dir))
            parts = []
            # batch range per topic-partition: cursors are independent,
            # so each partition carves its own segment byte-ranges
            for pid, e_cur in sorted(e_all.items()):
                pdir = dirs.get(pid)
                if pdir is None:
                    continue  # partition dir gone = nothing to plan
                s_cur = s_all.get(pid, _ZERO)
                s_seg, s_pos = int(s_cur["seg"]), int(s_cur["pos"])
                e_seg, e_pos = int(e_cur["seg"]), int(e_cur["pos"])
                for path in _segments(pdir):
                    seg_no = int(os.path.basename(path).split(".")[0])
                    if seg_no < s_seg or seg_no > e_seg:
                        continue
                    lo = s_pos if seg_no == s_seg else 0
                    hi = (
                        e_pos
                        if seg_no == e_seg
                        else os.path.getsize(path)
                    )
                    if hi > lo:
                        parts.append(
                            _PyLogInputPartition(path, pid, seg_no, lo, hi)
                        )
            return parts

        def read(self, partition):
            with open(partition.path, "rb") as f:
                f.seek(partition.lo)
                data = f.read(partition.hi - partition.lo)
            at = partition.lo
            for line in data.split(b"\n")[:-1]:
                obj = json.loads(line)
                yield (obj["k"], obj["v"], partition.pid, partition.seg, at)
                at += len(line) + 1

        def commit(self, end: dict) -> None:
            # retention/compaction is the log owner's job (as in Kafka)
            return None

    class PyLogDataSource(DataSource):
        """``format("pylog")`` — offset-tracked append-only log."""

        @classmethod
        def name(cls) -> str:
            return "pylog"

        def schema(self):
            return (
                "key string, value string, partition int,"
                " segment int, offset bigint"
            )

        def streamReader(self, schema):
            return _PyLogStreamReader(self.options)

    return PyLogDataSource
