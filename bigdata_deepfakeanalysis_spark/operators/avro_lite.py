"""Pure-Python Avro container codec + a Spark 4 Python DataSource.

SURVEY S9 lists Avro among the columnar/row formats a complete engine
should speak. This container has no ``spark-avro`` jar and no network
to fetch one, so ``format("avro")`` is environment-blocked — but the
Avro Object Container File format itself is a small, fully public
specification (https://avro.apache.org/docs/1.11.1/specification/),
and Spark 4's Python DataSource API can host a reader/writer for it
with zero external dependencies. This module implements:

- a minimal binary codec for FLAT RECORD schemas with fields typed
  ``long | int | double | string | boolean | bytes`` or the nullable
  union ``["null", T]`` — the shapes the engine's tables actually use;
- ``null`` and ``deflate`` block codecs (deflate = raw zlib, the two
  codecs every Avro implementation must support per the spec);
- ``make_pyavro_datasource()`` — a ``format("pyavro")`` DataSource:
  one InputPartition per file on read (Avro's sync-marker block
  structure also permits per-block splits — noted below), one
  part-file per Spark partition on write;
- Arrow transfer both ways: ``read()`` yields one
  ``pyarrow.RecordBatch`` per container block (SPARK-48493), decoded
  by a flat-offset scan (``_dec_block_columns``) — no per-value
  BytesIO calls, no per-record pickle round-trip — and the writer
  receives Arrow batches. The row-at-a-time decoders
  (``read_container``, ``read_blocks``) are the plain references the
  tests and the hypothesis fuzz compare the batches against;
- filter pushdown (Spark 4.1 ``pushFilters``): comparison/IN/null/
  string-prefix filters are compiled to picklable specs and rows are
  dropped during block decode, BEFORE the worker->JVM transfer.
  Deliberately CONSERVATIVE: every filter is also returned to Spark
  for post-scan re-evaluation, so a semantics bug in the pre-filter
  can only under-drop, never silently lose rows (over-dropping is
  caught by the pushdown-on/off differential test). The method is
  attached only when ``spark.sql.python.filterPushdown.enabled`` is
  on at registration (Spark hard-fails readers that implement it
  under a disabled conf); ``session.tune()`` enables the conf.
  Locally the gain is small (the decode is the floor — every row
  must be decoded to be tested); the saved cost is transfer and
  downstream Spark work on selective scans.

Scale notes (100 TB): Avro files are block-streams delimited by a
16-byte sync marker precisely so distributed readers can split ONE
file at arbitrary byte offsets (seek to offset, scan to next sync,
read blocks until the end offset). This reader partitions per FILE —
correct and parallel for the many-files layout every ingest produces;
per-block splitting is the documented extension point, not a
different architecture. The writer streams records block-by-block
(no buffering of the whole partition) with one flush per
``_BLOCK_RECORDS`` rows.

Not a copy of any reference code: the reference repo
(Liranitz/BigData-DeepfakeAnalysis) contains no Avro support at all
(SURVEY S9 marks it [abs]); everything here derives from the public
Avro 1.11 specification.
"""

from __future__ import annotations

import io
import json
import os
import struct
import sys
import zlib

MAGIC = b"Obj\x01"
_BLOCK_RECORDS = 4096  # records per container block on write

# Avro primitive -> Spark SQL type name (and back). Restricted to the
# flat scalar surface the engine's result contract allows anyway
# (tests/test_plan_hygiene.py: no complex top-level columns).
_AVRO_TO_SPARK = {
    "long": "bigint",
    "int": "int",
    "double": "double",
    "string": "string",
    "boolean": "boolean",
    "bytes": "binary",
}
_SPARK_TO_AVRO = {
    "bigint": "long",
    "long": "long",
    "int": "int",
    "integer": "int",
    "double": "double",
    "string": "string",
    "boolean": "boolean",
    "binary": "bytes",
}


# ---------------------------------------------------------------------------
# Primitive encoders — Avro spec §"Binary encoding".
# long/int: two's-complement zigzag, then little-endian base-128
# varint (7 data bits per byte, high bit = continuation).
# ---------------------------------------------------------------------------


def zigzag_encode(n: int) -> bytes:
    # zigzag maps signed -> unsigned: 0,-1,1,-2,2 -> 0,1,2,3,4.
    # Python ints are unbounded, so (n >> 63) is just the sign fill.
    z = (n << 1) ^ (n >> 63) if n < 0 else (n << 1)
    out = bytearray()
    while True:
        b = z & 0x7F
        z >>= 7
        if z:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def zigzag_decode(buf: io.BufferedIOBase) -> int:
    shift = 0
    acc = 0
    while True:
        byte = buf.read(1)
        if not byte:
            raise EOFError("varint truncated")
        b = byte[0]
        acc |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
    return (acc >> 1) ^ -(acc & 1)


def _enc_value(v, typ: str) -> bytes:
    if typ in ("long", "int"):
        return zigzag_encode(int(v))
    if typ == "double":
        return struct.pack("<d", float(v))
    if typ == "string":
        raw = str(v).encode("utf-8")
        return zigzag_encode(len(raw)) + raw
    if typ == "bytes":
        raw = bytes(v)
        return zigzag_encode(len(raw)) + raw
    if typ == "boolean":
        return b"\x01" if v else b"\x00"
    if typ == "null":
        return b""
    raise ValueError(f"unsupported avro type {typ!r}")


def _read_exact(buf: io.BufferedIOBase, n: int) -> bytes:
    """Read exactly n bytes or raise a CLEAN corruption error — a
    short read from a truncated/corrupt block must never decode to a
    wrong value or surface as an opaque struct/unicode error
    (ADVICE r8)."""
    raw = buf.read(n)
    if len(raw) != n:
        raise EOFError(
            f"avro data truncated: wanted {n} bytes, got {len(raw)}"
        )
    return raw


def _dec_value(buf: io.BufferedIOBase, typ: str):
    if typ in ("long", "int"):
        return zigzag_decode(buf)
    if typ == "double":
        return struct.unpack("<d", _read_exact(buf, 8))[0]
    if typ == "string":
        n = zigzag_decode(buf)
        return _read_exact(buf, n).decode("utf-8")
    if typ == "bytes":
        n = zigzag_decode(buf)
        return _read_exact(buf, n)
    if typ == "boolean":
        b = _read_exact(buf, 1)
        if b not in (b"\x00", b"\x01"):
            raise ValueError(f"invalid avro boolean byte {b!r}")
        return b == b"\x01"
    if typ == "null":
        return None
    raise ValueError(f"unsupported avro type {typ!r}")


def _field_types(schema: dict) -> list[tuple[str, str, int | None]]:
    """(name, primitive type, null-branch index) per field of a flat
    record. The third element is ``None`` for non-nullable fields;
    for a nullable union it is the POSITION of "null" in the union
    (0 for ``["null", T]``, 1 for ``[T, "null"]`` — the Avro spec
    allows either order, and the wire union index refers to schema
    position, so a decoder that hardcodes 0 = null misreads
    foreign-written ``[T, "null"]`` files)."""
    if schema.get("type") != "record":
        raise ValueError("avro_lite supports flat record schemas only")
    out = []
    for f in schema["fields"]:
        t = f["type"]
        if isinstance(t, list):  # nullable union, either order
            non_null = [x for x in t if x != "null"]
            if len(t) != 2 or "null" not in t or len(non_null) != 1:
                raise ValueError(f"unsupported union {t!r}")
            out.append((f["name"], non_null[0], t.index("null")))
        else:
            out.append((f["name"], t, None))
    return out


def _enc_record(vals, fields) -> bytes:
    if len(vals) != len(fields):
        raise ValueError(
            f"record has {len(vals)} values for {len(fields)} fields"
        )
    parts = []
    for v, (_, typ, null_idx) in zip(vals, fields):
        if null_idx is not None:
            # union index = schema position of the chosen branch
            if v is None:
                parts.append(zigzag_encode(null_idx))
                continue
            parts.append(zigzag_encode(1 - null_idx))
        elif v is None:
            raise ValueError("null in non-nullable field")
        parts.append(_enc_value(v, typ))
    return b"".join(parts)


def _dec_record(buf, fields) -> tuple:
    out = []
    for _, typ, null_idx in fields:
        if null_idx is not None:
            idx = zigzag_decode(buf)
            if idx == null_idx:
                out.append(None)
                continue
        out.append(_dec_value(buf, typ))
    return tuple(out)


# ---------------------------------------------------------------------------
# Object Container File — spec §"Object Container Files":
# magic, file-metadata map (avro.schema / avro.codec), 16-byte sync
# marker; then blocks of [record count][byte size][payload][sync].
# ---------------------------------------------------------------------------


def _enc_meta_map(meta: dict[str, bytes]) -> bytes:
    parts = [zigzag_encode(len(meta))]
    for k, v in meta.items():
        kk = k.encode()
        parts += [zigzag_encode(len(kk)), kk, zigzag_encode(len(v)), v]
    parts.append(zigzag_encode(0))  # map terminator block
    return b"".join(parts)


def _dec_meta_map(buf) -> dict[str, bytes]:
    meta = {}
    while True:
        n = zigzag_decode(buf)
        if n == 0:
            return meta
        if n < 0:  # negative count variant: size prefix follows
            n = -n
            zigzag_decode(buf)
        for _ in range(n):
            klen = zigzag_decode(buf)
            k = buf.read(klen).decode()
            vlen = zigzag_decode(buf)
            meta[k] = buf.read(vlen)


def write_container(
    path,
    schema: dict,
    records,
    codec: str = "null",
    block_records: int = _BLOCK_RECORDS,
):
    """Stream ``records`` (tuples in field order) into one Avro
    container file. ``codec``: 'null' or 'deflate' (raw zlib).
    ``block_records`` sizes the sync-delimited blocks (small values
    exist for the split-read tests)."""
    if codec not in ("null", "deflate"):
        raise ValueError(f"unsupported codec {codec!r}")
    fields = _field_types(schema)
    # deterministic sync marker from the path: reproducible files
    # (Date-free and rng-free by design; uniqueness across files comes
    # from the path, which is unique by construction)
    import hashlib

    sync = hashlib.md5(str(path).encode()).digest()

    def flush(out, block):
        if not block:
            return
        payload = b"".join(block)
        if codec == "deflate":
            payload = zlib.compress(payload)[2:-4]  # raw deflate per spec
        out.write(zigzag_encode(len(block)))
        out.write(zigzag_encode(len(payload)))
        out.write(payload)
        out.write(sync)

    with open(path, "wb") as out:
        out.write(MAGIC)
        out.write(
            _enc_meta_map(
                {
                    "avro.schema": json.dumps(schema).encode(),
                    "avro.codec": codec.encode(),
                }
            )
        )
        out.write(sync)
        block = []
        for rec in records:
            block.append(_enc_record(rec, fields))
            if len(block) >= block_records:
                flush(out, block)
                block = []
        flush(out, block)


def read_header(path) -> dict:
    """Read just the schema from a container file header (closes the
    file — used for driver-side schema inference)."""
    with open(path, "rb") as f:
        if f.read(4) != MAGIC:
            raise ValueError(f"{path}: not an Avro container file")
        meta = _dec_meta_map(f)
        return json.loads(meta["avro.schema"].decode())


def read_container(path):
    """Return (schema_dict, record_iterator) for one container file.

    The header is parsed eagerly with a scoped handle; the data handle
    is opened lazily when the returned generator is first iterated —
    a caller that validates the schema and never iterates (or
    abandons the generator) leaks no file descriptor (ADVICE r8)."""
    with open(path, "rb") as h:
        if h.read(4) != MAGIC:
            raise ValueError(f"{path}: not an Avro container file")
        meta = _dec_meta_map(h)
        schema = json.loads(meta["avro.schema"].decode())
        codec = meta.get("avro.codec", b"null").decode()
        if codec not in ("null", "deflate"):
            raise ValueError(f"unsupported codec {codec!r}")
        sync = _read_exact(h, 16)
        data_start = h.tell()
    fields = _field_types(schema)

    def records():
        f = open(path, "rb")
        f.seek(data_start)
        try:
            while True:
                head = f.read(1)
                if not head:
                    return
                f.seek(-1, os.SEEK_CUR)
                count = zigzag_decode(f)
                size = zigzag_decode(f)
                payload = _read_exact(f, size)
                if codec == "deflate":
                    try:
                        payload = zlib.decompress(payload, wbits=-15)
                    except zlib.error as e:
                        raise ValueError(
                            f"corrupt deflate block: {e}"
                        ) from e
                buf = io.BytesIO(payload)
                for _ in range(count):
                    yield _dec_record(buf, fields)
                if f.read(16) != sync:
                    raise ValueError("sync marker mismatch (corrupt block)")
        finally:
            f.close()

    return schema, records()


def block_index(path):
    """Driver-side block walk: (schema, [(offset, count, size), ...]).

    Seeks over block HEADERS only (varint count + varint size, then
    skip size+16) — O(blocks) seeks, zero payload reads — and returns
    the exact offsets a ranged reader can start from. This is the
    split-planning half of parallel-within-one-file reads: Avro's
    alternative (seek to an arbitrary byte offset and scan for the
    16-byte sync marker) avoids even the header walk at the cost of a
    probabilistic scan; the explicit index is deterministic and still
    touches KBs for GB-scale files."""
    with open(path, "rb") as f:
        if f.read(4) != MAGIC:
            raise ValueError(f"{path}: not an Avro container file")
        meta = _dec_meta_map(f)
        schema = json.loads(meta["avro.schema"].decode())
        f.read(16)  # header sync
        blocks = []
        while True:
            off = f.tell()
            if not f.read(1):
                break
            f.seek(-1, os.SEEK_CUR)
            count = zigzag_decode(f)
            size = zigzag_decode(f)
            blocks.append((off, count, size))
            f.seek(size + 16, os.SEEK_CUR)  # payload + block sync
        return schema, blocks


def read_blocks(path, offsets):
    """Decode exactly the blocks starting at ``offsets`` (from
    :func:`block_index`) — the per-partition half of a split read."""
    with open(path, "rb") as f:
        if f.read(4) != MAGIC:
            raise ValueError(f"{path}: not an Avro container file")
        meta = _dec_meta_map(f)
        schema = json.loads(meta["avro.schema"].decode())
        codec = meta.get("avro.codec", b"null").decode()
        if codec not in ("null", "deflate"):
            raise ValueError(f"unsupported codec {codec!r}")
        fields = _field_types(schema)
        for off in offsets:
            f.seek(off)
            count = zigzag_decode(f)
            size = zigzag_decode(f)
            payload = f.read(size)
            if codec == "deflate":
                payload = zlib.decompress(payload, wbits=-15)
            buf = io.BytesIO(payload)
            for _ in range(count):
                yield _dec_record(buf, fields)


def plan_splits(blocks, split_bytes: int):
    """Greedy-chunk a block index into partitions of ~split_bytes."""
    parts, cur, acc = [], [], 0
    for off, _count, size in blocks:
        cur.append(off)
        acc += size
        if acc >= split_bytes:
            parts.append(tuple(cur))
            cur, acc = [], 0
    if cur:
        parts.append(tuple(cur))
    return parts


# Avro primitive -> pyarrow type factory name. Must stay positionally
# consistent with _AVRO_TO_SPARK: Spark validates each yielded
# RecordBatch against the plan schema (bigint<->int64 etc.) and fails
# the task on any drift.
_AVRO_TO_ARROW = {
    "long": "int64",
    "int": "int32",
    "double": "float64",
    "string": "string",
    "boolean": "bool_",
    "bytes": "binary",
}


def _dec_block_columns(payload: bytes, count: int, fields):
    """Decode one block payload into per-column value lists — the
    Arrow path's hot loop. Same wire semantics as ``_dec_record``
    (shared golden/fuzz coverage via the arrow-vs-row equality test)
    but a flat-offset scan over the raw bytes: inlined zigzag
    varints, ``struct.unpack_from`` for doubles, zero per-value
    BytesIO method calls. Strictly BOUNDS-CHECKED: truncation raises
    EOFError and an invalid boolean/negative length raises
    ValueError, like the row path's ``_read_exact`` discipline (this
    scan additionally rejects negative string/bytes lengths, which a
    BytesIO ``read(-1)`` would have silently absorbed)."""
    end = len(payload)
    cols = [[] for _ in fields]
    pos = 0
    specs = [
        (cols[i], typ, null_idx)
        for i, (_, typ, null_idx) in enumerate(fields)
    ]
    unpack_from = struct.unpack_from
    for _ in range(count):
        for col, typ, null_idx in specs:
            if null_idx is not None:
                acc = 0
                shift = 0
                while True:
                    if pos >= end:
                        raise EOFError("varint truncated")
                    b = payload[pos]
                    pos += 1
                    acc |= (b & 0x7F) << shift
                    if not b & 0x80:
                        break
                    shift += 7
                if (acc >> 1) ^ -(acc & 1) == null_idx:
                    col.append(None)
                    continue
            if typ == "double":
                if pos + 8 > end:
                    raise EOFError(
                        "avro data truncated: wanted 8 bytes"
                    )
                col.append(unpack_from("<d", payload, pos)[0])
                pos += 8
            elif typ == "long" or typ == "int":
                acc = 0
                shift = 0
                while True:
                    if pos >= end:
                        raise EOFError("varint truncated")
                    b = payload[pos]
                    pos += 1
                    acc |= (b & 0x7F) << shift
                    if not b & 0x80:
                        break
                    shift += 7
                col.append((acc >> 1) ^ -(acc & 1))
            elif typ == "string" or typ == "bytes":
                acc = 0
                shift = 0
                while True:
                    if pos >= end:
                        raise EOFError("varint truncated")
                    b = payload[pos]
                    pos += 1
                    acc |= (b & 0x7F) << shift
                    if not b & 0x80:
                        break
                    shift += 7
                n = (acc >> 1) ^ -(acc & 1)
                if n < 0:
                    raise ValueError(
                        f"invalid avro {typ} length {n}"
                    )
                if pos + n > end:
                    raise EOFError(
                        f"avro data truncated: wanted {n} bytes"
                    )
                raw = payload[pos : pos + n]
                pos += n
                col.append(
                    raw.decode("utf-8") if typ == "string" else raw
                )
            elif typ == "boolean":
                if pos >= end:
                    raise EOFError(
                        "avro data truncated: wanted 1 byte"
                    )
                b = payload[pos]
                pos += 1
                if b > 1:
                    raise ValueError(
                        f"invalid avro boolean byte {bytes([b])!r}"
                    )
                col.append(b == 1)
            elif typ == "null":
                col.append(None)
            else:
                raise ValueError(f"unsupported avro type {typ!r}")
    return cols


def _compile_filter(f, names):
    """Driver-side: one Spark ``Filter`` -> a plain picklable spec
    tuple (op, col_index[, literal]) or None when unsupported. Only
    flat single-part column references over this codec's scalar
    surface are compilable; anything else stays Spark-side."""
    from pyspark.sql.datasource import (
        EqualNullSafe,
        EqualTo,
        GreaterThan,
        GreaterThanOrEqual,
        In,
        IsNotNull,
        IsNull,
        LessThan,
        LessThanOrEqual,
        Not,
        StringContains,
        StringEndsWith,
        StringStartsWith,
    )

    if isinstance(f, Not):
        c = _compile_filter(f.child, names)
        return ("not", c) if c is not None else None
    attr = getattr(f, "attribute", None)
    if attr is None or len(attr) != 1 or attr[0] not in names:
        return None
    i = names.index(attr[0])
    if isinstance(f, EqualTo):
        return ("eq", i, f.value)
    if isinstance(f, EqualNullSafe):
        return ("eqns", i, f.value)
    if isinstance(f, GreaterThan):
        return ("gt", i, f.value)
    if isinstance(f, GreaterThanOrEqual):
        return ("gte", i, f.value)
    if isinstance(f, LessThan):
        return ("lt", i, f.value)
    if isinstance(f, LessThanOrEqual):
        return ("lte", i, f.value)
    if isinstance(f, In):
        return ("in", i, tuple(f.value))
    if isinstance(f, IsNull):
        return ("isnull", i)
    if isinstance(f, IsNotNull):
        return ("isnotnull", i)
    if isinstance(f, StringStartsWith):
        return ("startswith", i, f.value)
    if isinstance(f, StringEndsWith):
        return ("endswith", i, f.value)
    if isinstance(f, StringContains):
        return ("contains", i, f.value)
    return None


# Sentinel: the comparison touches a float NaN, where Spark's
# semantics (NaN = NaN is TRUE; NaN sorts GREATER than any non-NaN)
# diverge from Python's (every NaN comparison is False). A wrong
# verdict here DROPS the row during block decode, and since dropped
# rows never reach Spark, the return-every-filter re-evaluation
# safety net cannot restore them. The pre-filter therefore abstains:
# _row_passes keeps the row and Spark's post-scan Filter decides.
_NAN_DEFER = object()


def _is_nan(v) -> bool:
    return isinstance(v, float) and v != v


def _eval_filter(spec, row):
    """SQL tri-state evaluation of one compiled filter against a
    decoded row: True / False / None (unknown — a comparison with
    NULL). A row survives only on True. A fourth outcome,
    ``_NAN_DEFER``, marks NaN-touching comparisons the pre-filter
    must not judge (see the sentinel note above); it propagates
    through ``not`` unchanged — negating "don't know, ask Spark"
    is still "don't know, ask Spark"."""
    op = spec[0]
    if op == "not":
        v = _eval_filter(spec[1], row)
        if v is _NAN_DEFER:
            return _NAN_DEFER
        return None if v is None else (not v)
    x = row[spec[1]]
    if op == "isnull":
        return x is None
    if op == "isnotnull":
        return x is not None
    val = spec[2]
    if _is_nan(x) or _is_nan(val) or (
        op == "in" and any(_is_nan(v) for v in val)
    ):
        return _NAN_DEFER
    if op == "eqns":
        if x is None or val is None:
            return x is None and val is None
        return x == val
    if op == "in":
        non_null = [v for v in val if v is not None]
        if x is None:
            return None
        if x in non_null:
            return True
        return None if len(non_null) != len(val) else False
    if x is None or val is None:
        return None
    if op == "eq":
        return x == val
    if op == "gt":
        return x > val
    if op == "gte":
        return x >= val
    if op == "lt":
        return x < val
    if op == "lte":
        return x <= val
    if op == "startswith":
        return x.startswith(val)
    if op == "endswith":
        return x.endswith(val)
    if op == "contains":
        return val in x
    raise ValueError(f"unknown filter op {op!r}")


def _row_passes(specs, row):
    """AND of compiled filters — the row is dropped only when some
    filter is definitively not-True; a ``_NAN_DEFER`` filter keeps
    the row so Spark's post-scan re-evaluation applies the engine's
    NaN semantics instead of Python's."""
    for s in specs:
        v = _eval_filter(s, row)
        if v is _NAN_DEFER:
            continue
        if v is not True:
            return False
    return True


def _vec_eval(spec, arrays):
    """Vectorized twin of :func:`_eval_filter` over one block's Arrow
    arrays: returns ``(mask, defer)`` where ``mask`` is the SQL
    tri-state BooleanArray (null = unknown) and ``defer`` is a
    null-free BooleanArray marking rows whose comparison touches a
    float NaN (kept regardless — Spark re-evaluates; same contract as
    ``_NAN_DEFER``, which must survive ``not`` unchanged). Any spec or
    type this path cannot express raises — the caller falls back to
    the per-row reference implementation, never guesses."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    op = spec[0]
    if op == "not":
        m, d = _vec_eval(spec[1], arrays)
        return pc.invert(m), d  # Kleene: invert(null) = null
    col = arrays[spec[1]]
    n = len(col)
    # constant masks via numpy, not a Python list per spec per block —
    # C-speed and explicitly bool-typed even at n=0 (pa.array([])
    # infers null type, which pc.or_/filter reject)
    no_defer = pa.array(np.zeros(n, dtype=bool))
    if op == "isnull":
        return pc.is_null(col), no_defer
    if op == "isnotnull":
        return pc.is_valid(col), no_defer
    val = spec[2]
    if _is_nan(val) or (
        op == "in" and any(_is_nan(v) for v in val)
    ):
        # NaN literal: the whole comparison defers, every row kept
        return pa.nulls(n, pa.bool_()), pa.array(np.ones(n, dtype=bool))
    defer = (
        pc.fill_null(pc.is_nan(col), False)
        if pa.types.is_floating(col.type)
        else no_defer
    )
    if op == "eq":
        return pc.equal(col, pa.scalar(val, col.type)), defer
    if op == "eqns":
        if val is None:
            return pc.is_null(col), defer
        return (
            pc.fill_null(pc.equal(col, pa.scalar(val, col.type)), False),
            defer,
        )
    if op == "gt":
        return pc.greater(col, pa.scalar(val, col.type)), defer
    if op == "gte":
        return pc.greater_equal(col, pa.scalar(val, col.type)), defer
    if op == "lt":
        return pc.less(col, pa.scalar(val, col.type)), defer
    if op == "lte":
        return pc.less_equal(col, pa.scalar(val, col.type)), defer
    if op == "in":
        non_null = [v for v in val if v is not None]
        base = pc.is_in(col, value_set=pa.array(non_null, col.type))
        # SQL tri-state: match -> True; else null when the column
        # value is NULL or the literal list carries a NULL
        null_b = pa.scalar(None, pa.bool_())
        m = pc.if_else(pc.is_valid(col), base, null_b)
        if len(non_null) != len(val):
            m = pc.if_else(pc.fill_null(m, False), m, null_b)
        return m, defer
    if op == "startswith":
        return pc.starts_with(col, pattern=val), defer
    if op == "endswith":
        return pc.ends_with(col, pattern=val), defer
    if op == "contains":
        return pc.match_substring(col, pattern=val), defer
    raise ValueError(f"no vectorized form for filter op {op!r}")


def _vector_keep(specs, arrays):
    """Block-level keep mask: AND over specs of (defer OR mask-is-
    True) — exactly :func:`_row_passes` row-by-row (fuzz-tested
    equivalent), evaluated in Arrow C kernels instead of one Python
    call per row per filter."""
    import pyarrow.compute as pc

    total = None
    for s in specs:
        m, d = _vec_eval(s, arrays)
        keep = pc.or_(d, pc.fill_null(m, False))
        total = keep if total is None else pc.and_(total, keep)
    return total


def arrow_blocks(path, offsets=None, compiled_filters=None):
    """Yield one ``pyarrow.RecordBatch`` per container block — the
    vectorized read path (SPARK-48493: a Python DataSource ``read``
    may yield Arrow batches, skipping the per-row pickle round-trip).
    The per-VALUE varint decode is still Python (the format is
    variable-length row-major, so there is no columnar shortcut), but
    rows transfer to the JVM as one Arrow buffer per block instead of
    one pickled tuple per record. ``offsets=None`` reads the whole
    file; otherwise exactly the ranged blocks from
    :func:`block_index` (same contract as :func:`read_blocks`).
    A block's natural size (``_BLOCK_RECORDS`` on our writer, the
    producer's choice otherwise) is the batch size."""
    import pyarrow as pa

    with open(path, "rb") as f:
        if f.read(4) != MAGIC:
            raise ValueError(f"{path}: not an Avro container file")
        meta = _dec_meta_map(f)
        schema = json.loads(meta["avro.schema"].decode())
        codec = meta.get("avro.codec", b"null").decode()
        if codec not in ("null", "deflate"):
            raise ValueError(f"unsupported codec {codec!r}")
        sync = _read_exact(f, 16)
        fields = _field_types(schema)
        names = [n for n, _, _ in fields]
        types = [getattr(pa, _AVRO_TO_ARROW[t])() for _, t, _ in fields]

        def decode_payload(count, payload):
            if count == 0:
                # zero-record block — legal per the Avro spec for
                # foreign writers; skip it (an n=0 filter mask would
                # otherwise need careful typing, and a 0-row batch is
                # pure overhead downstream)
                return None
            if codec == "deflate":
                try:
                    payload = zlib.decompress(payload, wbits=-15)
                except zlib.error as e:
                    raise ValueError(f"corrupt deflate block: {e}") from e
            cols = _dec_block_columns(payload, count, fields)
            batch = pa.RecordBatch.from_arrays(
                [
                    pa.array(col, type=t)
                    for col, t in zip(cols, types)
                ],
                names,
            )
            if compiled_filters:
                # vectorized pre-filter (Arrow C kernels); the
                # measured r10 lesson is that one Python
                # _row_passes call per row costs MORE than the
                # worker->JVM transfer it saves, so the row path
                # survives only as the semantics reference and the
                # fallback for anything _vec_eval cannot express
                try:
                    keep = _vector_keep(compiled_filters, batch.columns)
                except Exception:
                    keep = pa.array(
                        [
                            _row_passes(compiled_filters, row)
                            for row in zip(*cols)
                        ],
                        pa.bool_(),
                    )
                batch = batch.filter(keep)
                if batch.num_rows == 0:
                    return None  # whole block filtered — skip batch
            return batch

        if offsets is None:
            while True:
                if not f.read(1):
                    return
                f.seek(-1, os.SEEK_CUR)
                count = zigzag_decode(f)
                size = zigzag_decode(f)
                batch = decode_payload(count, _read_exact(f, size))
                if batch is not None:
                    yield batch
                if _read_exact(f, 16) != sync:
                    raise ValueError(
                        "sync marker mismatch (corrupt block)"
                    )
        else:
            for off in offsets:
                f.seek(off)
                count = zigzag_decode(f)
                size = zigzag_decode(f)
                batch = decode_payload(count, _read_exact(f, size))
                if batch is not None:
                    yield batch


def spark_ddl_from_avro(schema: dict) -> str:
    """Avro record schema -> Spark DDL string (nullability is a data
    property in Spark, so nullable unions map to the plain type)."""
    cols = []
    for name, typ, _ in _field_types(schema):
        cols.append(f"{name} {_AVRO_TO_SPARK[typ]}")
    return ", ".join(cols)


def avro_schema_from_spark(schema, name: str = "row") -> dict:
    """Spark StructType -> flat nullable-union Avro record schema."""
    fields = []
    for f in schema.fields:
        t = _SPARK_TO_AVRO.get(f.dataType.typeName())
        if t is None:
            raise ValueError(
                f"column {f.name}: {f.dataType.typeName()} not in the "
                "avro_lite scalar surface"
            )
        fields.append(
            {"name": f.name, "type": ["null", t] if f.nullable else t}
        )
    return {"type": "record", "name": name, "fields": fields}


def make_pyavro_datasource(spark=None, warn=True):
    """Build the ``pyavro`` DataSource class.

    ``spark`` (optional): the session whose
    ``spark.sql.python.filterPushdown.enabled`` conf decides whether
    the reader implements ``pushFilters`` — explicit is safer than
    the ``getActiveSession()`` fallback, because the decision is
    baked in at registration time (see the warning block below).
    ``warn=False`` silences the order-sensitivity warning for
    deliberately no-pushdown registrations.

    Defined inside a factory so cloudpickle serializes the class BY
    VALUE — Python workers do not have this package on their import
    path (same deployment-free pattern as
    :func:`sources.make_embjson_datasource`). The class methods call
    this module's codec functions, which cloudpickle would normally
    pickle BY REFERENCE (they live in an importable module — verified:
    unpickling in a bare interpreter raises ModuleNotFoundError), so
    the whole module is registered for by-value pickling; the probe
    test re-verifies the class round-trips through a sys.path that
    cannot import the package."""
    from pyspark import cloudpickle as _cp

    _cp.register_pickle_by_value(sys.modules[__name__])
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceArrowWriter,
        DataSourceReader,
        InputPartition,
        WriterCommitMessage,
    )

    _read_header = read_header
    _arrow_blocks = arrow_blocks
    _block_index = block_index
    _plan_splits = plan_splits
    _compile = _compile_filter
    _write_container = write_container
    _ddl = spark_ddl_from_avro
    _from_spark = avro_schema_from_spark

    def _files(path):
        from pathlib import Path as _P

        p = _P(path)
        if p.is_file():
            return [str(p)]
        return [str(q) for q in sorted(p.glob("*.avro"))]

    class _PyAvroReader(DataSourceReader):
        def __init__(self, options, expect_fields):
            self._path = options.get("path")
            self._split_bytes = int(options.get("split_bytes", 0))
            self._pushdown = (
                options.get("pushdown", "true").lower() != "false"
            )
            # (name, avro type, null-branch idx) the plan-time schema promises
            # — every file must agree, or a heterogeneous directory
            # would silently misalign columns (tuples map to Spark
            # columns POSITIONALLY)
            self._expect = expect_fields
            self._filters = []

        def _check(self, path, schema):
            got = _field_types(schema)
            if [(n, t) for n, t, _ in got] != [
                (n, t) for n, t, _ in self._expect
            ]:
                raise ValueError(
                    f"pyavro: {path} schema {got} does not match the "
                    f"planned schema {self._expect} (inferred from the "
                    "first file) — heterogeneous directory"
                )

        def partitions(self):
            # default: one partition per file (the many-files layout
            # every ingest produces). With option split_bytes=N, each
            # file's block index is walked driver-side (headers only)
            # and consecutive blocks are chunked into ~N-byte ranged
            # partitions — parallel reads WITHIN one huge file, the
            # layout a single upstream writer produces.
            if not self._split_bytes:
                return [
                    InputPartition((f, None)) for f in _files(self._path)
                ]
            parts = []
            for f in _files(self._path):
                _, blocks = _block_index(f)
                for offsets in _plan_splits(blocks, self._split_bytes):
                    parts.append(InputPartition((f, offsets)))
            return parts

        def read(self, partition):
            path, offsets = partition.value
            self._check(path, _read_header(path))
            # one Arrow batch per container block, not one pickled
            # tuple per record
            yield from _arrow_blocks(path, offsets, self._filters)

    def _push_filters(self, filters):
        # CONSERVATIVE pushdown: compile what we understand and
        # pre-filter rows during block decode (rows drop BEFORE the
        # worker->JVM transfer), but return EVERY filter so Spark
        # re-evaluates post-scan — zero correctness risk if a spec's
        # semantics ever drift from Catalyst's (SQL tri-state NULL
        # handling is easy to get subtly wrong, and a wrongly-ACCEPTED
        # filter silently loses rows). option pushdown=false disables
        # even the pre-filter.
        if self._pushdown:
            names = [n for n, _, _ in self._expect]
            self._filters = [
                c
                for c in (_compile(f, names) for f in filters)
                if c is not None
            ]
        return filters

    # A reader that IMPLEMENTS pushFilters makes Spark FAIL every read
    # under spark.sql.python.filterPushdown.enabled=false (rather than
    # fall back) — so the method is attached only when the conf is on
    # at registration time (session.tune() enables it; a bare session
    # simply gets no pushdown). Flipping the conf OFF after
    # registering re-raises Spark's guard on the next read —
    # re-register to rebuild the reader for the new conf. Because the
    # decision is ORDER-SENSITIVE (registering before tune() silently
    # yields a no-pushdown reader), the downgrade is made observable:
    # a warning names the conf and the re-registration remedy. Pass
    # the session explicitly to decide against it rather than
    # whatever getActiveSession() returns.
    _pushdown_attached = False
    _sess = None
    try:
        _sess = spark
        if _sess is None:
            from pyspark.sql import SparkSession as _SS

            _sess = _SS.getActiveSession()
        if (
            _sess is not None
            and str(
                _sess.conf.get(
                    "spark.sql.python.filterPushdown.enabled", "false"
                )
            ).lower()
            == "true"
        ):
            _PyAvroReader.pushFilters = _push_filters
            _pushdown_attached = True
    except Exception:
        pass  # conf unreadable — keep the no-pushdown reader
    if not _pushdown_attached and warn and _sess is not None:
        # the genuine order-sensitivity hazard: a session EXISTS but
        # its conf is off (likely "registered before tune()"). With no
        # session at all the caller plainly intends a no-pushdown
        # registration — stay silent (warn=False also opts out).
        import warnings

        warnings.warn(
            "pyavro registered WITHOUT filter pushdown: "
            "spark.sql.python.filterPushdown.enabled is not 'true' on "
            "the deciding session. Reads work but pre-filtering is "
            "off; call session.tune(spark) first and re-register with "
            "make_pyavro_datasource(spark) to enable it. (Conversely, "
            "disabling the conf AFTER a pushdown registration makes "
            "Spark fail subsequent pyavro reads until "
            "re-registration. Pass warn=False to silence.)",
            stacklevel=2,
        )

    class _PyAvroCommit(WriterCommitMessage):
        def __init__(self, tmp):
            self.tmp = tmp

    class _PyAvroWriter(DataSourceArrowWriter):
        """Tasks receive ``pyarrow.RecordBatch`` objects, not pickled
        Rows: the JVM->Python boundary is one Arrow buffer per batch.
        Staged two-phase write: tasks emit hidden ``.tmp-`` files
        and commit() renames them into place — an overwrite that fails
        mid-job leaves the old data untouched (no destructive work
        happens before every task has succeeded). Append
        (``overwrite=False``) commits under names that continue past
        the existing parts instead of clobbering same-pid files."""

        def __init__(self, options, schema, overwrite):
            self._path = options.get("path")
            self._schema = schema
            self._overwrite = overwrite
            # write-shape knobs: block compression (spec-mandated
            # codecs only) and records-per-block (the split/batch
            # granularity readers see)
            self._codec = options.get("codec", "null")
            if self._codec not in ("null", "deflate"):
                raise ValueError(
                    f"pyavro: unsupported codec {self._codec!r} "
                    "(spec-required codecs: null, deflate)"
                )
            self._block_records = int(
                options.get("block_records", _BLOCK_RECORDS)
            )
            if self._block_records < 1:
                raise ValueError("pyavro: block_records must be >= 1")
            # fail at PLAN time (before any IO) on unsupported column
            # types — never after old data has been touched
            _from_spark(schema)

        def write(self, iterator):
            import os as _os
            from pyspark import TaskContext

            ctx = TaskContext.get()
            _os.makedirs(self._path, exist_ok=True)
            tmp = _os.path.join(
                self._path,
                f".tmp-{ctx.partitionId():05d}-{ctx.taskAttemptId()}.avro",
            )
            avro_schema = _from_spark(self._schema)

            def rows():
                for batch in iterator:
                    yield from zip(
                        *[c.to_pylist() for c in batch.columns]
                    )

            _write_container(
                tmp,
                avro_schema,
                rows(),
                codec=self._codec,
                block_records=self._block_records,
            )
            return _PyAvroCommit(tmp)

        def commit(self, messages):
            import glob as _glob
            import os as _os

            existing = sorted(
                _glob.glob(_os.path.join(self._path, "*.avro"))
            )
            if self._overwrite:
                for old in existing:
                    _os.remove(old)
                base = 0
            else:
                # max(parsed part index) + 1, never len(existing):
                # numbering gaps or foreign .avro names would make
                # len() collide with a live file, and POSIX rename
                # silently clobbers the target (ADVICE r8).
                import re as _re

                idxs = [
                    int(m.group(1))
                    for m in (
                        _re.fullmatch(
                            r"part-(\d+)\.avro", _os.path.basename(p)
                        )
                        for p in existing
                    )
                    if m
                ]
                base = max(idxs) + 1 if idxs else 0
            for i, m in enumerate(sorted(msg.tmp for msg in messages)):
                dst = _os.path.join(
                    self._path, f"part-{base + i:05d}.avro"
                )
                if _os.path.exists(dst):
                    raise FileExistsError(
                        f"pyavro append collision: {dst} exists"
                    )
                _os.rename(m, dst)

        def abort(self, messages):
            import os as _os

            for m in messages:
                if m is not None and _os.path.exists(m.tmp):
                    _os.remove(m.tmp)

    class PyAvroDataSource(DataSource):
        """``format("pyavro")`` — Avro container files, pure Python."""

        @classmethod
        def name(cls) -> str:
            return "pyavro"

        def schema(self):
            files = _files(self.options.get("path"))
            if not files:
                raise ValueError("pyavro: no .avro files at path")
            return _ddl(_read_header(files[0]))

        def reader(self, schema):
            files = _files(self.options.get("path"))
            if not files:
                raise ValueError("pyavro: no .avro files at path")
            # expected layout = the FIRST file's header (the same one
            # schema() inferred from); read() re-checks every file
            return _PyAvroReader(
                self.options, _field_types(_read_header(files[0]))
            )

        def writer(self, schema, overwrite):
            # destructive work is deferred to the writer's commit()
            # (after every task succeeded); here we only validate.
            return _PyAvroWriter(self.options, schema, overwrite)

    return PyAvroDataSource
