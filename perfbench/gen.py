"""Seeded scale-up of the engine's fixture tables.

    python3 perfbench/gen.py SRC_DIR OUT_DIR SEED COPIES

Writes ``COPIES`` key-shifted copies of the fact tables of ``SRC_DIR``
(one parquet file per copy inside ``<table>.parquet/``) and the
dimension tables as they are. Copy 0 is the source file unchanged; each
later copy shifts its id column by ``STRIDE`` and has its document text
and embedding content perturbed from the seed, so copies are not
near-duplicates of each other. Only the perturbation depends on the
seed: the same ``(source, seed, copies)`` always writes the same files.
"""

from __future__ import annotations

import json
import shutil
import sys
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# fact table -> the id column shifted per copy; lineitem shifts its
# order key with orders so the 1:N join holds within every copy
FACTS = {
    "orders": "o_orderkey",
    "lineitem": "l_orderkey",
    "events": "event_id",
    "documents": "doc_id",
    "embeddings": "vec_id",
}
STRIDE = 100_000_000
FORMAT_VERSION = 3

_AZ = "abcdefghijklmnopqrstuvwxyz"


def _perturb(rng, name: str, t: pa.Table) -> pa.Table:
    """Decorrelate one copy's content: a seeded letter permutation of
    document text (length and token structure kept, q-grams changed) and
    a seeded rotation plus sign flips of embedding dimensions (norms
    kept, cross-copy cosine near 0)."""
    if name == "documents":
        table = str.maketrans(_AZ, "".join(rng.permutation(list(_AZ))))
        text = [s.translate(table) for s in t.column("text").to_pylist()]
        return t.set_column(t.schema.get_field_index("text"), "text", pa.array(text))
    if name == "embeddings":
        emb = np.asarray(t.column("embedding").to_pylist(), dtype=np.float32)
        emb = np.roll(emb, int(rng.integers(1, emb.shape[1])), axis=1)
        emb *= rng.choice(np.float32([-1.0, 1.0]), emb.shape[1])
        col = pa.FixedSizeListArray.from_arrays(pa.array(emb.ravel()), emb.shape[1])
        field = t.schema.field("embedding")
        return t.set_column(
            t.schema.get_field_index("embedding"), field, col.cast(field.type)
        )
    return t


def generate(src: Path, out: Path, seed: int, copies: int) -> Path:
    """Write the scaled tables under ``out`` (idempotent: a finished
    directory carries a ``.complete`` marker naming its parameters)."""
    marker = out / ".complete"
    spec = json.dumps(
        {"src": src.name, "seed": seed, "copies": copies, "format": FORMAT_VERSION}
    )
    if marker.exists() and marker.read_text() == spec:
        return out
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    rng = np.random.default_rng(seed)
    for path in sorted(src.glob("*.parquet")):
        name = path.stem
        if name not in FACTS:
            shutil.copyfile(path, out / path.name)
            continue
        d = out / path.name
        d.mkdir()
        shutil.copyfile(path, d / "part-00000.parquet")
        base = pq.read_table(path)
        key = FACTS[name]
        for i in range(1, copies):
            shifted = pc.add(base.column(key), pa.scalar(i * STRIDE, pa.int64()))
            t = base.set_column(base.schema.get_field_index(key), key, shifted)
            pq.write_table(_perturb(rng, name, t), d / f"part-{i:05d}.parquet")
    marker.write_text(spec)
    return out


if __name__ == "__main__":
    src, out, seed, copies = sys.argv[1:]
    generate(Path(src), Path(out), int(seed), int(copies))
