"""Bit-identity of the two-pass histogram percentile
(operators/quantiles.exact_percentiles_histo) vs Catalyst's Percentile
aggregate — the contract that lets registered queries swap the
single-task map merge for the bounded form without touching results.

The histogram width ``quantiles._N_BINS`` is read on the driver when
the plan is built, so the tests narrow it with ``monkeypatch`` to put
many values in each bin. A "weighted" case repeats each value by a
random count and checks the helper over the repeated rows against
``percentile(v, ps, w)`` over the compact rows.
"""

import random
import struct

import pytest
from pyspark.sql import functions as F

from bigdata_deepfakeanalysis_spark.operators import quantiles
from bigdata_deepfakeanalysis_spark.operators.quantiles import (
    exact_percentiles_histo,
)


def _bits(x):
    return struct.pack("<d", x).hex() if x is not None else None


def _agg_ps(ps):
    return "array(" + ",".join(f"CAST({p!r} AS DOUBLE)" for p in ps) + ")"


CASES = [
    # (values-generator, ps, each value repeated by a random count?)
    ("uniform", [0.1, 0.25, 0.5, 0.75, 0.9], False),
    ("uniform", [0.0, 0.5, 1.0], False),          # endpoint positions
    ("duplicates", [0.1, 0.3, 0.5, 0.7, 0.9], False),
    ("duplicates", [0.25, 0.5], True),             # weighted
    ("two_values", [0.0, 0.37, 0.5, 1.0], False),  # minimal domain
    ("one_value", [0.0, 0.5, 1.0], False),         # mx == mn bin guard
    ("integer_positions", [0.25, 0.5, 0.75], False),  # pos hits integers
    ("skewed", [0.01, 0.5, 0.99], True),
]


def _gen(kind, rng, n=4000):
    if kind == "uniform":
        return [rng.uniform(-1e6, 1e6) for _ in range(n)]
    if kind == "duplicates":
        pool = [round(rng.uniform(0, 1000), 2) for _ in range(50)]
        return [rng.choice(pool) for _ in range(n)]
    if kind == "two_values":
        return [rng.choice([3.5, 9.25]) for _ in range(n)]
    if kind == "one_value":
        return [42.125] * n
    if kind == "integer_positions":
        # n = 4001 -> p*(n-1) integral for quartiles
        return [float(i % 97) for i in range(4001)]
    if kind == "skewed":
        return [rng.expovariate(1e-3) for _ in range(n)]
    raise AssertionError(kind)


def _repeated(spark, rows, schema):
    """The compact ``(..., v, w)`` rows as a frame, and the same rows
    with each ``(..., v)`` repeated ``w`` times."""
    compact = spark.createDataFrame(rows, schema)
    repeated = spark.createDataFrame(
        [r[:-1] for r in rows for _ in range(r[-1])],
        schema.rsplit(",", 1)[0],
    )
    return compact, repeated


@pytest.mark.parametrize("kind,ps,weighted", CASES)
def test_histo_matches_percentile_ungrouped(
    spark, monkeypatch, kind, ps, weighted
):
    monkeypatch.setattr(quantiles, "_N_BINS", 64)
    rng = random.Random(hash((kind, len(ps), weighted)) & 0xFFFF)
    vals = _gen(kind, rng)
    rows = [
        (v, rng.randint(1, 5) if weighted else 1) for v in vals
    ]
    df, rep = _repeated(spark, rows, "v double, w long")
    a = df.agg(
        F.expr(f"percentile(v, {_agg_ps(ps)}, w)").alias("qs")
    ).collect()[0]["qs"]
    b = exact_percentiles_histo(rep, [], "v", ps).collect()[0]["qs"]
    assert [_bits(x) for x in a] == [_bits(x) for x in b], (kind, ps)


def test_histo_matches_percentile_grouped(spark, monkeypatch):
    monkeypatch.setattr(quantiles, "_N_BINS", 64)
    rng = random.Random(7)
    rows = [
        (rng.choice(["a", "b", "c"]), rng.uniform(0, 1e4), rng.randint(1, 3))
        for _ in range(6000)
    ]
    df, rep = _repeated(spark, rows, "grp string, v double, w long")
    ps = [0.05, 0.5, 0.95]
    a = {
        r["grp"]: [_bits(x) for x in r["qs"]]
        for r in df.groupBy("grp")
        .agg(F.expr(f"percentile(v, {_agg_ps(ps)}, w)").alias("qs"))
        .collect()
    }
    b = {
        r["grp"]: [_bits(x) for x in r["qs"]]
        for r in exact_percentiles_histo(rep, ["grp"], "v", ps).collect()
    }
    assert a == b


def test_histo_ignores_nulls_like_percentile(spark, monkeypatch):
    monkeypatch.setattr(quantiles, "_N_BINS", 16)
    rows = [(float(i),) for i in range(100)] + [(None,)] * 17
    df = spark.createDataFrame(rows, "v double")
    a = df.agg(F.expr("percentile(v, array(0.5D, 0.9D))").alias("qs"))
    b = exact_percentiles_histo(df, [], "v", [0.5, 0.9])
    assert [_bits(x) for x in a.collect()[0]["qs"]] == [
        _bits(x) for x in b.collect()[0]["qs"]
    ]
