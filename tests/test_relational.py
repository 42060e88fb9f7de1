"""Phase-1 relational core: every registered query with an oracle is
hash-compared against DuckDB at sf0.01 — the same check the driver runs."""

from __future__ import annotations

import pytest

from bigdata_deepfakeanalysis_spark.registry import all_oracles, all_queries

from .conftest import SF_DIR


def _oracle_cases():
    qs, os_ = all_queries(), all_oracles()
    return sorted(os_.keys() & qs.keys())


def _rows_only_cases():
    qs, os_ = all_queries(), all_oracles()
    return sorted(set(qs) - set(os_))


@pytest.mark.parametrize("name", _oracle_cases())
def test_oracle_parity(name, spark, oracle_check):
    fn = all_queries()[name]
    oracle_check(fn(spark, SF_DIR), all_oracles()[name])


@pytest.mark.parametrize("name", _rows_only_cases())
def test_rows_only(name, spark):
    fn = all_queries()[name]
    df = fn(spark, SF_DIR)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0


def test_assortativity_degenerate_graph_is_null_not_error(spark):
    """sf0.001's sparsified co-purchase graph has zero degree variance
    (every endpoint the same degree): Pearson r is undefined there.
    Registry-wide sf0.001 sweep caught Spark throwing ANSI
    DIVIDE_BY_ZERO while the DuckDB oracle produced NaN — both sides
    are now NULLIF-guarded to NULL. Non-degenerate SFs are covered by
    the ordinary oracle-parity case (guarded division is plain
    division when the divisor is nonzero)."""
    from bigdata_deepfakeanalysis_spark.operators.graph import (
        q_degree_assortativity,
    )

    from .conftest import SF_SMALL

    rows = q_degree_assortativity(spark, SF_SMALL).collect()
    assert len(rows) == 1
    assert rows[0]["n_directed_edges"] > 0
    assert rows[0]["assortativity"] is None


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {"n_name", "revenue"}


def test_curation_metrics_ride_the_same_job(spark):
    """Observation metrics must equal independently computed counts —
    and arrive from the one curation job, not a second scan."""
    from bigdata_deepfakeanalysis_spark.catalog import table
    from bigdata_deepfakeanalysis_spark.operators.text import (
        curation_with_metrics,
    )
    from pyspark.sql import functions as F

    from .conftest import SF_DIR

    kept, obs = curation_with_metrics(spark, SF_DIR)
    n_kept = kept.count()
    docs = table(spark, SF_DIR, "documents")
    expect = docs.agg(
        F.count(F.lit(1)).alias("n_in"),
        F.sum(F.length("text").cast("long")).alias("chars_in"),
        F.approx_count_distinct("lang").alias("n_langs"),
    ).collect()[0]
    got = obs.get
    assert got["n_in"] == expect["n_in"]
    assert got["chars_in"] == expect["chars_in"]
    assert got["n_langs"] == expect["n_langs"]
    assert 0 < n_kept <= got["n_in"]


def test_training_pipeline_funnel_strictly_shrinks(spark):
    """Every pipeline stage must catch its planted failure class:
    quality < input, dedup < quality (re-posts), decontamination <
    dedup (leaked eval copies), with positive final token yield."""
    from bigdata_deepfakeanalysis_spark.registry import all_queries

    from .conftest import SF_DIR

    rows = all_queries()["q_training_pipeline"](spark, SF_DIR).collect()
    assert len(rows) > 0
    for r in rows:
        assert r.n_in > r.n_quality, r
        assert r.n_quality >= r.n_unique, r
        assert r.n_unique >= r.n_clean, r
        assert r.tokens_kept > 0, r
    # at least one lang caught a re-post AND a leaked eval doc
    assert any(r.n_quality > r.n_unique for r in rows)
    assert any(r.n_unique > r.n_clean for r in rows)


def test_table_read_infers_schema_once(spark):
    """Only the first read of a path runs the schema-inference job."""
    from bigdata_deepfakeanalysis_spark.catalog import table

    from .conftest import SF_DIR

    dag = spark.sparkContext._jsc.sc().dagScheduler()
    table(spark, SF_DIR, "lineitem")
    before = dag.nextJobId()
    table(spark, SF_DIR, "lineitem")
    assert dag.nextJobId() == before


def test_table_rewritten_in_place_is_reinferred(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from bigdata_deepfakeanalysis_spark.catalog import table

    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert table(spark, str(tmp_path), "t").columns == ["a"]
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), path)
    df = table(spark, str(tmp_path), "t")
    assert df.columns == ["a", "b"]
    assert sorted(df.collect()) == [(1, "x"), (2, "y")]


def test_table_read_hits_the_cached_relation(spark):
    from bigdata_deepfakeanalysis_spark.catalog import table

    from .conftest import SF_DIR

    cached = table(spark, SF_DIR, "nation").cache()
    try:
        cached.count()
        plan = table(spark, SF_DIR, "nation")._jdf.queryExecution()
        assert "InMemoryRelation" in plan.withCachedData().toString()
    finally:
        cached.unpersist()


def test_table_missing_path_raises_path_not_found(spark, tmp_path):
    """A missing table raises Spark's own error, also after a schema
    for the same path was memoized and the file was then deleted."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.errors import AnalysisException

    from bigdata_deepfakeanalysis_spark.catalog import table

    with pytest.raises(AnalysisException) as missing:
        table(spark, str(tmp_path), "absent")
    assert missing.value.getCondition() == "PATH_NOT_FOUND"

    path = tmp_path / "gone.parquet"
    pq.write_table(pa.table({"a": [1]}), path)
    table(spark, str(tmp_path), "gone")
    path.unlink()
    with pytest.raises(AnalysisException) as deleted:
        table(spark, str(tmp_path), "gone")
    assert deleted.value.getCondition() == "PATH_NOT_FOUND"
