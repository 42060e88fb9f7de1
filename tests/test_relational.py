"""Phase-1 relational core: every registered query with an oracle is
hash-compared against DuckDB at sf0.01 — the same check the driver runs."""

from __future__ import annotations

import pytest

from bigdata_deepfakeanalysis_spark.registry import all_oracles, all_queries

from .conftest import SF_DIR, jobs_of


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

    table(spark, SF_DIR, "lineitem")
    assert jobs_of(spark, lambda: table(spark, SF_DIR, "lineitem")) == 0


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


@pytest.mark.parametrize("name", ["q1_pricing_summary", "q_pandas_scalar_udf"])
def test_bounded_final_sort_runs_two_jobs(spark, name):
    """A sort_bounded query runs its aggregation map job and its result
    job only: no RangePartitioner sampling job, no range-shuffle map
    job (a plain global orderBy runs 4). Jobs are counted by job-id
    window around the noop write, after the plan is built."""
    df = all_queries()[name](spark, SF_DIR)
    write = df.write.format("noop").mode("overwrite")
    assert jobs_of(spark, write.save) == 2


def test_order_free_result_runs_no_range_sort_jobs(spark):
    """q_window_topk_per_group returns its top-k rows unsorted: the noop
    write runs its customer broadcast job, its orders shuffle map job
    and its result job, and no RangePartitioner sampling job or
    range-shuffle map job (a root orderBy runs 5). Jobs are counted by
    job-id window around the noop write, after the plan is built."""
    df = all_queries()["q_window_topk_per_group"](spark, SF_DIR)
    write = df.write.format("noop").mode("overwrite")
    assert jobs_of(spark, write.save) == 3
