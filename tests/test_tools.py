"""The timing harness and the tools built on it: every tool module
imports cleanly (all are ``__main__``-guarded, so an import runs no
work but catches a dangling reference to a deleted helper), and
``bench.time_query`` returns one positive wall time per run."""

from __future__ import annotations

import importlib
import pathlib

import pytest

from .conftest import SF_SMALL

TOOLS = sorted(
    p.stem
    for p in (pathlib.Path(__file__).resolve().parent.parent / "tools").glob(
        "*.py"
    )
)


@pytest.mark.parametrize("module", ["bench"] + [f"tools.{m}" for m in TOOLS])
def test_tool_module_imports(module):
    importlib.import_module(module)


def test_time_query_returns_one_positive_time_per_run(spark):
    from bench import time_query
    from bigdata_deepfakeanalysis_spark.registry import all_queries

    build = all_queries()["q_filter_project"]
    secs = time_query(lambda: build(spark, SF_SMALL), 2)
    assert len(secs) == 2
    assert all(isinstance(s, float) and s > 0 for s in secs)
