"""Self-test of the benchmark harness.

    python3 -m pytest perfbench -q

The end-to-end test runs the ``iterative_egress_sf001`` workload once,
traced, at sf0.001 (about a minute) and checks that every metric named
in BENCHMARK.json is reported with its unit and that the trace holds a
span for every layer. The other tests need no Spark.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pandas as pd
import pytest

from check import mismatch
from probes import parse_metric_value, plan_shape

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
LAYER_SPANS = {
    "setup",
    "session.boot",
    "catalog.load",
    "bucketing.stage",
    "query",
    "build",
    "optimize",
    "execute",
}


def _run(cwd: Path, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=300,
    )


def test_parse_metric_value_single_and_multi_task():
    assert parse_metric_value("147.9 KiB") == pytest.approx(147.9 * 1024 / 1e6)
    assert parse_metric_value("572 ms") == pytest.approx(0.572)
    multi = "total (min, med, max (stageId: taskId))\n1.5 MiB (0.1 MiB, ...)"
    assert parse_metric_value(multi) == pytest.approx(1.5 * 1024**2 / 1e6)
    with pytest.raises(ValueError):
        parse_metric_value("n/a")


def test_plan_shape_counts_operators():
    plan = """AdaptiveSparkPlan isFinalPlan=false
+- HashAggregate(keys=[k#1])
   +- Exchange hashpartitioning(k#1, 32), ENSURE_REQUIREMENTS
      +- BroadcastHashJoin [a#2], [b#3], Inner, BuildRight
         :- ArrowEvalPython [f(x#4)]
         :  +- InMemoryTableScan [x#4]
         +- BroadcastExchange HashedRelationBroadcastMode
            +- *(1) Generate explode(v#5)
"""
    shape = plan_shape(plan)
    assert shape["plan.exchange"] == 1
    assert shape["plan.broadcast"] == 1
    assert shape["plan.python"] == 1
    assert shape["plan.inmemory_scan"] == 1
    assert shape["plan.generate"] == 1
    assert shape["plan.expand"] == shape["plan.nested_loop"] == 0


def test_output_check_tolerates_last_ulp_only():
    a = pd.DataFrame({"n": ["NATION_12", "NATION_1"], "v": [3483747553.819, 1.0]})
    b = pd.DataFrame({"v": [1.0, 3483747553.8190002], "n": ["NATION_1", "NATION_12"]})
    assert mismatch(a, b) is None
    c = b.assign(v=[1.0, 3483747553.829])
    assert mismatch(a, c) is not None
    assert mismatch(a, b.iloc[:1]) is not None


def test_fails_without_the_engine(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(tmp_path, "--workload", "scan_shuffle_x10", "--seed", "1", "--seconds", "1")
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout


def test_traced_run_reports_every_metric_and_layer_span():
    p = _run(
        ROOT,
        "--workload", "iterative_egress_sf001",
        "--seed", "1",
        "--seconds", "1",
        "--trace", "1",
        "--sf", "0.001",
    )
    assert p.returncode == 0, p.stderr[-3000:]
    line = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert line["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert {k: v["unit"] for k, v in line["metrics"].items()} == want
    # counters this workload must move: a probe that reads nothing
    # (renamed SQL metric, empty stage store, plan-regex miss) gives 0
    for name in (
        "tasks",
        "stages",
        "build_jobs",
        "python_sent_mb",
        "python_run_s",
        "plan.python",
    ):
        assert line["metrics"][name]["value"] > 0, name

    results = ROOT / ".perfbench_work" / "results"
    result = json.loads(
        (results / "iterative_egress_sf001-seed1-trace1.json").read_text()
    )
    assert set(result["end_to_end"]) == {m["name"] for m in SPEC["end_to_end"]}
    for name in ("first_pass_jobs", "jobs_per_pass", "tasks_per_pass", "shuffle_mb_per_pass"):
        assert result["end_to_end"][name] > 0, name
    spans = json.loads(
        (results / "iterative_egress_sf001-seed1-trace1-spans.json").read_text()
    )
    assert LAYER_SPANS <= {s["name"] for s in spans["spans"]}
    assert {s["trace_id"] for s in spans["spans"]} == {spans["trace_id"]}
    assert LAYER_SPANS <= set(spans["self_time_s"])
