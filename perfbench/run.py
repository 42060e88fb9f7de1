#!/usr/bin/env python3
"""Engine benchmark: closed-loop query workloads, one client.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Each run:

1. takes the workload's input tables from the fixture tables in
   ``perfbench/data``: as they are, or as seeded, key-shifted copies
   (``gen.py``, in a child process, cached per seed under
   ``.perfbench_work/inputs``; excluded from every metric);
2. sets up ``SETUP_REPS`` times — session boot, table load (and cache),
   bucketed staging — and keeps the last session;
3. runs the first pass: each query's first run in the session, its
   result collected to the driver;
4. runs measured passes until ``--seconds`` have elapsed. A pass runs
   every workload query once, in an order shuffled from the seed; each
   query starts after the previous one finished;
5. checks every result of the first pass against its DuckDB oracle
   (untimed).

The engine runs at ``local[N]`` with N half the usable cores (see
``engine_cores``). Every pass records the Spark work it caused (jobs,
stages, tasks, shuffle and input volume, from the status stores) and
its wall time. The end-to-end metrics are set-up time, peak memory and
that work; pass and query wall times are per-layer metrics (see
NOTES.md for why).

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``). A readable summary goes to
stderr; the full result and, when traced, the spans are written under
``.perfbench_work/results``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import platform
import random
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench_work"
DATA = HERE / "data"
ENGINE = "bigdata_deepfakeanalysis_spark"

SETUP_REPS = 3
MIN_PASSES = 2
QUERY_TIMEOUT_S = 60.0
KEEP_INPUTS = 4

# name -> queries, input (scale factor, copies), cache inputs in memory
WORKLOADS = {
    "scan_shuffle_x10": {
        "queries": [
            "q1_pricing_summary",
            "q3_top_orders",
            "q5_regional_revenue",
            "q_window_topk_per_group",
        ],
        "sf": 0.01,
        "copies": 10,
        "cache": False,
    },
    "iterative_egress_sf001": {
        "queries": [
            "q_dedup_components",
            "q_pandas_scalar_udf",
            "q_stream_jdbc_exactly_once",
        ],
        "sf": 0.01,
        "copies": 1,
        "cache": True,
    },
}

END_TO_END = {
    "setup_s": "s",
    "first_pass_jobs": "count",
    "jobs_per_pass": "count",
    "tasks_per_pass": "count",
    "shuffle_mb_per_pass": "MB",
    "peak_rss_mb": "MB",
}
SETUP_LAYERS = ("session.boot_s", "catalog.load_s", "bucketing.stage_s")
QUERY_COUNTERS = (
    "build_jobs",
    "optimize_s",
    "execute_s",
    "exec_jobs",
    "stages",
    "stages_skipped",
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "jvm_gc_s",
    "shuffle_write_mb",
    "shuffle_read_mb",
    "spill_mb",
    "input_mb",
    "input_rows",
    "python_sent_mb",
    "python_returned_mb",
    "python_run_s",
    "python_init_s",
    "sql_executions",
)


def build_modules(registry) -> list[str]:
    """The query modules of every workload, so each traced run reports
    the same ``build_s.<module>`` names (0 where a workload has none)."""
    return sorted(
        {registry[q].__module__.rsplit(".", 1)[-1] for wl in WORKLOADS.values()
         for q in wl["queries"]}
    )


def per_layer_units(modules: list[str]) -> dict[str, str]:
    from probes import PLAN_COUNTERS

    names = (
        list(SETUP_LAYERS)
        + [f"build_s.{m}" for m in modules]
        + list(QUERY_COUNTERS)
        + ["task_busy_frac", "first_pass_s", "pass_s", "query_p50_s", "traced_pass_s",
           "trace_overhead_frac"]
        + list(PLAN_COUNTERS)
    )
    suffix_unit = {"s": "s", "mb": "MB", "frac": "fraction", "rows": "rows"}
    return {
        n: "s" if n.startswith("build_s.") else suffix_unit.get(n.rsplit("_", 1)[-1], "count")
        for n in names
    }


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def engine_cores(cpus: int) -> int:
    """Task threads for ``local[N]``: half the usable cores. The JVM's
    compiler and collector threads, the Python workers and the driver
    thread run beside the task threads, and on a shared host a task
    thread whose core is taken by a neighbour stalls its whole stage."""
    return max(1, cpus // 2)


def host_mem_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_mem_mb(mem_mb: int) -> int:
    # a quarter of the host in 256 MB steps, at most 2 GB: the inputs
    # are tens of MB and the host is shared
    return min(2048, max(512, mem_mb // 4 // 256 * 256))


def cpu_ticks() -> tuple[int, int]:
    """Busy and steal clock ticks of the whole machine (/proc/stat)."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal
    return v[0] + v[1] + v[2] + v[5] + v[6], v[7]


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"VmHWM missing for pid {pid}")


def configure_env(run_dir: Path, cores: int, heap_mb: int) -> None:
    """Deployment settings for the engine, set before the JVM starts:
    host-sized cores and heap, and every file Spark, Derby and Python
    write kept inside this run's directory."""
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)
    # every JVM, the spark-submit launcher included: no /tmp/hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{heap_mb}m"
    # -Xms = -Xmx: a heap committed up front makes peak RSS depend on
    # the work, not on when the collector chose to grow the heap
    java_opts = f"-Xms{heap_mb}m -Dderby.system.home={run_dir / 'derby'}"
    confs = {
        "spark.local.dir": str(run_dir / "spark-local"),
        "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
        "spark.driver.extraJavaOptions": java_opts,
        "spark.ui.showConsoleProgress": "false",
        # keep every job, stage and SQL execution of a run in the
        # status stores that the traced run reads
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
    }
    args = " ".join(f"--conf '{k}={v}'" for k, v in confs.items())
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"{args} pyspark-shell"


def prepare_inputs(wl: dict, seed: int) -> Path:
    src = DATA / f"sf{wl['sf']}"
    if wl["copies"] == 1:
        return src
    inputs = WORK / "inputs"
    out = inputs / f"sf{wl['sf']}x{wl['copies']}_seed{seed}"
    # a child process, so the generator's memory stays out of peak_rss_mb
    subprocess.run(
        [sys.executable, str(HERE / "gen.py"), str(src), str(out), str(seed),
         str(wl["copies"])],
        check=True,
    )
    os.utime(out)
    kept = sorted(inputs.iterdir(), key=lambda p: p.stat().st_mtime, reverse=True)
    for old in kept[KEEP_INPUTS:]:
        shutil.rmtree(old, ignore_errors=True)
    return out


class Bench:
    def __init__(self, args, wl: dict, sf_dir: Path, run_dir: Path):
        self.args = args
        self.wl = wl
        self.sf_dir = sf_dir
        self.run_dir = run_dir
        self.cpus = host_cpus()
        self.cores = engine_cores(self.cpus)
        from probes import Tracer

        self.tracer = Tracer(bool(args.trace), run_dir.name)
        self.no_trace = Tracer(False, run_dir.name)
        self.spark = None
        self.counters = None
        self.errors: list[str] = []
        self.attempted = 0
        self.modules: list[str] = []

    # -- setup ---------------------------------------------------------
    def setup_once(self, rep: int) -> dict[str, float]:
        from bigdata_deepfakeanalysis_spark import catalog, session
        from bigdata_deepfakeanalysis_spark.operators import bucketing

        # fresh staging root per setup: bucketed tables, sink outputs,
        # Derby stores and stream checkpoints never carry over
        os.environ["SPARK_GRAFT_STAGING_DIR"] = str(self.run_dir / f"stage{rep}")
        if self.spark is not None:
            self.spark.stop()
        sf = str(self.sf_dir)
        with self.tracer.span("setup", rep=rep):
            t0 = time.perf_counter()
            with self.tracer.span("session.boot"):
                self.spark = session.get_spark("perfbench")
            t1 = time.perf_counter()
            with self.tracer.span("catalog.load"):
                for t in catalog.TABLES:
                    df = catalog.table(self.spark, sf, t)
                    if self.wl["cache"]:
                        df.cache().count()
            t2 = time.perf_counter()
            with self.tracer.span("bucketing.stage"):
                bucketing.stage_bucketed(self.spark, sf)
            t3 = time.perf_counter()
        return {
            "session.boot_s": t1 - t0,
            "catalog.load_s": t2 - t1,
            "bucketing.stage_s": t3 - t2,
            "setup_s": t3 - t0,
        }

    # -- one query -----------------------------------------------------
    def run_query(self, name: str, fn, traced: bool, outputs=None) -> tuple[float, dict]:
        """Build, optimize and execute one query; returns its wall time
        and, when traced, its counters. The result goes to the noop
        sink, or with ``outputs`` to the driver (``toPandas``), kept
        there under the query's name for the output check."""
        from probes import plan_shape

        tracer = self.tracer if traced else self.no_trace
        c: dict[str, float] = {}
        self.attempted += 1
        timer = threading.Timer(QUERY_TIMEOUT_S, self.spark.sparkContext.cancelAllJobs)
        timer.start()
        try:
            with tracer.span("query", query=name) as q:
                m0 = self.counters.mark() if traced else None
                t0 = time.perf_counter()
                with tracer.span("build"):
                    df = fn(self.spark, str(self.sf_dir))
                m1 = self.counters.mark() if traced else None
                t1 = time.perf_counter()
                with tracer.span("optimize"):
                    plan = df._jdf.queryExecution().executedPlan()
                t2 = time.perf_counter()
                with tracer.span("execute"):
                    if outputs is None:
                        df.write.format("noop").mode("overwrite").save()
                    else:
                        outputs[name] = df.toPandas()
                t3 = time.perf_counter()
                if traced:
                    # stages, tasks and task metrics count the whole
                    # query, eager build-time jobs included
                    c = self.counters.since(m0)
                    c["build_jobs"] = m1[0] - m0[0]
                    c["exec_jobs"] = c.pop("jobs") - c["build_jobs"]
                    c["build_s"] = t1 - t0
                    c["optimize_s"] = t2 - t1
                    c["execute_s"] = t3 - t2
                    c.update(plan_shape(plan.toString()))
                    q.attrs.update({k: round(v, 6) for k, v in c.items()})
            return t3 - t0, c
        except Exception as e:  # noqa: BLE001 - a failed query is counted, not fatal
            self.errors.append(f"{name}: {type(e).__name__}: {str(e)[:300]}")
            return float("nan"), {}
        finally:
            timer.cancel()

    def run_pass(self, queries, order, traced: bool, outputs=None) -> dict:
        m0 = self.counters.mark()
        busy0, steal0 = cpu_ticks()
        t0 = time.perf_counter()
        lat, counters = {}, []
        for name in order:
            lat[name], c = self.run_query(name, queries[name], traced, outputs)
            if c:
                c["module"] = queries[name].__module__.rsplit(".", 1)[-1]
                counters.append(c)
        wall = time.perf_counter() - t0
        busy1, steal1 = cpu_ticks()
        hz = os.sysconf("SC_CLK_TCK")
        return {"wall_s": wall, "latency_s": lat, "work": self.counters.since(m0),
                "counters": counters, "busy_cpu_s": (busy1 - busy0) / hz,
                "steal_cpu_s": (steal1 - steal0) / hz}

    # -- output check --------------------------------------------------
    def check_outputs(self, outputs, oracles) -> list[str]:
        """Compare each collected result with its DuckDB oracle; a query
        that raised has no result and is already counted as failed."""
        from check import mismatch, oracle_connection
        from bigdata_deepfakeanalysis_spark.catalog import TABLES

        bad = []
        con = oracle_connection(self.sf_dir, TABLES)
        try:
            for name, got in outputs.items():
                self.attempted += 1
                try:
                    why = mismatch(got, con.execute(oracles[name]).fetch_df())
                except Exception as e:  # noqa: BLE001 - counted as a failed check
                    why = f"{type(e).__name__}: {str(e)[:300]}"
                if why:
                    bad.append(f"{name}: {why}")
        finally:
            con.close()
        return bad

    # -- the run -------------------------------------------------------
    def run(self) -> dict:
        from bigdata_deepfakeanalysis_spark.registry import all_oracles, all_queries
        from probes import Counters

        registry, oracle_sql = all_queries(), all_oracles()
        names = self.wl["queries"]
        queries = {n: registry[n] for n in names}
        rng = random.Random(self.args.seed)

        def order():
            o = list(names)
            rng.shuffle(o)
            return o

        t0 = time.perf_counter()
        setups = [self.setup_once(rep) for rep in range(SETUP_REPS)]
        self.spark.sparkContext.setLogLevel("ERROR")
        self.counters = Counters(self.spark)
        t1 = time.perf_counter()
        # each query's first run in the session: the JIT and the
        # engine's per-session caches fill here; its results, collected
        # to the driver, are what the output check compares
        outputs: dict = {}
        first = self.run_pass(queries, order(), traced=False, outputs=outputs)
        t2 = time.perf_counter()
        passes, untraced = [], []
        t_end = time.perf_counter() + self.args.seconds
        while time.perf_counter() < t_end or len(passes) + len(untraced) < MIN_PASSES:
            # a traced run alternates traced and untraced passes: the
            # untraced ones give the tracing overhead on the same JVM
            traced = bool(self.args.trace) and len(untraced) >= len(passes)
            p = self.run_pass(queries, order(), traced)
            (passes if traced or not self.args.trace else untraced).append(p)
        # read before the output check, whose oracle queries are not
        # the engine's work
        jvm_pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        peak_rss = sum(vm_hwm_mb(p) for p in (os.getpid(), jvm_pid))
        t3 = time.perf_counter()
        failed_checks = self.check_outputs(outputs, oracle_sql)
        self.modules = build_modules(registry)
        phases = {"setups": t1 - t0, "first_pass": t2 - t1, "passes": t3 - t2,
                  "check": time.perf_counter() - t3}
        return self.summarize(setups, first, passes, untraced, peak_rss, failed_checks,
                              phases)

    def summarize(self, setups, first, passes, untraced, peak_rss, failed_checks, phases):
        timed = untraced if self.args.trace else passes
        lat = [v for p in timed for v in p["latency_s"].values() if not math.isnan(v)]
        # the fastest of the measured passes, and each query's fastest
        # run: passes still speed up as the JIT warms, and on a shared
        # host a slower run of the same work measures the neighbours
        per_query = []
        for name in self.wl["queries"]:
            ok = [p["latency_s"][name] for p in timed]
            ok = [v for v in ok if not math.isnan(v)]
            if ok:
                per_query.append(min(ok))
        latency = {
            "first_pass_s": first["wall_s"],
            "pass_s": min(p["wall_s"] for p in timed),
            "query_p50_s": statistics.median(per_query) if per_query else float("nan"),
        }
        failed = len(self.errors) + len(failed_checks)
        work = [p["work"] for p in passes + untraced]
        e2e = {
            "setup_s": statistics.median(s["setup_s"] for s in setups),
            "first_pass_jobs": first["work"]["jobs"],
            "jobs_per_pass": statistics.median(w["jobs"] for w in work),
            "tasks_per_pass": statistics.median(w["tasks"] for w in work),
            "shuffle_mb_per_pass": statistics.median(w["shuffle_write_mb"] for w in work),
            "peak_rss_mb": peak_rss,
        }
        result = {
            "workload": self.args.workload,
            "seed": self.args.seed,
            "trace": self.args.trace,
            "host": host_info(self.cpus, self.cores),
            "queries": self.wl["queries"],
            "input": {"sf": self.wl["sf"], "copies": self.wl["copies"],
                      "cached": self.wl["cache"]},
            "samples": {
                "setups": len(setups),
                "passes": len(passes) + len(untraced),
                "timed_passes": len(timed),
                "query_latencies": len(lat),
            },
            "failed_frac": failed / self.attempted,
            "attempted": self.attempted,
            "failed": failed,
            "errors": self.errors + failed_checks,
            "setups": setups,
            "first_pass": first,
            "passes": passes,
            "end_to_end": e2e,
            "latency": latency,
            "phases_s": phases,
        }
        if self.args.trace:
            result["per_layer"] = per_layer(
                setups, passes, untraced, self.cores, self.modules
            ) | latency
            result["untraced_passes"] = untraced
        return result


def per_layer(setups, passes, untraced, cores, modules) -> dict[str, float]:
    """Median over traced passes of per-pass sums; setup layers as the
    median over setups."""
    from probes import PLAN_COUNTERS

    out = {k: statistics.median(s[k] for s in setups) for k in SETUP_LAYERS}
    summed = list(QUERY_COUNTERS) + list(PLAN_COUNTERS)
    sums = []
    for p in passes:
        s = dict.fromkeys([f"build_s.{m}" for m in modules] + summed, 0.0)
        for c in p["counters"]:
            s[f"build_s.{c['module']}"] += c["build_s"]
            for k in summed:
                s[k] += c[k]
        s["task_busy_frac"] = s["executor_run_s"] / (cores * p["wall_s"])
        sums.append(s)
    for k in sums[0]:
        out[k] = statistics.median(s[k] for s in sums)
    traced = statistics.median(p["wall_s"] for p in passes)
    out["traced_pass_s"] = traced
    out["trace_overhead_frac"] = traced / statistics.median(p["wall_s"] for p in untraced) - 1
    return out


def host_info(cpus: int, cores: int) -> dict:
    import pyspark

    return {
        "cpus": cpus,
        "engine_cores": cores,
        "host_mem_mb": host_mem_mb(),
        "driver_heap": os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "machine": platform.machine(),
    }


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)
    to exit."""
    if spark is None:
        return
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def report(result: dict, units: dict[str, str], metrics: dict[str, float]) -> str:
    lines = [f"workload {result['workload']} seed {result['seed']} "
             f"trace {result['trace']} host {result['host']}"]
    for k, v in metrics.items():
        lines.append(f"  {k:<24} {v:>14.6f} {units[k]}")
    lines.append(f"  {'failed_frac':<24} {result['failed_frac']:>14.6f} fraction "
                 f"({result['failed']}/{result['attempted']})")
    lines.append(f"  samples {result['samples']}")
    for e in result["errors"]:
        lines.append(f"  ERROR {e}")
    return "\n".join(lines)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--sf", type=float, help="override the base scale factor (self-test)"
    )
    args = ap.parse_args(argv)

    if not (ROOT / ENGINE / "registry.py").is_file():
        print(f"engine package {ENGINE}/ not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    sys.path.insert(0, str(HERE))

    run_dir = WORK / "runs" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    configure_env(run_dir, engine_cores(host_cpus()), driver_mem_mb(host_mem_mb()))
    wl = dict(WORKLOADS[args.workload])
    if args.sf is not None:
        wl["sf"] = args.sf
    sf_dir = prepare_inputs(wl, args.seed)

    bench = Bench(args, wl, sf_dir, run_dir)
    try:
        result = bench.run()
    finally:
        stop_spark(bench.spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    results = WORK / "results"
    results.mkdir(parents=True, exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    if args.trace:
        units = per_layer_units(bench.modules)
        metrics = result["per_layer"]
        (results / f"{stem}-spans.json").write_text(json.dumps(bench.tracer.dump()))
    else:
        units = END_TO_END
        metrics = result["end_to_end"]
    (results / f"{stem}.json").write_text(json.dumps(result, indent=1, default=str))
    print(report(result, units, metrics), file=sys.stderr)
    line = {
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }
    sys.stdout.flush()
    print(json.dumps(line), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
