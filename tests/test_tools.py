"""The timing harness and the tools built on it: every tool module
imports cleanly (all are ``__main__``-guarded, so an import runs no
work but catches a dangling reference to a deleted helper), and
``bench.time_query`` returns one positive wall time per run."""

from __future__ import annotations

import ast
import importlib
import pathlib

import pytest

from .conftest import SF_SMALL

REPO = pathlib.Path(__file__).resolve().parent.parent
TOOLS = sorted(p.stem for p in (REPO / "tools").glob("*.py"))


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


# A defaulted parameter earns its place with two production call sites
# that pass different values; a setting with one production value is a
# module constant, which a test that needs another value patches. These
# keep a single value on purpose.
SINGLE_VALUE_ALLOWED = {
    ("foreach_batch_jdbc_sink", "_test_crash"): (
        "fault-injection seam: the crash-atomicity test raises inside the"
        " pointer transaction"
    ),
    ("foreach_batch_jdbc_sink", "_test_pick"): (
        "fault-injection seam: the concurrent-attempt test holds each"
        " attempt after it picked its version"
    ),
    ("make_pyavro_datasource", "spark"): (
        "pyavro pushdown wiring: the session whose filterPushdown conf is"
        " read when the class is built"
    ),
    ("make_pyavro_datasource", "warn"): (
        "pyavro pushdown wiring: the differential test registers its"
        " no-pushdown reference arm without the order warning"
    ),
}

_FUNCS = (ast.FunctionDef, ast.AsyncFunctionDef)


def _defaults(fn) -> dict:
    a = fn.args
    pos = a.posonlyargs + a.args
    tail = pos[len(pos) - len(a.defaults):]
    out = dict(zip((x.arg for x in tail), a.defaults))
    out.update(
        (x.arg, d) for x, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None
    )
    return out


def single_value_parameters(repo: pathlib.Path) -> dict:
    """``{(function, parameter): value}`` for every defaulted parameter
    of a top-level function in the package that all its call sites in
    the package, ``bench.py``, ``tools/`` and ``__spark_entry__.py``
    give one and the same value (an omitted argument gives the
    default). A bare name forwarded from the calling function's own
    defaulted parameter stands for that parameter's values; a call
    through ``*args`` or ``**kwargs`` disqualifies the function; a
    function nothing calls is not counted."""
    pkg = sorted((repo / "bigdata_deepfakeanalysis_spark").rglob("*.py"))
    callers = pkg + [repo / "bench.py", repo / "__spark_entry__.py"]
    callers += sorted((repo / "tools").glob("*.py"))
    trees = {p: ast.parse(p.read_text()) for p in callers}
    defs: dict[str, list] = {}
    for p in pkg:
        for node in trees[p].body:
            if isinstance(node, _FUNCS):
                defs.setdefault(node.name, []).append(node)

    sites: dict = {}  # function -> [(call, enclosing top-level function)]
    starred = set()
    for tree in trees.values():
        own = {n.name: n for n in tree.body if isinstance(n, _FUNCS)}
        imported = {
            a.asname or a.name.split(".")[0]
            for n in ast.walk(tree)
            if isinstance(n, (ast.Import, ast.ImportFrom))
            for a in n.names
        }
        for top in tree.body:
            enclosing = top if isinstance(top, _FUNCS) else None
            for call in ast.walk(top):
                if not isinstance(call, ast.Call):
                    continue
                f = call.func
                if isinstance(f, ast.Name):
                    name = f.id
                elif isinstance(f, ast.Attribute) and getattr(
                    f.value, "id", None
                ) in imported:
                    name = f.attr
                else:
                    continue
                targets = (
                    [own[name]]
                    if name in own and own[name] in defs.get(name, [])
                    else defs.get(name, [])
                )
                through_star = any(
                    isinstance(a, ast.Starred) for a in call.args
                ) or any(k.arg is None for k in call.keywords)
                for fn in targets:
                    sites.setdefault(fn, []).append((call, enclosing))
                    if through_star:
                        starred.add(fn)

    def values(fn, param, seen=frozenset()) -> set:
        if (fn, param) in seen:
            return set()
        pos = [x.arg for x in fn.args.posonlyargs + fn.args.args]
        out = set()
        for call, enclosing in sites.get(fn, []):
            given = {k.arg: k.value for k in call.keywords}
            if param in given:
                expr = given[param]
            elif param in pos and pos.index(param) < len(call.args):
                expr = call.args[pos.index(param)]
            else:
                expr = _defaults(fn)[param]
            if (
                isinstance(expr, ast.Name)
                and enclosing is not None
                and enclosing in defs.get(enclosing.name, [])
                and expr.id in _defaults(enclosing)
            ):
                if enclosing in starred:
                    out.add(object())  # unknown: differs from any value
                else:
                    out |= values(enclosing, expr.id, seen | {(fn, param)})
            else:
                out.add(ast.unparse(expr))
        return out

    found = {}
    for fns in defs.values():
        for fn in fns:
            if fn not in sites or fn in starred:
                continue
            for param in _defaults(fn):
                vals = values(fn, param)
                if len(vals) == 1:
                    found[(fn.name, param)] = vals.pop()
    return found


def test_no_single_value_parameters():
    """Every defaulted package parameter has two production call sites
    that pass different values, bar the allowlisted ones; a stale
    allowlist entry fails too."""
    found = single_value_parameters(REPO)
    single = sorted(
        f"{fn}({param}) is always {value}"
        for (fn, param), value in found.items()
        if (fn, param) not in SINGLE_VALUE_ALLOWED
    )
    assert not single, single
    stale = sorted(set(SINGLE_VALUE_ALLOWED) - set(found))
    assert not stale, stale
