#!/usr/bin/env python
"""Which top-level package functions does the driver process call?

Usage:
    python tools/trace_calls.py run OUT.json -m pytest tests/ -q ...
    python tools/trace_calls.py run OUT.json tools/drive_driver_contract.py
    python tools/trace_calls.py report OUT.json

``run`` executes a module (``-m name``) or a script, with its arguments,
under a ``sys.setprofile`` hook (also in threads started after it, such
as py4j callback threads) and merges into OUT.json every package
function that a frame outside ``tests/`` called, so a function only a
test calls counts as uncalled. ``report`` lists the top-level package
functions that no run recorded. Code that runs only in Python workers
(UDF bodies, DataSource readers and writers) is invisible to the hook.
"""
from __future__ import annotations

import ast
import json
import os
import pathlib
import runpy
import sys
import threading

REPO = pathlib.Path(__file__).resolve().parent.parent
PKG = REPO / "bigdata_deepfakeanalysis_spark"


def _run(out: pathlib.Path, target: list[str]) -> int:
    pkg, tests, called = f"{PKG}{os.sep}", f"{REPO / 'tests'}{os.sep}", set()

    def hook(frame, event, _arg):
        code = frame.f_code
        if event != "call" or code in called:
            return
        caller = frame.f_back
        if code.co_filename.startswith(pkg) and not (
            caller and caller.f_code.co_filename.startswith(tests)
        ):
            called.add(code)

    sys.path.insert(0, str(REPO))
    threading.setprofile(hook)
    sys.setprofile(hook)
    try:
        if target[0] == "-m":
            sys.argv = target[1:]
            runpy.run_module(target[1], run_name="__main__", alter_sys=True)
        else:
            sys.argv = target
            runpy.run_path(target[0], run_name="__main__")
        status = 0
    except SystemExit as e:
        status = e.code if isinstance(e.code, int) else 1
    finally:
        sys.setprofile(None)
        threading.setprofile(None)
    seen = set(json.loads(out.read_text())) if out.exists() else set()
    seen |= {
        f"{pathlib.Path(c.co_filename).relative_to(REPO)}:{c.co_qualname}"
        for c in called
    }
    out.write_text(json.dumps(sorted(seen), indent=0))
    return status


def _report(out: pathlib.Path) -> int:
    seen = set(json.loads(out.read_text()))
    defs = [
        f"{path.relative_to(REPO)}:{node.name}"
        for path in sorted(PKG.rglob("*.py"))
        for node in ast.parse(path.read_text()).body
        if isinstance(node, ast.FunctionDef)
    ]
    uncalled = [d for d in defs if d not in seen]
    print(f"{len(defs)} top-level package functions, {len(uncalled)} uncalled")
    print("\n".join(uncalled))
    return 0


if __name__ == "__main__":
    cmd, out = sys.argv[1], pathlib.Path(sys.argv[2])
    sys.exit(_run(out, sys.argv[3:]) if cmd == "run" else _report(out))
