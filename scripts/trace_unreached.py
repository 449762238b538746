#!/usr/bin/env python3
"""List the engine code a command never runs.

Line-traces ``pii_core/`` and ``pii_spark/`` while a command runs (default:
the tier-1 suite), then prints, per module, how many executable lines never
ran and which functions were never entered. Spark's Python workers are
traced too: the tracer is a ``sitecustomize.py`` in a temporary directory
put first on ``PYTHONPATH``, which every Python process the command starts
— the pyspark daemon and the workers it forks included — imports at start.

Usage::

    python scripts/trace_unreached.py                  # tier-1
    python scripts/trace_unreached.py -- python -m pytest tests/test_spans.py

Each traced process appends the (file, line) pairs it runs to its own file
as it first runs them, so a worker killed without running its exit hooks
loses nothing. The command's exit status is printed, not acted on: a failing
test still runs the lines before it. Tracing made tier-1 take 1.7 times
as long on a 4-vCPU box. Stdlib only.
"""

from __future__ import annotations

import argparse
import ast
import os
import subprocess
import sys
import tempfile
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGES = ("pii_core", "pii_spark")
TIER1 = [sys.executable, "-m", "pytest", "tests/", "-q",
         "--continue-on-collection-errors", "-p", "no:cacheprovider"]

# Imported at start-up by every Python process that finds it first on
# PYTHONPATH. Global trace function: frames of files outside the traced
# packages get no local tracer (one cached dict lookup per call).
_SITECUSTOMIZE = '''\
import os, sys, threading

_OUT = {out!r}
_PREFIXES = {prefixes!r}
_seen = set()
_inside = {{}}
_sink = [None, None]  # (pid, file)


def _record(fn, line):
    key = (fn, line)
    if key in _seen:
        return
    _seen.add(key)
    pid = os.getpid()
    if _sink[0] != pid:  # first record, or first in a forked child
        _sink[0] = pid
        _sink[1] = open(os.path.join(_OUT, "lines-%d.tsv" % pid), "a",
                        buffering=1)
    _sink[1].write("%s\\t%d\\n" % key)


def _local(frame, event, arg):
    if event == "line":
        _record(frame.f_code.co_filename, frame.f_lineno)
    return _local


def _global(frame, event, arg):
    fn = frame.f_code.co_filename
    ours = _inside.get(fn)
    if ours is None:
        ours = _inside[fn] = os.path.abspath(fn).startswith(_PREFIXES)
    if not ours:
        return None
    _record(fn, frame.f_lineno)
    return _local


threading.settrace(_global)
sys.settrace(_global)
'''


def _code_lines(code) -> set[int]:
    lines = {ln for _s, _e, ln in code.co_lines() if ln is not None}
    for const in code.co_consts:
        if hasattr(const, "co_lines"):
            lines |= _code_lines(const)
    return lines


def _functions(tree: ast.AST):
    """(qualified name, own line numbers) per function, nested bodies
    excluded from their parent's lines."""
    out = []

    def walk(node, prefix):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef,
                                  ast.ClassDef)):
                name = f"{prefix}{child.name}"
                if not isinstance(child, ast.ClassDef):
                    own = set(range(child.body[0].lineno,
                                    child.end_lineno + 1))
                    for sub in ast.walk(child):
                        if sub is not child and isinstance(
                                sub, (ast.FunctionDef, ast.AsyncFunctionDef)):
                            own -= set(range(sub.body[0].lineno,
                                             sub.end_lineno + 1))
                    out.append((name, own))
                walk(child, name + ".")
            else:
                walk(child, prefix)

    walk(tree, "")
    return out


def _read_ran(out_dir: str) -> dict[str, set[int]]:
    ran: dict[str, set[int]] = {}
    for f in os.listdir(out_dir):
        if not f.startswith("lines-"):
            continue
        with open(os.path.join(out_dir, f)) as fh:
            for row in fh:
                fn, _, line = row.rstrip("\n").rpartition("\t")
                if line.isdigit():
                    ran.setdefault(os.path.abspath(fn), set()).add(int(line))
    return ran


def report(ran: dict[str, set[int]]) -> None:
    """Print per-module unrun line counts and never-entered functions."""
    total_exec = total_unrun = 0
    rows = []
    for pkg in PACKAGES:
        for path in sorted((ROOT / pkg).rglob("*.py")):
            src = path.read_text()
            code = compile(src, str(path), "exec")
            executable = _code_lines(code)
            hit = ran.get(str(path), set())
            unrun = executable - hit
            never = [name for name, own in _functions(ast.parse(src))
                     if own & executable and not own & hit]
            total_exec += len(executable)
            total_unrun += len(unrun)
            rows.append((len(unrun), str(path.relative_to(ROOT)),
                         len(executable), never))
    for n_unrun, rel, n_exec, never in sorted(rows, reverse=True):
        if not n_unrun:
            continue
        print(f"{rel}: {n_unrun}/{n_exec} lines unrun")
        for name in never:
            print(f"    never entered: {name}")
    print(f"total: {total_unrun}/{total_exec} executable lines unrun")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("command", nargs=argparse.REMAINDER,
                    help="command to trace, after '--' (default: tier-1)")
    args = ap.parse_args(argv)
    cmd = args.command[1:] if args.command[:1] == ["--"] else args.command
    cmd = cmd or TIER1

    with tempfile.TemporaryDirectory(prefix="trace-unreached-") as tmp:
        site_dir = os.path.join(tmp, "site")
        out_dir = os.path.join(tmp, "lines")
        os.makedirs(site_dir)
        os.makedirs(out_dir)
        prefixes = tuple(str(ROOT / p) + os.sep for p in PACKAGES)
        with open(os.path.join(site_dir, "sitecustomize.py"), "w") as f:
            f.write(_SITECUSTOMIZE.format(out=out_dir, prefixes=prefixes))
        env = dict(os.environ)
        env["PYTHONPATH"] = os.pathsep.join(
            p for p in (site_dir, env.get("PYTHONPATH")) if p)
        status = subprocess.call(cmd, cwd=ROOT, env=env)
        print(f"command exited {status}: {' '.join(cmd)}")
        report(_read_ran(out_dir))
    return 0


if __name__ == "__main__":
    sys.exit(main())
