"""The traced benchmark run wraps engine functions by name: perfbench
patches attributes of ``pii_core.pipeline`` (the in-UDF layers) and of
``pii_spark.resume`` (the increment's driver-side steps). A name that
stops existing there breaks the traced run only when it runs, so this
reads both name tables from perfbench's source and checks each name is
still an attribute of its module."""

import ast
import importlib
from pathlib import Path

import pytest

WORKLOADS = Path(__file__).resolve().parents[1] / "perfbench" / "workloads.py"


def _tree() -> ast.Module:
    return ast.parse(WORKLOADS.read_text(encoding="utf-8"))


def _dict_keys(node: ast.Dict) -> list[str]:
    keys = [k.value for k in node.keys if isinstance(k, ast.Constant)]
    assert keys and len(keys) == len(node.keys)
    return keys


def _inudf_names() -> list[str]:
    for node in _tree().body:
        if (isinstance(node, ast.Assign)
                and any(isinstance(t, ast.Name) and t.id == "_INUDF_NAMES"
                        for t in node.targets)):
            return _dict_keys(node.value)
    raise AssertionError("_INUDF_NAMES not found in perfbench/workloads.py")


def _resume_traced_names() -> list[str]:
    for cls in _tree().body:
        if isinstance(cls, ast.ClassDef) and cls.name == "ResumeIncrement":
            for fn in cls.body:
                if isinstance(fn, ast.FunctionDef) and fn.name == "traced_rep":
                    for node in ast.walk(fn):
                        if (isinstance(node, ast.Assign)
                                and any(isinstance(t, ast.Name)
                                        and t.id == "make"
                                        for t in node.targets)):
                            return _dict_keys(node.value)
    raise AssertionError(
        "ResumeIncrement.traced_rep's make dict not found in "
        "perfbench/workloads.py")


@pytest.mark.parametrize("module, names", [
    ("pii_core.pipeline", _inudf_names()),
    ("pii_spark.resume", _resume_traced_names()),
])
def test_traced_names_exist(module, names):
    mod = importlib.import_module(module)
    missing = [n for n in names if not hasattr(mod, n)]
    assert not missing, f"{module} lacks {missing}, which perfbench wraps"
