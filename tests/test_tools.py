"""The tools/ scripts: each imports the checkout it lives in, and every
tools/scalecheck.py spec still runs and passes its exactness check."""

from __future__ import annotations

import ast
import glob
import importlib.util
import os
import sys

import pytest

from tests.conftest import SF_SMOKE

TOOLS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")


def _literal_paths(node) -> list[str]:
    """The absolute-path string literals in a sys.path call argument."""
    elts = node.elts if isinstance(node, (ast.List, ast.Tuple)) else [node]
    return [
        e.value for e in elts
        if isinstance(e, ast.Constant) and isinstance(e.value, str) and e.value.startswith("/")
    ]


def test_no_tool_puts_a_fixed_path_on_sys_path():
    """A tool that puts a literal absolute path on sys.path imports that
    fixed checkout's package, so run from a second checkout it measures
    the wrong code; tools derive the root from ``__file__``."""
    offenders = []
    for path in sorted(glob.glob(os.path.join(TOOLS, "*.py"))):
        for node in ast.walk(ast.parse(open(path).read(), path)):
            func = getattr(node, "func", None)
            target = getattr(func, "value", None)
            if (
                isinstance(node, ast.Call)
                and getattr(func, "attr", None) in ("insert", "append", "extend")
                and getattr(target, "attr", None) == "path"
                and getattr(target.value, "id", None) == "sys"
            ):
                for arg in node.args:
                    for lit in _literal_paths(arg):
                        offenders.append(f"{os.path.basename(path)}:{node.lineno} {lit}")
    assert offenders == []


def _scalecheck():
    name = "tools_scalecheck"
    if name not in sys.modules:
        spec = importlib.util.spec_from_file_location(name, os.path.join(TOOLS, "scalecheck.py"))
        module = importlib.util.module_from_spec(spec)
        sys.modules[name] = module  # dataclasses resolve their module by name
        spec.loader.exec_module(module)
    return sys.modules[name]


@pytest.mark.parametrize("name", list(_scalecheck().SPECS))
def test_scalecheck_spec_runs_exact_at_factor_1(spark, name, tmp_path):
    """Every scale spec builds its factor-1 corpus from the smoke fixture,
    makes its package calls and passes its exactness check, so deleting
    an operator a spec calls fails here, not in the next scale run."""
    (row,) = _scalecheck().run_spec(spark, name, [1], sf_dir=SF_SMOKE, scratch=str(tmp_path))
    assert (row["spec"], row["factor"]) == (name, 1)
