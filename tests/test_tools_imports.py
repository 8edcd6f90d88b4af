"""Every name the scripts in tools/ import from the package must exist.

The tools import private helpers (``_band_frame``, ``_minhash_columns``,
...) and many of those imports sit inside functions that only run under a
specific probe, so a renamed helper would otherwise surface as an
ImportError minutes into a long sweep. This check parses each script,
collects every ``from mapreduce_framework_spark... import X`` at any
depth, and resolves the names by importing the modules — no Spark session
starts.
"""

from __future__ import annotations

import ast
import glob
import importlib
import os

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TOOLS = sorted(glob.glob(os.path.join(REPO, "tools", "*.py")))


def _package_imports(path: str) -> list[tuple[int, str, str]]:
    """(line, module, name) for every package ImportFrom in the file."""
    with open(path, encoding="utf-8") as f:
        tree = ast.parse(f.read(), filename=path)
    return [
        (node.lineno, node.module, alias.name)
        for node in ast.walk(tree)
        if isinstance(node, ast.ImportFrom)
        and node.level == 0
        and (node.module or "").split(".")[0] == "mapreduce_framework_spark"
        for alias in node.names
    ]


def _resolves(module: str, name: str) -> bool:
    mod = importlib.import_module(module)
    if hasattr(mod, name):
        return True
    try:  # ``from package import submodule``
        importlib.import_module(f"{module}.{name}")
    except ModuleNotFoundError:
        return False
    return True


def test_tools_are_found():
    assert any(p.endswith("scaling_probe.py") for p in TOOLS)
    assert sum(len(_package_imports(p)) for p in TOOLS) > 0


@pytest.mark.parametrize("path", TOOLS, ids=os.path.basename)
def test_tool_package_imports_resolve(path):
    missing = [
        f"{os.path.basename(path)}:{line}: from {module} import {name}"
        for line, module, name in _package_imports(path)
        if not _resolves(module, name)
    ]
    assert not missing, "unresolved package imports:\n" + "\n".join(missing)
