"""Every name the scripts outside the package import from it must exist.

The tools import private helpers (``_band_frame``, ``_minhash_columns``,
...) and many of those imports sit inside functions that only run under a
specific probe, so a renamed helper would otherwise surface as an
ImportError minutes into a long sweep. The benchmark scripts (``bench.py``,
``perfbench/``) and the entry module (``__spark_entry__.py``) are the
package's outside contract the same way, and so is every lazy export of
``mapreduce_framework_spark/__init__.py``. This check parses each script,
collects every ``import mapreduce_framework_spark...`` and ``from
mapreduce_framework_spark... import X`` at any depth, and resolves the
names by importing the modules — no Spark session starts.
"""

from __future__ import annotations

import ast
import glob
import importlib
import os

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TOOLS = sorted(glob.glob(os.path.join(REPO, "tools", "*.py")))
SCRIPTS = [os.path.join(REPO, "bench.py"), os.path.join(REPO, "__spark_entry__.py")]
SCRIPTS += sorted(glob.glob(os.path.join(REPO, "perfbench", "*.py")))


def _is_package(module: str | None) -> bool:
    return (module or "").split(".")[0] == "mapreduce_framework_spark"


def _package_imports(path: str) -> list[tuple[int, str, str | None]]:
    """(line, module, name) for every package import in the file; ``name``
    is None for a plain ``import module``."""
    with open(path, encoding="utf-8") as f:
        tree = ast.parse(f.read(), filename=path)
    out = []
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.level == 0 and _is_package(node.module):
            out += [(node.lineno, node.module, alias.name) for alias in node.names]
        elif isinstance(node, ast.Import):
            out += [(node.lineno, a.name, None) for a in node.names if _is_package(a.name)]
    return out


def _resolves(module: str, name: str | None) -> bool:
    try:
        mod = importlib.import_module(module)
    except ModuleNotFoundError:
        return False
    if name is None or hasattr(mod, name):
        return True
    try:  # ``from package import submodule``
        importlib.import_module(f"{module}.{name}")
    except ModuleNotFoundError:
        return False
    return True


def test_tools_are_found():
    assert any(p.endswith("scaling_probe.py") for p in TOOLS)
    assert sum(len(_package_imports(p)) for p in TOOLS) > 0


@pytest.mark.parametrize(
    "path", TOOLS + SCRIPTS, ids=lambda p: os.path.relpath(p, REPO).removeprefix("tools/")
)
def test_tool_package_imports_resolve(path):
    missing = [
        f"{os.path.relpath(path, REPO)}:{line}: {module} {name or ''}"
        for line, module, name in _package_imports(path)
        if not _resolves(module, name)
    ]
    assert not missing, "unresolved package imports:\n" + "\n".join(missing)


def test_package_lazy_exports_resolve():
    import mapreduce_framework_spark as pkg

    with open(pkg.__file__, encoding="utf-8") as f:
        tree = ast.parse(f.read())
    exports = next(
        node.value
        for node in ast.walk(tree)
        if isinstance(node, ast.Assign)
        and any(getattr(t, "id", None) == "_EXPORTS" for t in node.targets)
    )
    names = [k.value for k in exports.keys]
    assert len(names) > 40
    missing = [n for n in names if not hasattr(pkg, n)]
    assert not missing, f"stale lazy exports: {missing}"
