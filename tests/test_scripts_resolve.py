"""Every ``from k8stream_spark... import name`` in ``bench.py`` and
``scripts/*.py`` names something that still exists, so deleting a
library name cannot silently strand a script that no other test runs.
Spark-free: the scripts are parsed with ``ast``, never executed, and
only the imported ``k8stream_spark`` modules are loaded."""

from __future__ import annotations

import ast
import glob
import importlib
import os

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
FILES = sorted(
    [os.path.join(REPO, "bench.py")]
    + glob.glob(os.path.join(REPO, "scripts", "*.py"))
)


def _package_imports(path: str) -> list[tuple[str, str, int]]:
    with open(path, encoding="utf-8") as fh:
        tree = ast.parse(fh.read(), filename=path)
    return [
        (node.module, alias.name, node.lineno)
        for node in ast.walk(tree)
        if isinstance(node, ast.ImportFrom)
        and node.level == 0
        and node.module
        and node.module.split(".")[0] == "k8stream_spark"
        for alias in node.names
    ]


@pytest.mark.parametrize(
    "path", FILES, ids=[os.path.relpath(p, REPO) for p in FILES]
)
def test_package_imports_resolve(path):
    missing = []
    for module, name, line in _package_imports(path):
        mod = importlib.import_module(module)
        if not hasattr(mod, name):
            try:  # ``from pkg import submodule``
                importlib.import_module(f"{module}.{name}")
            except ModuleNotFoundError:
                missing.append(f"line {line}: {module}.{name}")
    assert not missing, missing


def test_scripts_are_found():
    assert os.path.join(REPO, "bench.py") in FILES
    assert len(FILES) > 1
