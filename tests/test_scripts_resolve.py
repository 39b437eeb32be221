"""Every ``k8stream_spark`` import in ``bench.py``, ``scripts/*.py`` and
``perfbench/*.py`` — function-local ones included — names something
that still exists, so deleting a library name cannot silently strand a
script that no other test runs.  Spark-free: the scripts are parsed
with ``ast``, never executed, and only the imported ``k8stream_spark``
modules are loaded."""

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
    + glob.glob(os.path.join(REPO, "perfbench", "*.py"))
)


def _is_package(module: str | None) -> bool:
    return bool(module) and module.split(".")[0] == "k8stream_spark"


def _package_imports(path: str) -> list[tuple[str, str | None, int]]:
    """(module, name, line) per imported name; ``name`` is None for a
    plain ``import k8stream_spark.x [as y]``."""
    with open(path, encoding="utf-8") as fh:
        tree = ast.parse(fh.read(), filename=path)
    out = []
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.level == 0:
            if _is_package(node.module):
                out += [(node.module, a.name, node.lineno) for a in node.names]
        elif isinstance(node, ast.Import):
            out += [
                (a.name, None, node.lineno)
                for a in node.names
                if _is_package(a.name)
            ]
    return out


@pytest.mark.parametrize(
    "path", FILES, ids=[os.path.relpath(p, REPO) for p in FILES]
)
def test_package_imports_resolve(path):
    missing = []
    for module, name, line in _package_imports(path):
        mod = importlib.import_module(module)
        if name is not None and not hasattr(mod, name):
            try:  # ``from pkg import submodule``
                importlib.import_module(f"{module}.{name}")
            except ModuleNotFoundError:
                missing.append(f"line {line}: {module}.{name}")
    assert not missing, missing


def test_scripts_are_found():
    assert os.path.join(REPO, "bench.py") in FILES
    assert len(FILES) > 1


def test_perfbench_trace_patch_targets_are_module_globals():
    """The traced ``stream_catchup`` run swaps these two names on their
    modules to time the sink's serialize and gzip calls; a function-local
    import or a name moved elsewhere would silently go untimed."""
    import k8stream_spark.io.sinks as sinks
    import k8stream_spark.streaming.pipeline as pipeline

    assert callable(vars(pipeline).get("ndjson_bytes"))
    assert callable(vars(sinks).get("gzip_bytes"))
    assert any(p.endswith(os.path.join("perfbench", "worker.py")) for p in FILES)
