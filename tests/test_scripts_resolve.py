"""Every use of a ``k8stream_spark`` name in ``__spark_entry__.py``,
``bench.py``, ``scripts/*.py`` and ``perfbench/*.py`` — function-local
imports included — names something that still exists, and every call
to a package callable passes only keywords it accepts, so deleting a
library name or parameter cannot silently strand a script that no other
test runs.  Spark-free: the scripts are parsed with ``ast``, never
executed, and only the imported ``k8stream_spark`` modules are loaded."""

from __future__ import annotations

import ast
import glob
import importlib
import inspect
import os
import types

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
FILES = sorted(
    [os.path.join(REPO, "bench.py"), os.path.join(REPO, "__spark_entry__.py")]
    + glob.glob(os.path.join(REPO, "scripts", "*.py"))
    + glob.glob(os.path.join(REPO, "perfbench", "*.py"))
)
IDS = [os.path.relpath(p, REPO) for p in FILES]


def _is_package(module: str | None) -> bool:
    return bool(module) and module.split(".")[0] == "k8stream_spark"


def _parse(path: str) -> ast.Module:
    with open(path, encoding="utf-8") as fh:
        return ast.parse(fh.read(), filename=path)


def _package_imports(tree: ast.Module) -> list[tuple[str, str | None, int]]:
    """(module, name, line) per imported name; ``name`` is None for a
    plain ``import k8stream_spark.x [as y]``."""
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


def _member(obj, name: str):
    """``obj.name``, importing a submodule when ``obj`` is a package;
    raises AttributeError when neither exists."""
    if hasattr(obj, name):
        return getattr(obj, name)
    if isinstance(obj, types.ModuleType):
        try:
            return importlib.import_module(f"{obj.__name__}.{name}")
        except ModuleNotFoundError:
            pass
    raise AttributeError(name)


def _bindings(tree: ast.Module) -> dict[str, list]:
    """Local name → the package objects an import binds it to (a list:
    function-local imports may bind one name more than once)."""
    out: dict[str, list] = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.level == 0:
            if not _is_package(node.module):
                continue
            mod = importlib.import_module(node.module)
            for a in node.names:
                try:
                    obj = _member(mod, a.name)
                except AttributeError:
                    continue  # reported by test_package_imports_resolve
                out.setdefault(a.asname or a.name, []).append(obj)
        elif isinstance(node, ast.Import):
            for a in node.names:
                if not _is_package(a.name):
                    continue
                if a.asname:
                    obj = importlib.import_module(a.name)
                    out.setdefault(a.asname, []).append(obj)
                else:
                    top = importlib.import_module(a.name.split(".")[0])
                    out.setdefault(top.__name__, []).append(top)
    return out


def _resolve(node: ast.expr, bound: dict[str, list], errors: list) -> list:
    """Package objects ``node`` (a name or ``a.b.c`` chain) may denote;
    an attribute no candidate has is recorded in ``errors``."""
    if isinstance(node, ast.Name):
        return bound.get(node.id, [])
    if not isinstance(node, ast.Attribute):
        return []
    found, missing = [], False
    for base in _resolve(node.value, bound, errors):
        try:
            found.append(_member(base, node.attr))
        except AttributeError:
            missing = True
    if missing and not found:
        errors.append(f"line {node.lineno}: {ast.unparse(node)} does not exist")
    return found


def _bad_keywords(call: ast.Call, callee) -> list[str]:
    if not callable(callee) or not getattr(
        callee, "__module__", ""
    ).startswith("k8stream_spark"):
        return []
    try:
        params = inspect.signature(callee).parameters
    except (TypeError, ValueError):
        return []
    if any(p.kind is p.VAR_KEYWORD for p in params.values()):
        return []
    return [k.arg for k in call.keywords if k.arg and k.arg not in params]


def _use_errors(tree: ast.Module) -> list[str]:
    bound = _bindings(tree)
    errors: list[str] = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Attribute) and isinstance(node.ctx, ast.Load):
            _resolve(node, bound, errors)
        if isinstance(node, ast.Call):
            callees = _resolve(node.func, bound, [])
            rejected = [set(_bad_keywords(node, c)) for c in callees]
            bad = set.intersection(*rejected) if rejected else set()
            if bad:
                errors.append(
                    f"line {node.lineno}: {ast.unparse(node.func)}() takes "
                    f"no keyword {sorted(bad)}"
                )
    return sorted(set(errors))


@pytest.mark.parametrize("path", FILES, ids=IDS)
def test_package_imports_resolve(path):
    missing = []
    for module, name, line in _package_imports(_parse(path)):
        mod = importlib.import_module(module)
        if name is not None and not hasattr(mod, name):
            try:  # ``from pkg import submodule``
                importlib.import_module(f"{module}.{name}")
            except ModuleNotFoundError:
                missing.append(f"line {line}: {module}.{name}")
    assert not missing, missing


@pytest.mark.parametrize("path", FILES, ids=IDS)
def test_package_attributes_and_keywords_resolve(path):
    """``alias.name`` uses of imported package modules exist, and each
    keyword at a call to a package callable is one of its parameters
    (unless it takes ``**kwargs``)."""
    errors = _use_errors(_parse(path))
    assert not errors, errors


def test_use_check_catches_stale_attribute_and_keyword():
    tree = ast.parse(
        "from k8stream_spark.ops import joins\n"
        "import k8stream_spark.analytics.similarity as sim\n"
        "joins.label_selector_join(s, p, anchor='first')\n"
        "joins.label_selector_join(s, p, pod_key='uid')\n"
        "sim._no_such_kernel(a)\n"
    )
    assert _use_errors(tree) == [
        "line 3: joins.label_selector_join() takes no keyword ['anchor']",
        "line 5: sim._no_such_kernel does not exist",
    ]


def test_scripts_are_found():
    assert os.path.join(REPO, "bench.py") in FILES
    assert os.path.join(REPO, "__spark_entry__.py") in FILES
    assert len(FILES) > 2


def test_perfbench_trace_patch_targets_are_module_globals():
    """The traced ``stream_catchup`` run swaps these two names on their
    modules to time the sink's serialize and gzip calls; a function-local
    import or a name moved elsewhere would silently go untimed."""
    import k8stream_spark.io.sinks as sinks
    import k8stream_spark.streaming.pipeline as pipeline

    assert callable(vars(pipeline).get("ndjson_bytes"))
    assert callable(vars(sinks).get("gzip_bytes"))
    assert any(p.endswith(os.path.join("perfbench", "worker.py")) for p in FILES)
