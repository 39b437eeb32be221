"""Every top-level def in ``k8stream_spark/`` runs outside tests, or is
named below with the reason it stays.

Spark-free: the package and its callers are parsed with ``ast``, never
imported.  A def is live when its name appears (as a name or an
attribute) in a root, or in the body of a live def.  The roots are the
entry module (``__spark_entry__.py``), ``bench.py``, ``scripts/``,
``perfbench/`` and the package's own module-level code, less its
imports and ``__all__`` lists: a re-export calls nothing.  Matching by
bare name over-approximates liveness, so a live def is never reported.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

#: Defs no root reaches that stay, each with its reason.
KEPT = {
    "service_pod_map": "A1 reference implementation the a1 panel tests "
    "compare the registered stats operators against",
    "service_pod_map_sharded": "A1 sharded reference implementation the "
    "a1 panel tests compare against",
    "pod_service_reverse_index": "J5 reference implementation the j5 "
    "panel tests compare against",
    "make_flusher": "reference K5 sink dispatch (io/flush.go:13-31); no "
    "twin runs",
    "FileSink": "reference K3 file sink (io/flush_file.go); its atomic "
    "rename is what an idempotent sink mode builds on",
    "MemorySink": "reference K4 memory sink (io/flush_memory.go); no "
    "twin runs",
    "Heartbeat": "reference K6 heartbeat control plane (io/heartbeat.go)",
    "ping": "reference K6 heartbeat ping (io/heartbeat.go)",
}


def _names(node: ast.AST) -> set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
    return out


def _is_reexport(stmt: ast.stmt) -> bool:
    if isinstance(stmt, (ast.Import, ast.ImportFrom)):
        return True
    return isinstance(stmt, ast.Assign) and any(
        isinstance(t, ast.Name) and t.id == "__all__" for t in stmt.targets
    )


def unreached(repo: Path) -> dict[str, str]:
    """Top-level defs of ``repo/k8stream_spark`` no root reaches, as
    ``{name: "module.py:line"}``."""
    defs: dict[str, list[tuple[str, ast.AST]]] = {}
    seen: set[str] = set()
    for path in sorted((repo / "k8stream_spark").rglob("*.py")):
        where = path.relative_to(repo).as_posix()
        for stmt in ast.parse(path.read_text(encoding="utf-8")).body:
            if isinstance(
                stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                defs.setdefault(stmt.name, []).append(
                    (f"{where}:{stmt.lineno}", stmt)
                )
            elif not _is_reexport(stmt):
                seen |= _names(stmt)
    roots = [
        repo / "__spark_entry__.py",
        repo / "bench.py",
        *(repo / "scripts").glob("*.py"),
        *(repo / "perfbench").rglob("*.py"),
    ]
    for path in roots:
        seen |= _names(ast.parse(path.read_text(encoding="utf-8")))
    live: set[str] = set()
    todo = [n for n in seen if n in defs]
    while todo:
        name = todo.pop()
        if name in live:
            continue
        live.add(name)
        for _, node in defs[name]:
            todo.extend(n for n in _names(node) if n in defs)
    return {
        name: where
        for name, sites in defs.items()
        if name not in live
        for where, _ in sites
    }


def test_every_package_def_is_reached_or_kept():
    dead = unreached(REPO)
    stray = {n: w for n, w in dead.items() if n not in KEPT}
    assert not stray, (
        "defs only tests reach: wire each into the program, delete it, "
        f"or add it to KEPT with its reason: {stray}"
    )
    # The list stays exact: an entry that now runs, or is gone, goes.
    assert set(KEPT) == set(dead), sorted(set(KEPT) ^ set(dead))


def test_scan_flags_an_uncalled_def(tmp_path):
    """The scan's own rules on a toy tree: a def a root calls is live, and
    so is what it calls; an import, an ``__all__`` entry or a test does
    not make a def live."""
    pkg = tmp_path / "k8stream_spark"
    pkg.mkdir()
    (pkg / "__init__.py").write_text(
        "from k8stream_spark.mod import orphan\n__all__ = ['orphan']\n"
    )
    (pkg / "mod.py").write_text(
        "def used():\n    return helper()\n\n\n"
        "def helper():\n    return 1\n\n\n"
        "def orphan():\n    return 2\n"
    )
    (tmp_path / "__spark_entry__.py").write_text(
        "from k8stream_spark import mod\nmod.used()\n"
    )
    (tmp_path / "bench.py").write_text("")
    (tmp_path / "scripts").mkdir()
    (tmp_path / "perfbench").mkdir()
    (tmp_path / "tests").mkdir()
    (tmp_path / "tests" / "test_mod.py").write_text(
        "from k8stream_spark.mod import orphan\norphan()\n"
    )
    assert unreached(tmp_path) == {"orphan": "k8stream_spark/mod.py:9"}
