"""Package-shape rules, checked on the source text alone (no Spark session).

Every name in ``ocr_search_spark`` has one import path, its defining
submodule, and at least one caller; importing the extraction kernel's module
loads neither the scalar oracle nor the checkpoint protocol.
"""

from __future__ import annotations

import ast
import json
import subprocess
import sys
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "ocr_search_spark"
#: every file that may call into the package
SEARCHED = [
    PACKAGE,
    ROOT / "tests",
    ROOT / "perfbench",
    ROOT / "scripts",
    ROOT / "__spark_entry__.py",
    ROOT / "bench.py",
]


def _py_files(paths):
    for p in paths:
        if p.is_dir():
            yield from sorted(p.rglob("*.py"))
        elif p.exists():
            yield p


def _parse(path: Path) -> ast.Module:
    return ast.parse(path.read_text(), filename=str(path))


def _defined_names(stmt: ast.stmt) -> list[str]:
    """The names a top-level statement binds by def, class or assignment."""
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [stmt.name]
    if isinstance(stmt, ast.Assign):
        targets = stmt.targets
    elif isinstance(stmt, ast.AnnAssign):
        targets = [stmt.target]
    else:
        return []
    return [
        n.id
        for t in targets
        for n in ast.walk(t)
        if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Store)
    ]


def _referenced_names(node: ast.AST) -> set[str]:
    """Every name a subtree refers to: a ``Name`` it loads, an attribute, an
    imported name and a string constant (a tracer patches functions by
    their string names)."""
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name) and not isinstance(n.ctx, ast.Store):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.update(n.name.split("."))
        elif isinstance(n, ast.Constant) and isinstance(n.value, str):
            out.add(n.value)
    return out


def test_package_inits_hold_at_most_a_docstring():
    offenders = []
    for init in sorted(PACKAGE.rglob("__init__.py")):
        tree = _parse(init)
        body = tree.body[1:] if ast.get_docstring(tree) is not None else tree.body
        if body:
            offenders.append(str(init.relative_to(ROOT)))
    assert offenders == []


def test_every_top_level_definition_has_a_caller():
    # references per (file, top-level statement index), so that a
    # definition's own body does not count as its caller
    refs: dict[tuple[Path, int], set[str]] = {}
    for path in _py_files(SEARCHED):
        for i, stmt in enumerate(_parse(path).body):
            refs[(path, i)] = _referenced_names(stmt)
    callers: dict[str, set[tuple[Path, int]]] = defaultdict(set)
    for key, names in refs.items():
        for name in names:
            callers[name].add(key)

    dead = []
    for path in _py_files([PACKAGE]):
        for i, stmt in enumerate(_parse(path).body):
            for name in _defined_names(stmt):
                if not callers[name] - {(path, i)}:
                    dead.append(f"{path.relative_to(ROOT)}:{stmt.lineno} {name}")
    assert dead == []


def test_extraction_kernel_module_loads_neither_oracle_nor_checkpoint():
    """An extraction Python worker imports this module to unpickle the
    kernel; it must not pay for the scalar oracle or the publish protocol."""
    code = (
        "import json, sys, ocr_search_spark.pipeline.extract; print(json.dumps(sorted("
        "m for m in sys.modules if m.startswith('ocr_search_spark'))))"
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True,
        text=True,
        check=True,
        cwd=ROOT,
    )
    loaded = set(json.loads(out.stdout.splitlines()[-1]))
    assert "ocr_search_spark.pipeline.extract" in loaded
    assert {
        "ocr_search_spark.kernels.reference_impl",
        "ocr_search_spark.pipeline.checkpoint",
    } & loaded == set()
