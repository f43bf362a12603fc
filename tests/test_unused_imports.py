"""No package module imports a name it never uses.

An unused import is dead weight that hides dead code: a query that
imports a helper and then rebuilds it inline leaves the helper with no
caller while it still looks used.  Each module is parsed with ``ast``
(nothing is executed).  A name counts as used when the module reads it
anywhere, including inside a string annotation; an import line marked
``# noqa: F401`` is exempt.  ``__init__`` modules are skipped: their
imports are re-exports."""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "associationabacminer_spark"
MODULES = sorted(p for p in PKG.rglob("*.py") if p.name != "__init__.py")


def _annotation_names(tree: ast.AST) -> set[str]:
    """Names read inside string annotations (``x: "Column"``)."""
    annotations = []
    for node in ast.walk(tree):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            args = node.args
            for a in [*args.posonlyargs, *args.args, *args.kwonlyargs,
                      args.vararg, args.kwarg]:
                if a is not None:
                    annotations.append(a.annotation)
            annotations.append(node.returns)
        elif isinstance(node, ast.AnnAssign):
            annotations.append(node.annotation)
    names = set()
    for ann in annotations:
        for sub in ast.walk(ann) if ann is not None else ():
            if isinstance(sub, ast.Constant) and isinstance(sub.value, str):
                names |= {
                    n.id
                    for n in ast.walk(ast.parse(sub.value, mode="eval"))
                    if isinstance(n, ast.Name)
                }
    return names


def unused_imports(path: Path) -> list[str]:
    src = path.read_text()
    lines = src.splitlines()
    tree = ast.parse(src)
    imported = {}
    for node in ast.walk(tree):
        if not isinstance(node, (ast.Import, ast.ImportFrom)):
            continue
        if isinstance(node, ast.ImportFrom) and node.module == "__future__":
            continue
        if any("noqa: F401" in ln for ln in lines[node.lineno - 1 : node.end_lineno]):
            continue
        for a in node.names:
            imported[a.asname or a.name.split(".")[0]] = node.lineno
    used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
    used |= _annotation_names(tree)
    return [f"{name} (line {ln})" for name, ln in imported.items() if name not in used]


def test_package_modules_use_every_import():
    found = {
        str(p.relative_to(PKG.parent)): bad
        for p in MODULES
        if (bad := unused_imports(p))
    }
    assert not found, found


def test_scan_sees_unused_names_and_exemptions(tmp_path):
    mod = tmp_path / "m.py"
    mod.write_text(
        "import os\n"
        "import json  # noqa: F401 — re-exported on purpose\n"
        "from typing import Any, Dict\n"
        "from pathlib import Path\n"
        "def f(x: 'Path') -> Dict:\n"
        "    return {}\n"
    )
    assert unused_imports(mod) == ["os (line 1)", "Any (line 3)"]
