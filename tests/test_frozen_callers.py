"""Every package name that the benchmark harness, the headline bench, the
driver entry point and the oracle sweep import must still resolve.

Those scripts change only with the benchmark, so a prune that breaks one
of their imports would otherwise surface only as a failed benchmark run.
The check parses each script with ``ast`` (nothing is executed) and
resolves every ``associationabacminer_spark`` / ``tests`` name it
imports, plus every attribute it reads off an imported package module
(``Q.QUERIES``)."""

from __future__ import annotations

import ast
import importlib
import importlib.util
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
CALLERS = sorted(ROOT.glob("perfbench/*.py")) + [
    ROOT / "bench.py",
    ROOT / "__spark_entry__.py",
    ROOT / "bench" / "oracle_sweep.py",
]
PACKAGES = ("associationabacminer_spark", "tests")


def _package_module(name: str | None) -> str | None:
    """The importable name of ``name`` if it lives in this repo: a dotted
    package path, or a bare ``test_*`` module that the oracle sweep
    imports with ``tests/`` on its path."""
    if name is None:
        return None
    if name.split(".")[0] in PACKAGES:
        return name
    if (ROOT / "tests" / f"{name}.py").exists():
        return f"tests.{name}"
    return None


def _imported_names(tree: ast.AST) -> list[tuple[str, str | None]]:
    """(module, name) pairs; name None means the module itself."""
    out, aliases = [], {}
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.level == 0:
            mod = _package_module(node.module)
            if mod:
                out += [(mod, a.name) for a in node.names]
        elif isinstance(node, ast.Import):
            for a in node.names:
                mod = _package_module(a.name)
                if mod:
                    out.append((mod, None))
                    if a.asname:
                        aliases[a.asname] = mod
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Attribute)
            and isinstance(node.value, ast.Name)
            and node.value.id in aliases
        ):
            out.append((aliases[node.value.id], node.attr))
    return out


def _resolves(module: str, name: str | None) -> bool:
    try:
        mod = importlib.import_module(module)
        return (
            name is None
            or hasattr(mod, name)
            or importlib.util.find_spec(f"{module}.{name}") is not None
        )
    except ImportError:
        return False


@pytest.mark.parametrize("path", CALLERS, ids=lambda p: str(p.relative_to(ROOT)))
def test_frozen_caller_imports_resolve(path):
    names = _imported_names(ast.parse(path.read_text(), str(path)))
    missing = [f"{m}.{n}" if n else m for m, n in names if not _resolves(m, n)]
    assert not missing, missing
