"""Every public top-level function and class in the package is run by
something other than the tests.

A capability is kept only if something runs it.  A name counts as
reached when, outside its own body, it is read by another package
module, by a ``@query`` function, or by one of the scripts that run the
package: ``bench.py``, ``__spark_entry__.py``, ``bench/oracle_sweep.py``
and the perfbench workloads.  ``__init__`` re-exports do not count, and
neither do the tests.  Imports are followed to the object they bind, so
``from associationabacminer_spark.operators import dedup as D`` then
``D.exact_dedup(...)`` reaches ``operators.dedup.exact_dedup``.  A name
that only a test reaches either moves into the tests or goes; the few
kept on purpose are listed in ``ALLOWED`` with the reason."""

from __future__ import annotations

import ast
import importlib
import inspect
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "associationabacminer_spark"
MODULES = sorted(p for p in (ROOT / PACKAGE).rglob("*.py") if p.name != "__init__.py")
SCRIPTS = sorted(ROOT.glob("perfbench/*.py")) + [
    ROOT / "bench.py",
    ROOT / "__spark_entry__.py",
    ROOT / "bench" / "oracle_sweep.py",
]

ALLOWED = {
    f"{PACKAGE}.operators.rulemine.auc_from_points":
        "the reference TestRocAucParity checks q44's SQL against",
}


def _module_name(path: Path) -> str:
    return ".".join(path.relative_to(ROOT).with_suffix("").parts)


def _is_query(node: ast.AST) -> bool:
    return any(
        isinstance(d, ast.Call) and isinstance(d.func, ast.Name) and d.func.id == "query"
        for d in node.decorator_list
    )


def definitions(path: Path) -> dict[str, tuple[int, int]]:
    """Public top-level functions and classes of one module, keyed by
    dotted name, with the line span of their body.  ``@query`` functions
    are registered by their decorator and so are not listed."""
    mod = _module_name(path)
    return {
        f"{mod}.{node.name}": (node.lineno, node.end_lineno)
        for node in ast.parse(path.read_text()).body
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
        and not node.name.startswith("_")
        and not _is_query(node)
    }


def _key(obj) -> str | None:
    """The dotted definition name of a package function or class."""
    if (inspect.isfunction(obj) or inspect.isclass(obj)) and obj.__module__.startswith(PACKAGE):
        return f"{obj.__module__}.{obj.__qualname__}"
    return None


def _bind(module: str, name: str):
    """What ``from module import name`` binds: a module object, the
    definition key of a package function or class, or None."""
    try:
        obj = getattr(importlib.import_module(module), name, None)
        if obj is None:
            obj = importlib.import_module(f"{module}.{name}")
    except ImportError:
        return None
    return obj if inspect.ismodule(obj) else _key(obj)


def references(path: Path) -> dict[str, list[int]]:
    """Definition keys that one file reads, with the lines it reads them
    on.  Only imported package names and, in a package module, the
    module's own top-level names are followed."""
    tree = ast.parse(path.read_text())
    modules: dict[str, str] = {}  # local alias -> module name
    names: dict[str, str] = {}  # local name -> definition key
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.level == 0 and node.module:
            if not node.module.startswith(PACKAGE):
                continue
            for a in node.names:
                bound = _bind(node.module, a.name)
                local = a.asname or a.name
                if inspect.ismodule(bound):
                    modules[local] = bound.__name__
                elif bound is not None:
                    names[local] = bound
        elif isinstance(node, ast.Import):
            for a in node.names:
                if a.name.startswith(PACKAGE) and a.asname:
                    modules[a.asname] = a.name
    if path.is_relative_to(ROOT / PACKAGE):
        mod = _module_name(path)
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                names.setdefault(node.name, f"{mod}.{node.name}")
    out: dict[str, list[int]] = {}
    for node in _reads(tree):
        key = None
        if isinstance(node, ast.Name) and node.id in names:
            key = names[node.id]
        elif (
            isinstance(node, ast.Attribute)
            and isinstance(node.value, ast.Name)
            and node.value.id in modules
        ):
            key = _bind(modules[node.value.id], node.attr)
        if isinstance(key, str):
            out.setdefault(key, []).append(node.lineno)
    return out


def _reads(tree: ast.AST) -> list[ast.AST]:
    """Every Name and Attribute node, except a Name that a parameter or
    local assignment of an enclosing function shadows (``wsc: float``
    in a signature does not read the function ``wsc``)."""
    out = []

    def visit(node, shadowed):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
            a = node.args
            params = [*a.posonlyargs, *a.args, *a.kwonlyargs, a.vararg, a.kwarg]
            body = node.body if isinstance(node.body, list) else [node.body]
            local = {p.arg for p in params if p is not None} | {
                n.id
                for b in body
                for n in ast.walk(b)
                if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Store)
            }
            outer = [*getattr(node, "decorator_list", []), *a.defaults, *a.kw_defaults]
            for child in outer:
                if child is not None:
                    visit(child, shadowed)
            for child in body:
                visit(child, shadowed | local)
            return
        if isinstance(node, ast.Attribute) or (
            isinstance(node, ast.Name) and node.id not in shadowed
        ):
            out.append(node)
        for child in ast.iter_child_nodes(node):
            visit(child, shadowed)

    visit(tree, frozenset())
    return out


def unreached() -> set[str]:
    spans = {}
    for path in MODULES:
        spans.update(definitions(path))
    reached = set()
    for path in MODULES + SCRIPTS:
        mod = _module_name(path)
        for key, lines in references(path).items():
            if key not in spans:
                continue
            lo, hi = spans[key]
            if key.rsplit(".", 1)[0] != mod or any(not lo <= ln <= hi for ln in lines):
                reached.add(key)
    return set(spans) - reached


def test_every_public_name_is_reached():
    missing = sorted(unreached() - set(ALLOWED))
    assert not missing, "reached only by tests, or by nothing:\n" + "\n".join(missing)


def test_allow_list_is_current():
    """Each allowed name exists and is still reached by nothing else; an
    entry that gains a runner (or loses its definition) leaves the list."""
    assert sorted(set(ALLOWED) - unreached()) == []
