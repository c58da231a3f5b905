"""Code fingerprint of a registered query: a hash that changes when the
query's code changes, but not when only its docstrings, comments or layout
do. ``registry`` stores it per query in ``ORACLE_SNAPSHOT.json`` and queues
a query for re-verification when the stored fingerprint differs.

The fingerprint is the md5 of the docstring-free ``ast.dump`` of the query
function plus every package function, class and module constant it reaches
by name, transitively. Names resolve through module globals, ``mod.attr`` on
package modules and function-local ``from .x import y``. A constant counts
by the statement that assigns it, never by its runtime value, which a cache
may mutate. Everything is read from source, so no query runs; results are
memoized per object.
"""

from __future__ import annotations

import ast
import copy
import functools
import hashlib
import importlib
import inspect
import textwrap
from collections.abc import Callable
from types import ModuleType

_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _top(name: str) -> str:
    return name.partition(".")[0]


def _imported(stmt: ast.ImportFrom, mod: ModuleType) -> ModuleType | None:
    """The module a ``from ... import`` in ``mod`` reads, when it is in the
    same package as ``mod``; None otherwise."""
    if not stmt.level and _top(stmt.module) != _top(mod.__name__):
        return None
    base = importlib.import_module("." * stmt.level + (stmt.module or ""), mod.__package__)
    for alias in stmt.names:
        if not hasattr(base, alias.name):  # `from . import submodule`
            importlib.import_module(f"{base.__name__}.{alias.name}")
    return base


@functools.cache
def _module_defs(mod: ModuleType) -> dict[str, ast.stmt]:
    """Top-level statements of ``mod`` by the name they bind."""
    defs: dict[str, ast.stmt] = {}
    for stmt in ast.parse(inspect.getsource(mod)).body:
        if isinstance(stmt, _DEFS):
            defs[stmt.name] = stmt
        elif isinstance(stmt, ast.ImportFrom):
            defs.update({a.asname or a.name: stmt for a in stmt.names})
        for target in [*getattr(stmt, "targets", []), getattr(stmt, "target", None)]:
            if isinstance(target, ast.Name):
                defs[target.id] = stmt
    return defs


def _binding(mod: ModuleType, name: str) -> ast.stmt | None:
    """The statement that defines ``name`` as seen from ``mod``, following
    package-internal ``from .x import name`` re-exports to their source."""
    stmt = _module_defs(mod).get(name)
    while isinstance(stmt, ast.ImportFrom) and (base := _imported(stmt, mod)):
        name = next(a.name for a in stmt.names if (a.asname or a.name) == name)
        mod, stmt = base, _module_defs(base).get(name)
    return stmt


@functools.cache
def _node(obj: object, root: bool) -> tuple[str, tuple[object, ...]]:
    """(md5 of obj's own code and the constants it names, the package
    functions and classes it names). A registered function's own ``@query``
    decorator (``root``) is left out: its oracle has its own hash."""
    mod, top = inspect.getmodule(obj), _top(obj.__module__)
    tree = _module_defs(mod).get(obj.__qualname__)
    if not isinstance(tree, _DEFS) or tree.name != obj.__name__:
        tree = ast.parse(textwrap.dedent(inspect.getsource(obj))).body[0]
    if root:
        tree = copy.copy(tree)
        tree.decorator_list = []
    local: dict[str, tuple[ModuleType, str]] = {}  # function-local imports
    names: list[tuple[str, str | None]] = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Expr) and isinstance(node.value, ast.Constant):
            node.value.value = None  # docstrings and other no-op literals
        elif isinstance(node, ast.ImportFrom) and (base := _imported(node, mod)):
            local.update({a.asname or a.name: (base, a.name) for a in node.names})
        elif isinstance(node, ast.Name):
            names.append((node.id, None))
        elif isinstance(node, ast.Attribute) and isinstance(node.value, ast.Name):
            names.append((node.value.id, node.attr))
    reached, consts = set(), set()
    for name, attr in names:
        home, name = local.get(name, (mod, name))
        value = getattr(home, name, None)
        if attr is not None:
            if not inspect.ismodule(value) or _top(value.__name__) != top:
                continue
            home, name, value = value, attr, getattr(value, attr, None)
        if callable(value) and not inspect.isclass(value):
            value = getattr(value, "__wrapped__", value)  # e.g. functools.cache
        if inspect.isfunction(value) or inspect.isclass(value):
            if _top(value.__module__) == top and value is not obj:
                reached.add(value)
        elif not inspect.ismodule(value) and hasattr(home, name):
            stmt = _binding(home, name)
            if stmt is not None and not isinstance(stmt, _DEFS):
                consts.add(f"{home.__name__}.{name}={ast.dump(stmt)}")
    own = "\n".join([ast.dump(tree), *sorted(consts)])
    return hashlib.md5(own.encode("utf-8")).hexdigest(), tuple(reached)


@functools.cache
def fingerprint(fn: Callable) -> str | None:
    """md5 over the code of ``fn`` and everything it reaches by name,
    transitively; None when some source cannot be read or resolved."""
    seen: dict[tuple[str, str, bool], str] = {}
    stack = [(fn, True)]
    try:
        while stack:
            obj, root = stack.pop()
            key = (obj.__module__, obj.__qualname__, root)
            if key not in seen:
                seen[key], reached = _node(obj, root)
                stack.extend((r, False) for r in reached)
    except (OSError, TypeError, SyntaxError, ImportError):
        return None
    text = "\n".join(f"{m}.{q}:{r}={h}" for (m, q, r), h in sorted(seen.items()))
    return hashlib.md5(text.encode("utf-8")).hexdigest()
