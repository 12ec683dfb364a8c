"""Every name a ``scripts/*.py`` probe takes from the package (or from
a sibling script) must exist, so deleting or renaming a package name
cannot leave a probe that fails at import or call time. Spark-free:
the AST is read, and only package modules are imported."""

from __future__ import annotations

import ast
import importlib
import types
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
SCRIPTS = REPO / "scripts"
PACKAGE = "database_join_spark"


def _top_level_names(path: Path) -> set[str]:
    """Names a script defines or imports at module level."""
    names: set[str] = set()
    for node in ast.parse(path.read_text()).body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                             ast.ClassDef)):
            names.add(node.name)
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = (
                node.targets if isinstance(node, ast.Assign)
                else [node.target]
            )
            for t in targets:
                names.update(
                    n.id for n in ast.walk(t) if isinstance(n, ast.Name)
                )
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            names.update(
                (a.asname or a.name).split(".")[0] for a in node.names
            )
    return names


_MISSING = object()


def _resolve(module: str, name: str):
    """What ``from module import name`` binds, or ``_MISSING``."""
    mod = importlib.import_module(module)
    if hasattr(mod, name):
        return getattr(mod, name)
    try:  # a submodule its package has not imported
        return importlib.import_module(f"{module}.{name}")
    except ModuleNotFoundError:
        return _MISSING


def _unresolved(path: Path) -> list[str]:
    tree = ast.parse(path.read_text())
    missing: list[str] = []
    aliases: dict[str, types.ModuleType] = {}  # local name -> module
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.module:
            top, _, rest = node.module.partition(".")
            for a in node.names:
                if top == PACKAGE:
                    obj = _resolve(node.module, a.name)
                    if obj is _MISSING:
                        missing.append(f"{node.module}.{a.name}")
                    elif isinstance(obj, types.ModuleType):
                        aliases[a.asname or a.name] = obj
                elif top == "scripts":
                    sibling = SCRIPTS / (rest.replace(".", "/") + ".py")
                    if not sibling.exists():
                        missing.append(node.module)
                    elif a.name not in _top_level_names(sibling):
                        missing.append(f"{node.module}.{a.name}")
        elif isinstance(node, ast.Import):
            for a in node.names:
                if a.name.split(".")[0] != PACKAGE:
                    continue
                try:
                    mod = importlib.import_module(a.name)
                except ModuleNotFoundError:
                    missing.append(a.name)
                    continue
                if a.asname:
                    aliases[a.asname] = mod
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Attribute)
            and isinstance(node.value, ast.Name)
            and node.value.id in aliases
        ):
            mod = aliases[node.value.id]
            if not hasattr(mod, node.attr):
                missing.append(f"{mod.__name__}.{node.attr}")
    return sorted(set(missing))


def test_scripts_resolve_package_names():
    scripts = sorted(SCRIPTS.glob("*.py"))
    assert scripts
    unresolved = {
        p.name: names for p in scripts if (names := _unresolved(p))
    }
    assert not unresolved, unresolved
