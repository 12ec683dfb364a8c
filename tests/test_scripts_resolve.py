"""Every name a ``scripts/*.py`` probe takes from the package (or from
a sibling script) must exist, and every keyword it passes to a package
function must be a parameter of that function, so deleting or renaming
a package name or parameter cannot leave a probe that fails at import
or call time. Spark-free: the AST is read, and only package modules
are imported."""

from __future__ import annotations

import ast
import importlib
import inspect
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


def _package_bindings(tree: ast.AST):
    """(missing, aliases, objects): the imported names that do not
    resolve, the local names bound to package modules, and the local
    names bound to other package objects."""
    missing: list[str] = []
    aliases: dict[str, types.ModuleType] = {}  # local name -> module
    objects: dict[str, object] = {}  # local name -> package object
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
                    else:
                        objects[a.asname or a.name] = obj
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
    return missing, aliases, objects


def _unresolved(path: Path) -> list[str]:
    tree = ast.parse(path.read_text())
    missing, aliases, _objects = _package_bindings(tree)
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


def _unresolved_keywords(path: Path) -> list[str]:
    """``callee(keyword=)`` for every keyword a call passes to a
    package function (a package-module alias attribute, or a name
    imported from the package) that its signature does not take.
    Callees with ``**kwargs`` or no signature are skipped."""
    tree = ast.parse(path.read_text())
    _missing, aliases, objects = _package_bindings(tree)
    bad: list[str] = []
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call):
            continue
        f = node.func
        if isinstance(f, ast.Name) and f.id in objects:
            callee = objects[f.id]
        elif (
            isinstance(f, ast.Attribute)
            and isinstance(f.value, ast.Name)
            and f.value.id in aliases
            and hasattr(aliases[f.value.id], f.attr)
        ):
            callee = getattr(aliases[f.value.id], f.attr)
        else:
            continue
        try:
            params = inspect.signature(callee).parameters
        except (TypeError, ValueError):
            continue
        if any(p.kind is p.VAR_KEYWORD for p in params.values()):
            continue
        name = getattr(callee, "__qualname__", repr(callee))
        bad.extend(
            f"{name}({kw.arg}=)"
            for kw in node.keywords
            if kw.arg is not None and kw.arg not in params
        )
    return sorted(set(bad))


def test_scripts_pass_only_package_parameters():
    unresolved = {
        p.name: kws
        for p in sorted(SCRIPTS.glob("*.py"))
        if (kws := _unresolved_keywords(p))
    }
    assert not unresolved, unresolved
