"""Every name a ``scripts/*.py`` probe takes from the package (or from
a sibling script) must exist, and every keyword it passes to a package
function must be a parameter of that function, so deleting or renaming
a package name or parameter cannot leave a probe that fails at import
or call time. Two more pins tie ``scripts/`` to its citations: every
script is listed in the README's "Running" block, and every script
path the docs, package, tests or bench.py cite exists. Spark-free: the
AST is read, and only package modules are imported."""

from __future__ import annotations

import ast
import importlib
import inspect
import re
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


_SCRIPT_PATH = re.compile(r"scripts/(\w+\.(?:py|sh))\b")


def _readme_running_block() -> str:
    """The fenced block under README.md's "## Running" heading."""
    text = (REPO / "README.md").read_text()
    section = text.split("\n## Running\n", 1)[1]
    return section.split("```", 2)[1]


def test_every_script_is_listed_in_readme_running():
    listed = set(_SCRIPT_PATH.findall(_readme_running_block()))
    on_disk = {p.name for p in SCRIPTS.iterdir() if p.is_file()}
    assert on_disk <= listed, sorted(on_disk - listed)


def test_every_cited_script_exists():
    """A ``scripts/`` path cited by the README, STATUS.md, the package,
    the tests or bench.py names a file that is still there."""
    sources = [REPO / "README.md", REPO / "STATUS.md", REPO / "bench.py"]
    sources += sorted((REPO / PACKAGE).rglob("*.py"))
    sources += sorted((REPO / "tests").rglob("*.py"))
    dangling = {
        f"{src.relative_to(REPO)}: scripts/{name}"
        for src in sources
        for name in _SCRIPT_PATH.findall(src.read_text())
        if not (SCRIPTS / name).exists()
    }
    assert not dangling, sorted(dangling)
