"""Static import check: every package import in the program resolves.

Parses (no import, no Spark) every module of the package, the job and
script entry points and the root ``*.py``, and resolves each import of
the package — including the function-level lazy ones that only run on
some branch — to an existing module and to a name that module defines at
top level. A lazy import of a deleted module or helper then fails here,
not on the first production run that takes that branch. The same walk,
from the entry points, finds the package modules nothing runs.
"""

from __future__ import annotations

import ast
import os

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "intelligent_document_processing_on_aws_spark"


def _program_files() -> list[str]:
    files = [os.path.join(REPO_ROOT, f) for f in os.listdir(REPO_ROOT)
             if f.endswith(".py")]
    for top in (PKG, "jobs", "scripts"):
        for dirpath, dirnames, names in os.walk(os.path.join(REPO_ROOT, top)):
            dirnames[:] = [d for d in dirnames if d != "__pycache__"]
            files += [os.path.join(dirpath, n) for n in names if n.endswith(".py")]
    return sorted(files)


def _module_name(path: str) -> str:
    rel = os.path.relpath(path, REPO_ROOT)[:-3].replace(os.sep, ".")
    return rel[: -len(".__init__")] if rel.endswith(".__init__") else rel


def _top_level_names(tree: ast.Module) -> set[str]:
    """Names a module binds at top level, through if/try/for blocks but
    not inside function or class bodies."""
    names: set[str] = set()

    def bind(target: ast.expr) -> None:
        for node in ast.walk(target):
            if isinstance(node, ast.Name):
                names.add(node.id)

    def visit(stmts: list[ast.stmt]) -> None:
        for st in stmts:
            if isinstance(st, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                names.add(st.name)
                continue
            if isinstance(st, (ast.Import, ast.ImportFrom)):
                names.update((a.asname or a.name).split(".")[0] for a in st.names)
            elif isinstance(st, ast.Assign):
                for t in st.targets:
                    bind(t)
            elif isinstance(st, (ast.AnnAssign, ast.For)):
                bind(st.target)
            for field in ("body", "orelse", "finalbody"):
                visit(getattr(st, field, []))
            for handler in getattr(st, "handlers", []):
                visit(handler.body)

    visit(tree.body)
    return names


def _package_imports(path: str, tree: ast.Module):
    """(line, module, name or None) for every import of the package;
    name is None for ``import pkg.mod`` and ``from pkg.mod import *``."""
    mod = _module_name(path)
    is_pkg = path.endswith("__init__.py")
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.name == PKG or a.name.startswith(PKG + "."):
                    yield node.lineno, a.name, None
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                parts = mod.split(".")
                if not is_pkg:
                    parts = parts[:-1]
                parts = parts[: len(parts) - (node.level - 1)]
                base = ".".join(parts + ([node.module] if node.module else []))
            else:
                base = node.module or ""
            if base != PKG and not base.startswith(PKG + "."):
                continue
            for a in node.names:
                yield node.lineno, base, None if a.name == "*" else a.name


def _parse_program() -> tuple[dict[str, ast.Module], dict[str, str]]:
    """(path -> syntax tree, package module name -> path)."""
    trees = {}
    for path in _program_files():
        with open(path, encoding="utf-8") as f:
            trees[path] = ast.parse(f.read(), path)
    modules = {_module_name(p): p for p in trees if _module_name(p).startswith(PKG)}
    return trees, modules


def test_every_package_import_resolves():
    trees, modules = _parse_program()
    defined: dict[str, set[str]] = {}

    def names_of(module: str) -> set[str]:
        if module not in defined:
            defined[module] = _top_level_names(trees[modules[module]])
        return defined[module]

    problems = []
    n_checked = 0
    for path in trees:
        rel = os.path.relpath(path, REPO_ROOT)
        for line, module, name in _package_imports(path, trees[path]):
            n_checked += 1
            if module not in modules:
                problems.append(f"{rel}:{line}: no module {module}")
            elif (name is not None and f"{module}.{name}" not in modules
                    and name not in names_of(module)):
                problems.append(f"{rel}:{line}: {module} defines no {name!r}")
    assert n_checked > 100, n_checked  # the walk really saw the program
    assert not problems, "\n".join(problems)


def test_every_module_is_reached_or_listed():
    """Walks the package imports, lazy ones included, from the entry
    points: the root ``*.py``, ``jobs/``, ``scripts/`` and the fixture
    builder. Importing a module also runs its parent packages. A module
    that none of them reaches fails: delete it or give it a job path."""
    trees, modules = _parse_program()
    reached: set[str] = set()
    todo = [p for p in trees if not _module_name(p).startswith(PKG)]

    def reach(module: str) -> None:
        parts = module.split(".")
        for i in range(1, len(parts) + 1):
            m = ".".join(parts[:i])
            if m in modules and m not in reached:
                reached.add(m)
                todo.append(modules[m])

    reach(f"{PKG}.fixtures.build")
    while todo:
        path = todo.pop()
        for _, module, name in _package_imports(path, trees[path]):
            sub = f"{module}.{name}"
            reach(sub if sub in modules else module)
    unreached = sorted(m[len(PKG) + 1:] for m in modules if m not in reached)
    assert not unreached, unreached
