"""Static import check: every package import in the program resolves.

Parses (no import, no Spark) every module of the package, the job and
script entry points and the root ``*.py``, and resolves each import of
the package — including the function-level lazy ones that only run on
some branch — to an existing module and to a name that module defines at
top level. A lazy import of a deleted module or helper then fails here,
not on the first production run that takes that branch. The same walk,
from the entry points, finds the package modules nothing runs; from the
jobs alone, it finds those that only the query registry runs. A walk
over the names the program uses finds the top-level definitions nothing
names.
"""

from __future__ import annotations

import ast
import os
from collections import Counter

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


def _reached_modules(trees: dict[str, ast.Module], modules: dict[str, str],
                     entry_points: set[str] | None = None) -> set[str]:
    """Package modules that the entry points reach through package
    imports, lazy ones included: the fixture builder and, by default, the
    root ``*.py``, ``jobs/`` and ``scripts/`` (else the given paths,
    relative to the repo root). Importing a module also runs its parent
    packages."""
    reached: set[str] = set()
    todo = [p for p in trees if not _module_name(p).startswith(PKG)
            and (entry_points is None
                 or os.path.relpath(p, REPO_ROOT) in entry_points)]

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
    return reached


def test_every_module_is_reached_or_listed():
    """A package module that no entry point reaches fails: delete it or
    give it a job path."""
    trees, modules = _parse_program()
    reached = _reached_modules(trees, modules)
    unreached = sorted(m[len(PKG) + 1:] for m in modules if m not in reached)
    assert not unreached, unreached


# Package modules that no job reaches, only the driver-contract registry
# (``__spark_entry__.py``, ``entry_queries``, ``scripts/check_oracles.py``)
# or the tests, each with the reason it stays for now. The list may only
# shrink: a module here that a job reaches, or that is deleted, fails the
# test too.
REGISTRY_ONLY_MODULES = {
    "entry_queries":
        "the driver-contract query registry itself",
    "fixtures.media_gen":
        "image payloads for the image_meta and image_resize queries",
    "kernels.image_meta":
        "header probe behind the image_meta query (direction 7)",
    "kernels.image_ops":
        "resize math behind the image_resize query (direction 7)",
    "kernels.png_codec":
        "the last pixel decoder, image_resize only (direction 7)",
    "operators.multimodal":
        "image probe and resize operators, registry only (direction 7)",
    "operators.metering":
        "metering rollup no job feeds (direction 5)",
}


def test_every_module_is_reached_from_a_job_or_listed():
    """The module walk from the jobs alone: ``jobs/*.py``,
    ``scripts/package_pyfiles.py`` and the fixture builder. A module
    that only the query registry or the tests reach fails unless
    ``REGISTRY_ONLY_MODULES`` lists it; delete it or give it a job path."""
    trees, modules = _parse_program()
    jobs = {os.path.join("jobs", n) for n in os.listdir(os.path.join(REPO_ROOT, "jobs"))
            if n.endswith(".py")}
    reached = _reached_modules(
        trees, modules, jobs | {os.path.join("scripts", "package_pyfiles.py")})
    assert {f"{PKG}.operators.classify", f"{PKG}.operators.extraction"} <= reached
    unreached = {m[len(PKG) + 1:] for m in modules if m not in reached}
    assert sorted(unreached - set(REGISTRY_ONLY_MODULES)) == [], "reached by no job"
    assert sorted(set(REGISTRY_ONLY_MODULES) - unreached) == [], \
        "reached by a job or deleted now: drop it from REGISTRY_ONLY_MODULES"


# Top-level definitions that no program code names today, each with the
# reason it stays for now. The list may only shrink: a name here that
# program code reaches, or that is deleted, fails the test too.
UNNAMED_DEFINITIONS = {
    "kernels.compare.count_classifications":
        "pure twin of evaluate_attributes' counts (direction 4)",
    "kernels.compare.calculate_metrics":
        "pure twin of metrics_rollup (direction 4)",
    "kernels.html_dom.parse_blocks_stdlib":
        "differential reference for the fast block parser",
    "kernels.image_ops.adaptive_binarize_array":
        "goes with PNG and image_ops, the last decoder batch (direction 7)",
    "kernels.textnorm.normalize_attr_pattern":
        "list-pattern config lookup no stage calls (direction 8)",
    "operators.metering.explode_metering":
        "metering explode no job feeds (direction 8)",
    "sources.snapshots.snapshot_history":
        "operator tool no job runs (direction 8)",
    "sources.snapshots.rollback_to":
        "operator tool no job runs (direction 8)",
}


def _names_used(node: ast.AST):
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            yield n.id
        elif isinstance(n, ast.Attribute):
            yield n.attr
        elif isinstance(n, ast.alias):
            yield n.name.split(".")[-1]


def test_every_definition_is_named_or_listed():
    """Every top-level ``def`` or ``class`` of a package module must be
    named by program code outside its own body: the entry points and
    the modules they reach (tests do not count). The walk matches every
    bare name, attribute and imported name by its text alone, so it
    errs toward "reached": a common name used anywhere in the program
    hides a dead definition, and a name that only another dead
    definition uses counts as named. A miss fails unless ``UNNAMED_DEFINITIONS`` lists
    it; delete the definition or give it a caller that a job runs."""
    trees, modules = _parse_program()
    reached = _reached_modules(trees, modules)
    program = [p for p in trees
               if not _module_name(p).startswith(PKG) or _module_name(p) in reached]
    uses: Counter[str] = Counter()
    for path in program:
        uses.update(_names_used(trees[path]))
    unnamed = set()
    n_defs = 0
    for module in sorted(reached):
        for st in trees[modules[module]].body:
            if isinstance(st, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                n_defs += 1
                inside = Counter(_names_used(st))[st.name]
                if uses[st.name] <= inside:
                    unnamed.add(f"{module[len(PKG) + 1:]}.{st.name}")
    assert n_defs > 300, n_defs  # the walk really saw the program
    assert sorted(unnamed - set(UNNAMED_DEFINITIONS)) == [], "named by no program code"
    assert sorted(set(UNNAMED_DEFINITIONS) - unnamed) == [], \
        "named or deleted now: drop it from UNNAMED_DEFINITIONS"
