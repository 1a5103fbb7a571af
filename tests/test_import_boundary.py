"""The EPSS user paths — the client, the sources, quantize, the Query
compiler and the session factory — must not load the extension operator
families or queries. Checked in a fresh interpreter so that
modules imported by other tests do not hide an import.

Every internal import in the program and test files must also resolve.
Most internal imports sit inside functions, where importing the module
never runs them, so that check reads the source instead of importing it."""

from __future__ import annotations

import ast
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CORE = ["epss_spark.client", "epss_spark.operators.quantize", "epss_spark.plans.query", "epss_spark.session"]

# the import closure of CORE plus every module of epss_spark.sources
CLOSURE = {
    "epss_spark",
    "epss_spark.client",
    "epss_spark.functions",
    "epss_spark.functions.scalars",
    "epss_spark.operators",
    "epss_spark.operators.asof",
    "epss_spark.operators.quantize",
    "epss_spark.plans",
    "epss_spark.plans.query",
    "epss_spark.schemas",
    "epss_spark.session",
    "epss_spark.sources",
    "epss_spark.sources.ingest",
    "epss_spark.sources.readers",
    "epss_spark.sources.sinks",
}

EXTENSIONS = [
    f"epss_spark.operators.{m}"
    for m in (
        "dedup", "similarity", "text", "clustering", "layout",
    )
]

LOAD = """
import importlib, pkgutil, sys
import epss_spark.sources
mods = sys.argv[1:] + [f"epss_spark.sources.{m.name}" for m in pkgutil.iter_modules(epss_spark.sources.__path__)]
for m in mods:
    importlib.import_module(m)
print("\\n".join(sorted(m for m in sys.modules if m.split(".")[0] == "epss_spark")))
"""


def loaded_modules() -> set[str]:
    out = subprocess.run(
        [sys.executable, "-c", LOAD, *CORE], cwd=ROOT, capture_output=True, text=True, check=True
    ).stdout
    return set(out.split())


def test_core_paths_load_no_extension_module():
    loaded = loaded_modules()
    ext = sorted(m for m in loaded if any(m == e or m.startswith(e + ".") for e in EXTENSIONS))
    assert ext == []
    assert loaded == CLOSURE


SOURCE_DIRS = ["epss_spark", "examples", "tools", "perfbench", "tests"]
# os.walk yields nothing for a file, so the root-level scripts are listed apart
ROOT_SCRIPTS = ["bench.py", "__spark_entry__.py"]


def _module_path(name: str) -> str | None:
    base = os.path.join(ROOT, *name.split("."))
    for path in (base + ".py", os.path.join(base, "__init__.py")):
        if os.path.isfile(path):
            return path
    return None


def _top_level_names(path: str) -> set[str]:
    """Names a module defines at import time: defs, classes, assignments
    and imports, including those under top-level if/try blocks."""
    names: set[str] = set()
    stack = list(ast.parse(open(path).read(), path).body)
    while stack:
        node = stack.pop()
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            names.add(node.name)
        elif isinstance(node, (ast.Assign, ast.AnnAssign, ast.AugAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for t in targets:
                names.update(n.id for n in ast.walk(t) if isinstance(n, ast.Name))
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            names.update((a.asname or a.name).split(".")[0] for a in node.names)
        elif isinstance(node, (ast.If, ast.Try, ast.With)):
            for field in ("body", "orelse", "finalbody", "handlers"):
                stack.extend(getattr(node, field, []))
        elif isinstance(node, ast.ExceptHandler):
            stack.extend(node.body)
    return names


def _source_files():
    for d in SOURCE_DIRS:
        for dirpath, _, files in os.walk(os.path.join(ROOT, d)):
            yield from (os.path.join(dirpath, f) for f in sorted(files) if f.endswith(".py"))
    for f in ROOT_SCRIPTS:
        yield os.path.join(ROOT, f)


def _internal_imports():
    """(file, line, module, imported name or None) for every import of an
    epss_spark module anywhere in the source files, nested ones included."""
    for path in _source_files():
        rel = os.path.relpath(path, ROOT)
        package = os.path.dirname(rel).replace(os.sep, ".")
        for node in ast.walk(ast.parse(open(path).read(), path)):
            if isinstance(node, ast.Import):
                for a in node.names:
                    if a.name.split(".")[0] == "epss_spark":
                        yield rel, node.lineno, a.name, None
            elif isinstance(node, ast.ImportFrom):
                module = node.module or ""
                if node.level:
                    base = package.rsplit(".", node.level - 1)[0]
                    module = f"{base}.{module}" if module else base
                if module.split(".")[0] == "epss_spark":
                    for a in node.names:
                        yield rel, node.lineno, module, a.name


def test_every_internal_import_resolves():
    names_cache: dict[str, set[str]] = {}
    dangling = []
    n_checked = 0
    for rel, line, module, name in _internal_imports():
        n_checked += 1
        path = _module_path(module)
        if path is None:
            dangling.append(f"{rel}:{line}: no module {module}")
            continue
        if name is None or name == "*":
            continue
        if path not in names_cache:
            names_cache[path] = _top_level_names(path)
        if name not in names_cache[path] and _module_path(f"{module}.{name}") is None:
            dangling.append(f"{rel}:{line}: {module} defines no {name}")
    assert n_checked > 100
    assert dangling == []


def _registered_names() -> set[str]:
    """Every query name passed to registry.register in the package."""
    names = set()
    for f in sorted(os.listdir(os.path.join(ROOT, "epss_spark"))):
        if not f.endswith(".py"):
            continue
        tree = ast.parse(open(os.path.join(ROOT, "epss_spark", f)).read(), f)
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Name)
                and node.func.id == "register"
                and node.args
                and isinstance(node.args[0], ast.Constant)
            ):
                names.add(node.args[0].value)
    return names


def _list_literal(rel: str, var: str) -> list[str]:
    """The string entries of the module-level list literal `var` in `rel`."""
    tree = ast.parse(open(os.path.join(ROOT, rel)).read(), rel)
    for node in tree.body:
        if isinstance(node, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id == var for t in node.targets
        ):
            return [e.value for e in node.value.elts]
    raise AssertionError(f"{rel} defines no {var}")


def test_query_name_lists_are_registered():
    """The hand-kept query-name lists must name registered queries only,
    so deleting a query cannot leave a name that fails late or never
    (bench.py's HEADLINE)."""
    registered = _registered_names()
    assert len(registered) == 50
    dangling = [
        f"{rel}::{var}: {name}"
        for rel, var in (
            ("bench.py", "HEADLINE"),
            ("tests/test_entry.py", "FAST_PARITY"),
        )
        for name in _list_literal(rel, var)
        if name not in registered
    ]
    assert dangling == []
