"""Every `dbsync_spark` module is reached from a product path.

A product path is the grading entry (`__spark_entry__.py`), `bench.py`,
a tool, an example or the benchmark harness; the package's own modules
count once one of those reaches them. Tests do not count: a module that
only tests import is code no product runs, and belongs under `tests/`
or nowhere. The scan is static (AST imports, including the ones inside
functions), so it needs no Spark.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PACKAGE = "dbsync_spark"
PRODUCT_ROOTS = ("__spark_entry__.py", "bench.py", "tools", "examples",
                 "perfbench")

# module -> why it stays although no product path imports it
ALLOWED = {
    "dbsync_spark.sources.capture":
        "the reference's trigger-capture surface (DDL generation and "
        "trigger version detection), driven by operators outside Spark",
}


def _module_name(root: Path, path: Path) -> str:
    parts = list(path.relative_to(root).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _imports(root: Path, path: Path) -> set[str]:
    """Every module `path` imports, resolved to dotted names: for `from
    x import y`, both x and x.y (y may be a submodule)."""
    here = _module_name(root, path).split(".")
    if path.name != "__init__.py":
        here.pop()
    out = set()
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            out.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                prefix = here[:len(here) - node.level + 1]
                base = ".".join(prefix + ([base] if base else []))
            out.add(base)
            out.update(f"{base}.{a.name}" for a in node.names)
    return out


def _with_parents(names: set[str]) -> set[str]:
    """Importing a.b.c runs the packages a and a.b first."""
    return {".".join(n.split(".")[:i]) for n in names
            for i in range(1, n.count(".") + 2)}


def _product_files(root: Path) -> list[Path]:
    files = []
    for entry in PRODUCT_ROOTS:
        p = root / entry
        if p.is_file():
            files.append(p)
        elif p.is_dir():
            files += [f for f in p.rglob("*.py")
                      if "tests" not in f.relative_to(p).parts]
    return files


def unreached_modules(root: Path) -> set[str]:
    """Package modules no product path reaches, directly or through
    other reached package modules."""
    modules = {_module_name(root, f): f
               for f in (root / PACKAGE).rglob("*.py")}
    reached = set()
    todo = set()
    for f in _product_files(root):
        todo |= _with_parents(_imports(root, f))
    while todo:
        name = todo.pop()
        if name in reached or name not in modules:
            continue
        reached.add(name)
        todo |= _with_parents(_imports(root, modules[name])) - reached
    return set(modules) - reached


def test_every_package_module_is_reached_from_a_product_path():
    assert unreached_modules(REPO) == set(ALLOWED)


def test_scan_flags_a_module_only_tests_import(tmp_path):
    """The scan itself: a module that only a test imports is flagged; one
    that a tool reaches through another package module is not."""
    pkg = tmp_path / PACKAGE
    (pkg / "sub").mkdir(parents=True)
    for name in ("__init__.py", "sub/__init__.py"):
        (pkg / name).write_text("")
    (pkg / "sub" / "used.py").write_text("from . import helper\n")
    (pkg / "sub" / "helper.py").write_text("")
    (pkg / "planted.py").write_text("")
    (tmp_path / "tools").mkdir()
    (tmp_path / "tools" / "run.py").write_text(
        "def main():\n    from dbsync_spark.sub import used\n")
    (tmp_path / "tests").mkdir()
    (tmp_path / "tests" / "test_x.py").write_text(
        "import dbsync_spark.planted\n")
    assert unreached_modules(tmp_path) == {"dbsync_spark.planted"}
