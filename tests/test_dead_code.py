"""No dead code in the package: every top-level def, class and assignment of
``norsk_historisk_avis_ocr_spark`` is referenced somewhere — by the package,
the jobs, the contract entry point, the benchmarks, the tools or the tests.

A reference is a name read (``f``), an attribute access (``mod.f``) or an
import of the name from another module. Docstrings and other string
literals do not count, and neither does the statement that defines the
name (recursion keeps nothing alive)."""

import ast
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "norsk_historisk_avis_ocr_spark"
SCOPE = [PACKAGE, "jobs", "__spark_entry__.py", "bench.py", "perfbench",
         "tools", "tests"]


def _py_files():
    for entry in SCOPE:
        path = os.path.join(REPO, entry)
        if path.endswith(".py"):
            yield path
            continue
        for root, _dirs, files in os.walk(path):
            yield from (os.path.join(root, f) for f in sorted(files)
                        if f.endswith(".py"))


def _definitions(tree):
    """(name, first line, last line) of each top-level definition."""
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                             ast.ClassDef)):
            names = [node.name]
        elif isinstance(node, ast.Assign):
            names = [t.id for t in node.targets if isinstance(t, ast.Name)]
        elif isinstance(node, ast.AnnAssign) and \
                isinstance(node.target, ast.Name):
            names = [node.target.id]
        else:
            continue
        start = min([node.lineno]
                    + [d.lineno for d in getattr(node, "decorator_list", [])])
        for name in names:
            if not (name.startswith("__") and name.endswith("__")):
                yield name, start, node.end_lineno


def _references(tree, is_package_init):
    """(name, line) of each name read, attribute access and import. An
    ``__init__`` re-exporting a name from its own package is not a use."""
    for node in ast.walk(tree):
        if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
            yield node.id, node.lineno
        elif isinstance(node, ast.Attribute):
            yield node.attr, node.lineno
        elif isinstance(node, ast.ImportFrom) and not (
                is_package_init and node.level > 0):
            for alias in node.names:
                yield alias.name, node.lineno


def test_every_top_level_definition_is_referenced():
    defs, refs = [], {}
    for path in _py_files():
        with open(path, encoding="utf-8") as f:
            tree = ast.parse(f.read(), filename=path)
        rel = os.path.relpath(path, REPO)
        if rel.startswith(PACKAGE + os.sep):
            defs += [(rel, *d) for d in _definitions(tree)]
        is_init = os.path.basename(path) == "__init__.py"
        for name, line in _references(tree, is_init):
            refs.setdefault(name, []).append((rel, line))
    dead = [f"{rel}:{start} {name}" for rel, name, start, end in defs
            if not any(not (where == rel and start <= line <= end)
                       for where, line in refs.get(name, ()))]
    assert not dead, "unreferenced top-level definitions:\n" + "\n".join(dead)
