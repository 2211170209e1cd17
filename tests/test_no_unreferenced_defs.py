"""Every top-level name of the package is referenced somewhere: by other
package code, a test, a script, the benchmark or the string-keyed query
registry.  Pure AST scan, no Spark.

A reference is an identifier in code: a name that is read, an attribute,
an import alias, or a word inside a string constant (the registry
imports some modules and functions by name).  Assigning a name does not
reference it.  Comments and docstrings do not count, so a name that is
only mentioned in prose is still reported.  The scan covers the
package's top-level functions, classes, assignments and imports, and
the top-level functions of `__spark_entry__.py`.  Delete a name that
nothing references rather than keep it."""

import ast
import functools
import os
import re
from collections import Counter

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(ROOT, "s2_geometry_kotlin_spark")
ENTRY = os.path.join(ROOT, "__spark_entry__.py")
_BODIES = (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _py_files():
    for d, dirs, files in os.walk(ROOT):
        # skip .git, caches and run directories (joinbench/_runs, ...)
        dirs[:] = [x for x in dirs if not x.startswith((".", "_"))]
        for f in files:
            if f.endswith(".py"):
                yield os.path.join(d, f)


def _module_name(path: str) -> str:
    parts = os.path.relpath(path, ROOT)[:-len(".py")].split(os.sep)
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


def _imported_from(node: ast.ImportFrom, path: str) -> str:
    """The absolute module a `from ... import` statement reads."""
    if not node.level:
        return node.module or ""
    pkg = _module_name(path).split(".")
    if not path.endswith("__init__.py"):
        pkg = pkg[:-1]
    base = pkg[:len(pkg) - node.level + 1]
    return ".".join(base + ([node.module] if node.module else []))


def _references(tree, with_aliases: bool = True) -> Counter:
    """Identifiers a module uses; a def's own name and an assignment's
    target are not among them."""
    docstrings = {id(node.body[0].value) for node in ast.walk(tree)
                  if isinstance(node, _BODIES) and node.body
                  and isinstance(node.body[0], ast.Expr)
                  and isinstance(node.body[0].value, ast.Constant)}
    refs: Counter = Counter()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            if not isinstance(node.ctx, ast.Store):
                refs[node.id] += 1
        elif isinstance(node, ast.Attribute):
            refs[node.attr] += 1
        elif isinstance(node, ast.alias):
            if with_aliases:
                refs.update(node.name.split("."))
                if node.asname:
                    refs[node.asname] += 1
        elif (isinstance(node, ast.Constant) and isinstance(node.value, str)
              and id(node) not in docstrings):
            refs.update(re.findall(r"\w+", node.value))
    return refs


def _targets(node) -> list[str]:
    """Names a module-level assignment binds."""
    if isinstance(node, ast.Assign):
        targets = node.targets
    elif isinstance(node, ast.AnnAssign):
        targets = [node.target]
    else:
        return []
    return [n.id for t in targets for n in ast.walk(t)
            if isinstance(n, ast.Name)]


def _bindings(node) -> list[str]:
    """Names a module-level import binds."""
    if isinstance(node, ast.Import):
        return [a.asname or a.name.split(".")[0] for a in node.names]
    if isinstance(node, ast.ImportFrom) and node.module != "__future__":
        return [a.asname or a.name for a in node.names]
    return []


@functools.lru_cache(maxsize=None)
def _scan():
    """Parse every repo .py file once: {path: tree}, the repo-wide
    references, and (module, name) pairs that some file imports."""
    trees = {}
    for path in _py_files():
        with open(path) as f:
            trees[path] = ast.parse(f.read())
    refs: Counter = Counter()
    imported: set[tuple[str, str]] = set()
    for path, tree in trees.items():
        refs.update(_references(tree))
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom):
                src = _imported_from(node, path)
                imported.update((src, a.name) for a in node.names)
    return trees, refs, imported


def _package_trees():
    trees, _, _ = _scan()
    return {p: t for p, t in trees.items() if p.startswith(PACKAGE + os.sep)}


def _report(kind: str, unreferenced: list[str]) -> None:
    assert not unreferenced, f"unreferenced {kind}:\n" + \
        "\n".join(sorted(unreferenced))


def _defs(tree):
    """(qualified name, name) of a module's top-level functions and
    classes and of the methods of its top-level classes."""
    for node in tree.body:
        if isinstance(node, _DEFS):
            yield node.name, node.name
        if isinstance(node, ast.ClassDef):
            for member in node.body:
                if isinstance(member, _DEFS):
                    yield f"{node.name}.{member.name}", member.name


def test_every_package_def_is_referenced():
    """Methods count too: a per-cell helper left behind by a batched
    predicate (say a `Loop._boundary_crosses_cell` beside
    `_boundary_crosses_cells`) is reported like a dead function."""
    trees, refs, _ = _scan()
    scanned = dict(_package_trees())
    scanned[ENTRY] = trees[ENTRY]
    _report("defs", [
        f"{os.path.relpath(path, ROOT)}: {qualified}"
        for path, tree in scanned.items()
        for qualified, name in _defs(tree)
        if not name.startswith("__") and not refs[name]])


def test_a_dead_method_is_reported():
    tree = ast.parse("class Loop:\n"
                     "    def _boundary_crosses_cells(self): pass\n"
                     "    def _boundary_crosses_cell(self): pass\n"
                     "    def __init__(self): self._boundary_crosses_cells()\n"
                     "Loop()\n")
    refs = _references(tree)
    dead = [q for q, name in _defs(tree)
            if not name.startswith("__") and not refs[name]]
    assert dead == ["Loop._boundary_crosses_cell"]


def test_every_package_constant_is_referenced():
    _, refs, _ = _scan()
    _report("module-level assignments", [
        f"{os.path.relpath(path, ROOT)}: {name}"
        for path, tree in _package_trees().items() for node in tree.body
        for name in _targets(node)
        if not name.startswith("__") and not refs[name]])


def test_every_package_import_is_used():
    """An import is used when its module reads the bound name, when some
    file imports that name from the module (a re-export), or when some
    file reads it as an attribute."""
    trees, _, imported = _scan()
    attrs = Counter(n.attr for tree in trees.values()
                    for n in ast.walk(tree) if isinstance(n, ast.Attribute))
    unused = []
    for path, tree in _package_trees().items():
        local = _references(tree, with_aliases=False)
        module = _module_name(path)
        for node in tree.body:
            for name in _bindings(node):
                if not (local[name] or attrs[name]
                        or (module, name) in imported):
                    unused.append(f"{os.path.relpath(path, ROOT)}: {name}")
    _report("imports", unused)


def test_prose_is_not_a_reference():
    tree = ast.parse('"""mentions dead_a"""\n'
                     'def f():\n'
                     '    """and dead_b"""\n'
                     '    # and dead_c\n'
                     '    return live_a.live_b, "live_c"\n'
                     'from m import live_d as live_e\n'
                     'dead_d = live_f\n')
    refs = _references(tree)
    assert not {"dead_a", "dead_b", "dead_c", "dead_d", "f"} & set(refs)
    assert {"live_a", "live_b", "live_c", "live_d", "live_e",
            "live_f"} <= set(refs)


def test_relative_imports_resolve_to_their_module():
    path = os.path.join(PACKAGE, "kernel", "cellid.py")
    init = os.path.join(PACKAGE, "functions", "__init__.py")
    node = ast.parse("from .tables import X").body[0]
    assert _imported_from(node, path) == \
        "s2_geometry_kotlin_spark.kernel.tables"
    node = ast.parse("from ..kernel import pip").body[0]
    assert _imported_from(node, init) == "s2_geometry_kotlin_spark.kernel"
