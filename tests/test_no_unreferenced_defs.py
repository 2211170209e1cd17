"""Every top-level function and class of the package is referenced
somewhere: by other package code, a test, a script, the benchmark or
the string-keyed query registry.  Pure AST scan, no Spark.

A reference is an identifier in code: a name, an attribute, an import
alias, or a word inside a string constant (the registry imports some
modules and functions by name).  Comments and docstrings do not count,
so a def that is only mentioned in prose is still reported.  Delete a
def that nothing references rather than keep it."""

import ast
import os
import re
from collections import Counter

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(ROOT, "s2_geometry_kotlin_spark")
_BODIES = (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)


def _py_files():
    for d, dirs, files in os.walk(ROOT):
        # skip .git, caches and run directories (joinbench/_runs, ...)
        dirs[:] = [x for x in dirs if not x.startswith((".", "_"))]
        for f in files:
            if f.endswith(".py"):
                yield os.path.join(d, f)


def _references(tree) -> Counter:
    """Identifiers a module uses; a def's own name is not one of them."""
    docstrings = {id(node.body[0].value) for node in ast.walk(tree)
                  if isinstance(node, _BODIES) and node.body
                  and isinstance(node.body[0], ast.Expr)
                  and isinstance(node.body[0].value, ast.Constant)}
    refs: Counter = Counter()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            refs[node.id] += 1
        elif isinstance(node, ast.Attribute):
            refs[node.attr] += 1
        elif isinstance(node, ast.alias):
            refs.update(node.name.split("."))
            if node.asname:
                refs[node.asname] += 1
        elif (isinstance(node, ast.Constant) and isinstance(node.value, str)
              and id(node) not in docstrings):
            refs.update(re.findall(r"\w+", node.value))
    return refs


def test_every_package_def_is_referenced():
    refs: Counter = Counter()
    defs: list[tuple[str, str]] = []
    for path in _py_files():
        with open(path) as f:
            tree = ast.parse(f.read())
        refs.update(_references(tree))
        if path.startswith(PACKAGE + os.sep):
            for node in tree.body:
                if (isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                      ast.ClassDef))
                        and not node.name.startswith("__")):
                    defs.append((os.path.relpath(path, ROOT), node.name))
    unreferenced = sorted(f"{path}: {name}" for path, name in defs
                          if not refs[name])
    assert not unreferenced, "unreferenced package defs:\n" + \
        "\n".join(unreferenced)


def test_prose_is_not_a_reference():
    tree = ast.parse('"""mentions dead_a"""\n'
                     'def f():\n'
                     '    """and dead_b"""\n'
                     '    # and dead_c\n'
                     '    return live_a.live_b, "live_c"\n'
                     'from m import live_d as live_e\n')
    refs = _references(tree)
    assert not {"dead_a", "dead_b", "dead_c", "f"} & set(refs)
    assert {"live_a", "live_b", "live_c", "live_d", "live_e"} <= set(refs)
