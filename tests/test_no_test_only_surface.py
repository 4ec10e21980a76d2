"""Source check: every top-level def in the package is used by the engine.

A def (function or class) counts as used when its name appears as an AST
name, attribute or imported name somewhere in the package, ``perfbench/``,
``tools/`` or ``bench.py``, outside the def's own body. A re-export in a
package ``__init__.py`` does not count: it makes a name importable, not
used. A def that only ``tests/`` reaches is surface no registered query,
pipeline or benchmark runs: delete it, or call it from the code that
should own it.
"""

from __future__ import annotations

import ast
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "aws_glue_etl_sample_hist_spark")

ALLOWED = {
    # the reference's day-of-week UDF, kept so tests pin its semantics
    # against the JVM twin below
    "change_day_of_week",
    # the JVM-builtin twin of the reference-semantics UDF change_day_of_week;
    # tests pin the two against each other, so it exists to be compared
    "builtin_change_day_of_week",
    # the reference's S11 JDBC extract, run against embedded Derby in tests
    "read_jdbc",
}


def _py_files(root: str) -> list[str]:
    out = []
    for d, _dirs, files in os.walk(root):
        if os.sep + "tests" in d[len(REPO):]:
            continue
        out.extend(os.path.join(d, f) for f in files if f.endswith(".py"))
    return sorted(out)


def _names_used(node: ast.AST, skip: dict[int, str], *, reexports: bool) -> set[str]:
    used = set()
    for sub in ast.walk(node):
        if isinstance(sub, ast.Name):
            name = sub.id
        elif isinstance(sub, ast.Attribute):
            name = sub.attr
        elif isinstance(sub, ast.alias) and not reexports:
            name = sub.name.rsplit(".", 1)[-1]
        else:
            continue
        # a def's use of its own name (recursion) does not count
        if skip.get(id(sub)) != name:
            used.add(name)
    return used


def test_no_package_def_is_reached_only_by_tests():
    sources = (
        _py_files(PKG)
        + _py_files(os.path.join(REPO, "perfbench"))
        + _py_files(os.path.join(REPO, "tools"))
        + [os.path.join(REPO, "bench.py")]
    )
    defs: list[tuple[str, str, int]] = []
    used: set[str] = set()
    for path in sources:
        with open(path) as f:
            tree = ast.parse(f.read(), path)
        own: dict[int, str] = {}
        if path.startswith(PKG + os.sep):
            for node in tree.body:
                if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                    defs.append((node.name, os.path.relpath(path, REPO), node.lineno))
                    own.update((id(sub), node.name) for sub in ast.walk(node))
        init = path.startswith(PKG + os.sep) and path.endswith("__init__.py")
        used |= _names_used(tree, own, reexports=init)
    assert len(defs) > 100  # the scan found the package
    assert ALLOWED <= {name for name, _path, _line in defs}
    orphans = [
        f"{path}:{line} {name}"
        for name, path, line in defs
        if name not in used and name not in ALLOWED
    ]
    assert orphans == [], (
        "top-level defs that only tests reach (delete them, or call them "
        f"from the engine): {orphans}"
    )
