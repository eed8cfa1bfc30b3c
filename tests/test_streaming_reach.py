"""Reachability guard for pandaspark/streaming.py (no Spark needed).

Every public top-level name in the streaming module must be used by code
in pandaspark/ outside that file — in practice by the registry's
streaming entries. An operator only tests call is dead library code:
delete it, or make it private if a public operator depends on it.
"""

from __future__ import annotations

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / "pandaspark"


def _public_names(tree: ast.Module) -> set[str]:
    names = set()
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
            names.add(node.name)
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            names.update(t.id for t in targets if isinstance(t, ast.Name))
    return {n for n in names if not n.startswith("_")}


def _used_names(tree: ast.Module) -> set[str]:
    used = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            used.add(node.id)
        elif isinstance(node, ast.Attribute):
            used.add(node.attr)
        elif isinstance(node, ast.ImportFrom):
            used.update(a.name for a in node.names)
    return used


def test_every_public_streaming_name_has_a_caller_in_the_package():
    module = PKG / "streaming.py"
    public = _public_names(ast.parse(module.read_text()))
    used = set()
    for path in PKG.rglob("*.py"):
        if path != module:
            used |= _used_names(ast.parse(path.read_text()))
    assert public, "streaming.py defines no public names"
    assert sorted(public - used) == []
