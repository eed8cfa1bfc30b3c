"""Reachability guards for the library modules (no Spark needed).

Every public top-level name in the streaming module must be used by code
in pandaspark/ outside that file — in practice by the registry's
streaming entries. An operator only tests call is dead library code:
delete it, or make it private if a public operator depends on it.

The census modules (store, multimodal, operators, expectations) follow a
wider rule: a public name must be reached from the package, the entry
point, bench.py, scripts/ or perfbench/ (not its tests), directly or
through a reached definition of its own module. Test reference
implementations are listed by name with the reason they stay.
"""

from __future__ import annotations

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
PKG = ROOT / "pandaspark"


def _definitions(tree: ast.Module) -> dict[str, ast.stmt]:
    defs = {}
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
            defs[node.name] = node
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            defs.update((t.id, node) for t in targets if isinstance(t, ast.Name))
    return defs


def _public_names(tree: ast.Module) -> set[str]:
    return {n for n in _definitions(tree) if not n.startswith("_")}


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


CENSUS = ("store.py", "multimodal.py", "operators.py", "expectations.py")

# public names no program path calls, kept because tests need them
TEST_REFERENCES = {
    "asof_join": "semantic anchor that asof_join_bucketed (q28) must equal",
    "two_phase_running_total": "composed reference form for ranked_running_total",
    "encode_bmp": "builds the BMP fixtures of the decode_bytes tests",
    "encode_ppm": "builds the PPM fixtures of the decode_bytes tests",
    "encode_png": "builds the PNG fixtures of the decode_bytes tests",
}


def _program_files() -> list[pathlib.Path]:
    files = list(PKG.rglob("*.py")) + [ROOT / "__spark_entry__.py", ROOT / "bench.py"]
    files += (ROOT / "scripts").rglob("*.py")
    files += (
        p for p in (ROOT / "perfbench").rglob("*.py")
        if "tests" not in p.relative_to(ROOT / "perfbench").parts
    )
    return files


def _unreached(tree: ast.Module, used: set[str]) -> set[str]:
    defs = _definitions(tree)
    # module-level statements that define nothing run on import
    roots = [n for n in tree.body if n not in defs.values()]
    reached = set()
    todo = [name for name in defs if name in used]
    todo += [name for node in roots for name in _used_names(node) if name in defs]
    while todo:
        name = todo.pop()
        if name not in reached:
            reached.add(name)
            todo += [n for n in _used_names(defs[name]) if n in defs]
    return _public_names(tree) - reached


def test_every_public_census_name_is_reached_from_a_program_path():
    used_by = {p: _used_names(ast.parse(p.read_text())) for p in _program_files()}
    unreached = set()
    for name in CENSUS:
        module = PKG / name
        used = set().union(*(u for p, u in used_by.items() if p != module))
        unreached |= _unreached(ast.parse(module.read_text()), used)
    stray = sorted(unreached - TEST_REFERENCES.keys())
    assert stray == [], f"reached only from tests: {stray}"
    # a listed reference that gains a caller leaves the list
    assert sorted(TEST_REFERENCES.keys() - unreached) == []
