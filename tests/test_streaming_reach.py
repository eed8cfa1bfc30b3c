"""Reachability guards for the library modules (no Spark needed).

Every public top-level name in the streaming module must be used by code
in pandaspark/ outside that file — in practice by the registry's
streaming entries. An operator only tests call is dead library code:
delete it, or make it private if a public operator depends on it.

Every other top-level definition in pandaspark/, public or private, must
be reached from a program path: the package, the entry point, bench.py,
scripts/ or perfbench/ (not its tests). The roots are module-level
statements, decorated definitions, names another program file uses and
string literals that name a definition; a definition a root uses is
reached too. Test reference implementations are listed by name with the
reason they stay.

Every defaulted parameter of those definitions must be set by a program
call; a parameter no program call sets is a constant. Test seams are
listed by name with the reason they stay.
"""

from __future__ import annotations

import ast
import pathlib
import re

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


# definitions no program path reaches, kept because tests need them;
# they count as roots, so their own private helpers need no entry
TEST_REFERENCES = {
    "asof_join": "semantic anchor that asof_join_bucketed (q28) must equal",
    "two_phase_running_total": "composed reference form for ranked_running_total",
    "encode_bmp": "builds the BMP fixtures of the decode_bytes tests",
    "encode_ppm": "builds the PPM fixtures of the decode_bytes tests",
    "encode_png": "builds the PNG fixtures of the decode_bytes tests",
    "cosine_topk_arrow": "ROADMAP item 7 gives them a caller or deletes them",
    "load_query_vectors": "ROADMAP item 7 gives them a caller or deletes them",
}


def _program_files() -> list[pathlib.Path]:
    files = list(PKG.rglob("*.py")) + [ROOT / "__spark_entry__.py", ROOT / "bench.py"]
    files += (ROOT / "scripts").rglob("*.py")
    files += (
        p for p in (ROOT / "perfbench").rglob("*.py")
        if "tests" not in p.relative_to(ROOT / "perfbench").parts
    )
    return files


def _references(tree: ast.AST) -> set[str]:
    """Names a tree uses, plus its string literals: a string can name a
    definition (cli._REPORTS dispatches reports by name). Docstrings and
    __all__ entries name things without using them."""
    skip = set()
    for node in ast.walk(tree):
        body = getattr(node, "body", None)
        if (
            isinstance(node, (ast.Module, ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
            and body
            and isinstance(body[0], ast.Expr)
            and isinstance(body[0].value, ast.Constant)
        ):
            skip.add(id(body[0].value))
        elif isinstance(node, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id == "__all__" for t in node.targets
        ):
            skip.update(id(n) for n in ast.walk(node.value))
    strings = {
        n.value for n in ast.walk(tree)
        if isinstance(n, ast.Constant) and isinstance(n.value, str) and id(n) not in skip
    }
    return _used_names(tree) | strings


def _unreached(tree: ast.Module, used: set[str], keep) -> set[str]:
    defs = _definitions(tree)
    # module-level statements that define nothing run on import, and a
    # decorated definition hands itself to its decorator (@register)
    roots = [n for n in tree.body if n not in defs.values()]
    reached = set()
    todo = [
        name for name, node in defs.items()
        if name in used or name in keep or getattr(node, "decorator_list", None)
    ]
    todo += [name for node in roots for name in _references(node) if name in defs]
    while todo:
        name = todo.pop()
        if name not in reached:
            reached.add(name)
            todo += [n for n in _references(defs[name]) if n in defs]
    return {n for n in defs if not (n.startswith("__") and n.endswith("__"))} - reached


def test_every_definition_is_reached_from_a_program_path():
    used_by = {p: _references(ast.parse(p.read_text())) for p in _program_files()}
    stray, unlisted = set(), set()
    for module in PKG.rglob("*.py"):
        tree = ast.parse(module.read_text())
        used = set().union(*(u for p, u in used_by.items() if p != module))
        stray |= _unreached(tree, used, TEST_REFERENCES)
        unlisted |= _unreached(tree, used, ())
    assert sorted(stray) == [], f"reached only from tests: {sorted(stray)}"
    # a listed reference that gains a caller leaves the list
    assert sorted(TEST_REFERENCES.keys() - unlisted) == []


_NOQA_F401 = re.compile(r"# noqa: [\w,]*F401")


def _unused_imports(path: pathlib.Path) -> list[str]:
    text = path.read_text()
    lines = text.splitlines()
    tree = ast.parse(text)
    loaded = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
    unused = []
    for node in ast.walk(tree):
        if not isinstance(node, (ast.Import, ast.ImportFrom)) or _NOQA_F401.search(lines[node.lineno - 1]):
            continue
        if isinstance(node, ast.ImportFrom) and node.module == "__future__":
            continue
        for alias in node.names:
            bound = alias.asname or alias.name.split(".")[0]
            if bound not in loaded:
                unused.append(f"{path.relative_to(ROOT)}:{node.lineno} {bound}")
    return unused


def test_every_import_in_the_package_is_used():
    """The repo has no linter: an import nothing reads is dead code, in the
    package, its tests, scripts/ and bench.py. Imports made for their side
    effect (the registry's query modules) carry `# noqa: F401`."""
    files = [*PKG.rglob("*.py"), *(ROOT / "tests").rglob("*.py"),
             *(ROOT / "scripts").rglob("*.py"), ROOT / "bench.py"]
    unused = [u for path in sorted(files) for u in _unused_imports(path)]
    assert unused == []


# defaulted parameters no program path sets, kept because tests set them
TEST_SEAMS = {
    "main.argv": "tests drive the CLI in-process",
    "asof_join_bucketed.bucket_seconds": "forces bucket crossings on second-scale data",
    "grouped_quantiles_bucket_refine.bucket_bits": "forces bucket collisions on small data",
    "grouped_weighted_median.bucket_bits": "forces bucket collisions on small data",
}


def _defaulted_params(fn: ast.FunctionDef, method: bool) -> dict[str, tuple[int | None, str]]:
    """name -> (position or None for keyword-only, source of the default)."""
    static = any(ast.unparse(d) == "staticmethod" for d in fn.decorator_list)
    positional = fn.args.posonlyargs + fn.args.args
    if method and not static:
        positional = positional[1:]
    first = len(positional) - len(fn.args.defaults)
    out = {
        arg.arg: (first + i, ast.unparse(default))
        for i, (arg, default) in enumerate(zip(positional[first:], fn.args.defaults))
    }
    for arg, default in zip(fn.args.kwonlyargs, fn.args.kw_defaults):
        if default is not None:
            out[arg.arg] = (None, ast.unparse(default))
    return out


def _option_functions() -> list[tuple[str, ast.FunctionDef, bool]]:
    """Top-level functions of pandaspark/ and methods of its top-level
    classes; nested functions are out of scope."""
    fns = []
    for module in sorted(PKG.rglob("*.py")):
        for node in ast.parse(module.read_text()).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                fns.append((node.name, node, False))
            elif isinstance(node, ast.ClassDef):
                fns += [
                    (f.name, f, True) for f in node.body
                    if isinstance(f, (ast.FunctionDef, ast.AsyncFunctionDef))
                ]
    return fns


def _set_params(call: ast.Call, params: dict[str, tuple[int | None, str]]) -> set[str]:
    if any(isinstance(a, ast.Starred) for a in call.args) or any(
        k.arg is None for k in call.keywords
    ):
        return set(params)
    passed = {k.arg: k.value for k in call.keywords}
    for name, (pos, _) in params.items():
        if pos is not None and pos < len(call.args):
            passed[name] = call.args[pos]
    return {
        name for name, value in passed.items()
        if name in params and ast.unparse(value) != params[name][1]
    }


def test_every_option_is_set_by_a_program_path():
    """A defaulted parameter every program call leaves at its default is
    a constant: each option doubles the configurations tests must
    cover. A call sets a parameter when it passes it, by keyword or by
    position, as source text that differs from the default's; *args or
    **kwargs set them all."""
    calls: dict[str, list[ast.Call]] = {}
    for path in _program_files():
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Call):
                f = node.func
                name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
                calls.setdefault(name, []).append(node)
    unset = set()
    for name, fn, method in _option_functions():
        if name in TEST_REFERENCES:
            continue
        params = _defaulted_params(fn, method)
        for call in calls.get(name, []):
            params = {p: v for p, v in params.items() if p not in _set_params(call, params)}
        unset |= {f"{name}.{p}" for p in params}
    unused = sorted(unset - TEST_SEAMS.keys())
    assert unused == [], f"options no program path sets: {unused}"
    # a seam that gains a program caller leaves the list
    assert sorted(TEST_SEAMS.keys() - unset) == []
