"""Every public top-level function and class in ``annotation_service_spark/``
has a caller outside ``tests/`` or a COVERAGE.md row.

A caller is an AST reference, in any ``.py`` file of the repo outside
``tests/``: a ``Name``, an ``Attribute`` or an import alias. Strings,
docstrings and comments do not count, so a name that only a docstring
mentions has no caller. A name that only its own tests reach is either
reference surface, and then a COVERAGE.md row names it inside a code
span (backticks) with its citation, or it goes; a prose mention does
not count.

A parameter with a literal ``bool`` default picks a code path, so it
needs a caller too: for every public library function called outside
``tests/``, some call outside ``tests/`` must pass each such parameter
a value other than its default, or the parameter is in
``BOOL_FORK_ALLOWLIST`` with its reason. No Spark session is needed."""

from __future__ import annotations

import ast
import pathlib
import re

ROOT = pathlib.Path(__file__).resolve().parent.parent
LIBRARY = "annotation_service_spark"
SKIP_DIRS = {"tests", "__pycache__", "spark-warehouse"}
# function.parameter -> why a bool fork that only tests move stays
BOOL_FORK_ALLOWLIST = {
    "extract_features.deterministic_fake": (
        "tests run the Spark path in its loud mode, so a codec regression "
        "fails instead of silently faking features"
    ),
}


def _sources(root: pathlib.Path):
    for path in sorted(root.rglob("*.py")):
        parts = path.relative_to(root).parts[:-1]
        if any(p in SKIP_DIRS or p.startswith(".") for p in parts):
            continue
        yield path, ast.parse(path.read_text(), str(path))


def _referenced(node: ast.AST, own: str | None = None) -> set[str]:
    names = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            names.add(n.id)
        elif isinstance(n, ast.Attribute):
            names.add(n.attr)
        elif isinstance(n, ast.alias):
            names.update(n.name.split("."))
            if n.asname:
                names.add(n.asname)
    names.discard(own)
    return names


def _code_span_words(text: str) -> set[str]:
    return {
        w for span in re.findall(r"`([^`\n]+)`", text)
        for w in re.findall(r"\w+", span)
    }


def unreferenced(root: pathlib.Path) -> list[str]:
    """``path:line name`` of each public top-level def or class in the
    library with no reference outside its own body and outside
    ``tests/``, and no mention inside a code span of COVERAGE.md."""
    refs: set[str] = set()
    defs = []
    for path, tree in _sources(root):
        rel = path.relative_to(root)
        for top in tree.body:
            if isinstance(top, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                refs |= _referenced(top, top.name)
                if rel.parts[0] == LIBRARY and not top.name.startswith("_"):
                    defs.append((rel, top.lineno, top.name))
            else:
                refs |= _referenced(top)
    covered = _code_span_words((root / "COVERAGE.md").read_text())
    return [
        f"{rel}:{line} {name}"
        for rel, line, name in defs
        if name not in refs and name not in covered
    ]


def _bool_defaults(fn: ast.FunctionDef) -> dict[str, tuple[int | None, bool]]:
    """name -> (position, or None when keyword-only; default) of each
    parameter of ``fn`` whose default is a literal ``bool``."""
    a = fn.args
    positional = a.posonlyargs + a.args
    first = len(positional) - len(a.defaults)
    pairs = [(first + i, arg, d) for i, (arg, d) in enumerate(zip(positional[first:], a.defaults))]
    pairs += [(None, arg, d) for arg, d in zip(a.kwonlyargs, a.kw_defaults)]
    return {
        arg.arg: (pos, d.value)
        for pos, arg, d in pairs
        if isinstance(d, ast.Constant) and isinstance(d.value, bool)
    }


def _passed(call: ast.Call, name: str, pos: int | None) -> ast.expr | None:
    for kw in call.keywords:
        if kw.arg == name:
            return kw.value
    if pos is not None and pos < len(call.args):
        return call.args[pos]
    return None


def unmoved_bool_forks(root: pathlib.Path) -> list[str]:
    """``function.parameter`` of each literal-``bool``-default parameter
    of a public top-level library function that some call outside
    ``tests/`` reaches, where no such call passes a value other than
    the default (a non-literal value counts as other) and the
    parameter is not in ``BOOL_FORK_ALLOWLIST``."""
    forks, calls = {}, []
    for path, tree in _sources(root):
        rel = path.relative_to(root)
        if rel.parts[0] == LIBRARY:
            for top in tree.body:
                if isinstance(top, (ast.FunctionDef, ast.AsyncFunctionDef)) and not top.name.startswith("_"):
                    forks[top.name] = _bool_defaults(top)
        calls += [n for n in ast.walk(tree) if isinstance(n, ast.Call)]
    called, moved = set(), set()
    for call in calls:
        f = call.func
        name = f.id if isinstance(f, ast.Name) else f.attr if isinstance(f, ast.Attribute) else None
        if name not in forks:
            continue
        called.add(name)
        for param, (pos, default) in forks[name].items():
            value = _passed(call, param, pos)
            if value is not None and not (isinstance(value, ast.Constant) and value.value is default):
                moved.add(f"{name}.{param}")
    return sorted(
        f"{name}.{param}"
        for name in called
        for param in forks[name]
        if f"{name}.{param}" not in moved | BOOL_FORK_ALLOWLIST.keys()
    )


def test_every_public_library_name_has_a_caller_or_coverage_row():
    missing = unreferenced(ROOT)
    assert not missing, (
        "public library names reached only by tests (give each a caller, "
        "a COVERAGE.md row with its reference citation, or delete it):\n"
        + "\n".join(missing)
    )


def test_guard_sees_through_docstrings_prose_and_self_reference(tmp_path):
    lib = tmp_path / LIBRARY
    lib.mkdir()
    (lib / "mod.py").write_text(
        "def used():\n    return 1\n\n\n"
        "def recursive(n):\n    return recursive(n - 1) if n else 0\n\n\n"
        "def unused_helper():\n    ...\n\n\n"
        "class Covered:\n    pass\n"
    )
    (tmp_path / "script.py").write_text(
        '"""Calls unused_helper and recursive, in prose only."""\n'
        "from annotation_service_spark.mod import used\n\nused()\n"
    )
    tests = tmp_path / "tests"
    tests.mkdir()
    (tests / "test_mod.py").write_text(
        "from annotation_service_spark.mod import unused_helper\n"
    )
    (tmp_path / "COVERAGE.md").write_text(
        "| unused_helper, in prose | `mod.py::Covered` | y |\n"
    )
    assert unreferenced(tmp_path) == [
        f"{LIBRARY}/mod.py:5 recursive",
        f"{LIBRARY}/mod.py:9 unused_helper",
    ]


def test_every_bool_fork_has_a_caller_that_moves_it():
    unmoved = unmoved_bool_forks(ROOT)
    assert not unmoved, (
        "bool parameters no call outside tests/ sets to the other value "
        "(delete the parameter and the branch only tests reach, or add it "
        "to BOOL_FORK_ALLOWLIST with its reason):\n" + "\n".join(unmoved)
    )


def test_bool_guard_flags_forks_only_tests_move(tmp_path):
    lib = tmp_path / LIBRARY
    lib.mkdir()
    (lib / "mod.py").write_text(
        "def test_only(x, fast: bool = False):\n    return x\n\n\n"
        "def at_default(x, *, exact=True):\n    return x\n\n\n"
        "def moved(x, fast=False):\n    return x\n\n\n"
        "def from_variable(x, fast=False):\n    return x\n\n\n"
        "def extract_features(media, deterministic_fake=True):\n    return media\n\n\n"
        "def uncalled(x, fast=False):\n    return x\n"
    )
    (tmp_path / "script.py").write_text(
        "from annotation_service_spark import mod\n\n"
        "mod.test_only(1)\n"
        "mod.at_default(1, exact=True)\n"
        "mod.moved(1, True)\n"
        "mod.from_variable(1, fast=__debug__)\n"
        "mod.extract_features(1)\n"
    )
    tests = tmp_path / "tests"
    tests.mkdir()
    (tests / "test_mod.py").write_text(
        "from annotation_service_spark import mod\n\n"
        "mod.test_only(1, fast=True)\n"
        "mod.at_default(1, exact=False)\n"
        "mod.uncalled(1, fast=True)\n"
    )
    assert unmoved_bool_forks(tmp_path) == ["at_default.exact", "test_only.fast"]
