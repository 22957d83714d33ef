"""Every public top-level function and class in ``annotation_service_spark/``
has a caller outside ``tests/`` or a COVERAGE.md row.

A caller is an AST reference, in any ``.py`` file of the repo outside
``tests/``: a ``Name``, an ``Attribute`` or an import alias. Strings,
docstrings and comments do not count, so a name that only a docstring
mentions has no caller. A name that only its own tests reach is either
reference surface, and then a COVERAGE.md row names it inside a code
span (backticks) with its citation, or it goes; a prose mention does
not count. No Spark session is needed."""

from __future__ import annotations

import ast
import pathlib
import re

ROOT = pathlib.Path(__file__).resolve().parent.parent
LIBRARY = "annotation_service_spark"
SKIP_DIRS = {"tests", "__pycache__", "spark-warehouse"}


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
