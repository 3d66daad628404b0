"""The engine package names no absolute filesystem path in its code.

Such a path ties the engine to one machine's layout; inputs and outputs
come from the caller. Docstrings may still cite reference source lines by
their absolute path, so every other string constant in
``fraud_detection_etl_project_spark/`` (f-string parts included) is checked.
"""

from __future__ import annotations

import ast
import pathlib
import re

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "fraud_detection_etl_project_spark"
# A slash-led segment followed by another slash, not inside a URL, a
# relative path or a word: "/data/x.csv" matches, "a/b", "x / y" and
# "s3://b/k" do not.
ABS_PATH = re.compile(r"(?<![\w:/.])/[A-Za-z_][\w.-]*/")


def _docstrings(tree: ast.AST) -> set[int]:
    nodes = (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
    return {
        id(n.body[0].value)
        for n in ast.walk(tree)
        if isinstance(n, nodes) and n.body and isinstance(n.body[0], ast.Expr)
        and isinstance(n.body[0].value, ast.Constant) and isinstance(n.body[0].value.value, str)
    }


def test_pattern_matches_absolute_paths_only():
    assert all(ABS_PATH.search(s) for s in ("/data/x.csv", "'/mnt/in/a.csv'", "load /srv/x/y"))
    assert not any(ABS_PATH.search(s) for s in ("a/b/c", "x / y", "s3://b/k/", "./a/b", "1/2"))


def test_no_absolute_paths_in_code():
    files = sorted(PACKAGE.rglob("*.py"))
    assert files
    found = []
    for path in files:
        tree = ast.parse(path.read_text(), filename=str(path))
        docs = _docstrings(tree)
        found += [
            f"{path.relative_to(PACKAGE.parent)}:{n.lineno}: {n.value[:80]!r}"
            for n in ast.walk(tree)
            if isinstance(n, ast.Constant) and isinstance(n.value, str)
            and id(n) not in docs and ABS_PATH.search(n.value)
        ]
    assert not found, found
