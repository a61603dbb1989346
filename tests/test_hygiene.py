"""Suite hygiene: a test module that defines two top-level ``test_*``
functions under one name silently runs only the last one."""

from __future__ import annotations

import ast
import collections
import pathlib

TESTS = pathlib.Path(__file__).resolve().parent


def test_no_duplicate_test_names():
    dups = {}
    for path in sorted(TESTS.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        names = collections.Counter(
            node.name for node in tree.body
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
            and node.name.startswith("test_"))
        dups.update({f"{path.name}::{n}": c for n, c in names.items() if c > 1})
    assert not dups, f"shadowed tests: {dups}"
