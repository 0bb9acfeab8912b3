"""Library modules keep no mutable module-level state."""

from __future__ import annotations

import ast
import pathlib

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "cse_datapipeline_and_mls_spark"


def test_no_global_statements_in_the_package():
    """A ``global`` statement makes a module variable mutable state
    shared by every caller in the process (one test can affect the
    next). Results travel through return values instead."""
    found = [
        f"{path.relative_to(PACKAGE)}:{node.lineno} global {', '.join(node.names)}"
        for path in sorted(PACKAGE.rglob("*.py"))
        for node in ast.walk(ast.parse(path.read_text(), str(path)))
        if isinstance(node, ast.Global)
    ]
    assert not found, found
