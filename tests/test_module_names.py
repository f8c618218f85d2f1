"""Every package module binds each top-level name once.

A second ``def`` (or assignment) of the same name silently replaces the
first, so one of the two is dead code that still reads as live.
"""

from __future__ import annotations

import ast
import collections
import pathlib

import pytest

PKG = pathlib.Path(__file__).resolve().parent.parent / "tree_sitter_codeviews_spark"
MODULES = sorted(PKG.rglob("*.py"))


def _top_level_names(tree: ast.Module) -> list[str]:
    names = []
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            names.append(node.name)
        elif isinstance(node, ast.Assign):
            names.extend(t.id for t in node.targets if isinstance(t, ast.Name))
        elif isinstance(node, ast.AnnAssign) and isinstance(node.target, ast.Name):
            names.append(node.target.id)
    return names


def test_package_has_modules():
    assert len(MODULES) > 10


@pytest.mark.parametrize("path", MODULES, ids=lambda p: str(p.relative_to(PKG)))
def test_no_top_level_name_defined_twice(path):
    counts = collections.Counter(_top_level_names(ast.parse(path.read_text())))
    dups = sorted(n for n, c in counts.items() if c > 1)
    assert not dups, f"{path.name} defines {dups} more than once"
