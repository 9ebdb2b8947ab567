"""One table-publication protocol: operators/manifest.py is the only
way the engine replaces a table. These structural pins fail the moment
a directory-rename swap or a ``swap=`` strategy switch comes back."""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "etl_mudah_spark"


def test_no_directory_rename_in_the_package():
    hits = [
        f"{path.relative_to(PKG.parent)}:{i}"
        for path in sorted(PKG.rglob("*.py"))
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if "os.rename" in line
    ]
    assert hits == []


def test_no_public_function_takes_a_swap_parameter():
    hits = []
    for path in sorted(PKG.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            if node.name.startswith("_"):
                continue
            a = node.args
            names = {x.arg for x in (*a.posonlyargs, *a.args, *a.kwonlyargs)}
            if "swap" in names:
                hits.append(f"{path.relative_to(PKG.parent)}:{node.name}")
    assert hits == []
