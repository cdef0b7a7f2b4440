"""Guard against engine code that only tests reach: every undecorated
top-level function of the package must be named by some non-test `.py`
file of the repo — called, imported, or cited in a docstring or comment
(a documented reference twin counts). Decorated functions are reached
through their decorator (the registry's @register)."""

from __future__ import annotations

import ast
import re
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PKG = REPO / "bigdatanycdiseasesurveillance_spark"

# name -> why it stays although only tests call it
ALLOWED = {
    "geohash_py": "pure-Python reference twin that "
    "test_geohash_sql_matches_python_twin checks the SQL geohash against",
}


def test_every_package_function_is_reached_outside_tests():
    sources = {
        p: p.read_text()
        for p in REPO.rglob("*.py")
        if not {"tests", "history"} & set(p.relative_to(REPO).parts[:-1])
        and not any(part.startswith(".") for part in p.relative_to(REPO).parts)
    }
    names = {
        node.name
        for p, src in sources.items()
        if PKG in p.parents
        for node in ast.parse(src).body
        if isinstance(node, ast.FunctionDef) and not node.decorator_list
    }
    text = "\n".join(sources.values())
    unreached = sorted(
        n
        for n in names - ALLOWED.keys()
        if len(re.findall(rf"\b{n}\b", text)) == len(re.findall(rf"\bdef {n}\b", text))
    )
    assert not unreached, f"package functions only tests reach: {unreached}"
