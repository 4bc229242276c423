"""Every import in the engine is used.  A name counts as used when it is
read anywhere in its module (or listed in ``__all__``); an import line
carrying ``# noqa: F401`` is a deliberate re-export or probe and is
skipped."""

from __future__ import annotations

import ast
from pathlib import Path

import atd_data_lake_spark

PKG = Path(atd_data_lake_spark.__file__).parent


def _unused_imports(src: str) -> list[tuple[int, str]]:
    tree = ast.parse(src)
    lines = src.splitlines()
    used = set()
    for n in ast.walk(tree):
        if isinstance(n, ast.Name):
            used.add(n.id)
        elif isinstance(n, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id == "__all__" for t in n.targets
        ):
            used |= {e.value for e in n.value.elts}
    unused = []
    for n in ast.walk(tree):
        if not isinstance(n, (ast.Import, ast.ImportFrom)):
            continue
        if isinstance(n, ast.ImportFrom) and n.module == "__future__":
            continue
        if "noqa: F401" in "\n".join(lines[n.lineno - 1 : n.end_lineno]):
            continue
        for a in n.names:
            name = (a.asname or a.name).split(".")[0]
            if a.name != "*" and name not in used:
                unused.append((n.lineno, name))
    return unused


def test_scan_flags_unused_and_honours_noqa():
    src = (
        "import os\n"
        "import sys  # noqa: F401\n"
        "from a import (  # noqa: F401\n    b,\n)\n"
        "from c import d, e\n"
        "def f():\n"
        "    import json as _j\n"
        "    return e, os.sep\n"
    )
    assert _unused_imports(src) == [(6, "d"), (8, "_j")]


def test_engine_has_no_unused_imports():
    found = [
        f"{path.relative_to(PKG)}:{line} {name}"
        for path in sorted(PKG.rglob("*.py"))
        for line, name in _unused_imports(path.read_text())
    ]
    assert not found, found
