"""Unused-import gate over the package and the tools (no linter ships
with the toolchain, so this stdlib-``ast`` walk stands in for pyflakes'
F401): every name an import binds must be referenced somewhere in its
file. Exempt: ``from __future__`` imports and import statements marked
``# noqa: F401`` (the ``__init__.py`` re-exports)."""

import ast
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
FILES = sorted(
    p.relative_to(ROOT).as_posix()
    for d in ("pfutil_spark", "tools")
    for p in (ROOT / d).rglob("*.py")
)


def _bound_names(node: ast.Import | ast.ImportFrom):
    for a in node.names:
        if a.name == "*":
            continue
        # ``import a.b`` binds ``a``
        yield a.asname or a.name.split(".")[0], getattr(a, "lineno", node.lineno)


def _referenced(tree: ast.AST) -> set[str]:
    """Every Name the file loads, including those inside string
    annotations (``"pa.RecordBatch"``) and ``__all__`` entries."""
    names: set[str] = set()
    strings: list[str] = []
    for n in ast.walk(tree):
        if isinstance(n, ast.Name):
            names.add(n.id)
        elif isinstance(n, (ast.arg, ast.AnnAssign)) and isinstance(
            n.annotation, ast.Constant
        ):
            strings.append(n.annotation.value)
        elif isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef)) and isinstance(
            n.returns, ast.Constant
        ):
            strings.append(n.returns.value)
        elif (
            isinstance(n, ast.Assign)
            and any(isinstance(t, ast.Name) and t.id == "__all__" for t in n.targets)
            and isinstance(n.value, (ast.List, ast.Tuple))
        ):
            names.update(e.value for e in n.value.elts if isinstance(e, ast.Constant))
    for s in strings:
        if not isinstance(s, str):
            continue
        try:
            names |= _referenced(ast.parse(s, mode="eval"))
        except SyntaxError:
            pass
    return names


def unused_imports(source: str) -> list[tuple[int, str]]:
    """(line, name) of each import binding ``source`` never references."""
    tree = ast.parse(source)
    lines = source.splitlines()
    used = _referenced(tree)
    out = []
    for node in ast.walk(tree):
        if not isinstance(node, (ast.Import, ast.ImportFrom)):
            continue
        if isinstance(node, ast.ImportFrom) and node.module == "__future__":
            continue
        if "noqa: F401" in lines[node.lineno - 1]:
            continue
        for name, line in _bound_names(node):
            if name not in used and "noqa: F401" not in lines[line - 1]:
                out.append((line, name))
    return sorted(out)


@pytest.mark.parametrize("path", FILES)
def test_no_unused_imports(path):
    found = unused_imports((ROOT / path).read_text(encoding="utf-8"))
    assert not found, f"{path}: unused imports {found}"


def test_gate_catches_and_exempts():
    src = (
        "from __future__ import annotations\n"
        "import os, re\n"
        "import xml.dom\n"
        "from json import dumps as d, loads\n"
        "from sys import path  # noqa: F401\n"
        "def f(x: 'np.ndarray'):\n"
        "    import numpy as np\n"
        "    return os.sep, xml, d\n"
    )
    assert unused_imports(src) == [(2, "re"), (4, "loads")]
