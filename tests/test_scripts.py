"""Tooling guard: the scripts, bench.py and __spark_entry__.py compile, and
every engine name they import still exists.  No test runs those files, so
deleting or renaming an engine name would otherwise break them unseen.
No Spark session: imports only."""

from __future__ import annotations

import ast
import importlib
import importlib.util
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PACKAGE = "clinical_trial_searchengine_spark"
TOOLS = sorted(REPO.glob("scripts/*.py")) + [
    REPO / "bench.py",
    REPO / "__spark_entry__.py",
]


def _engine_imports(tree):
    """(module, name) for every ``from <package>... import name``, at any
    depth (the scripts import lazily inside functions)."""
    for node in ast.walk(tree):
        if (isinstance(node, ast.ImportFrom) and not node.level
                and (node.module or "").split(".")[0] == PACKAGE):
            for alias in node.names:
                yield node.module, alias.name


def _resolves(module: str, name: str) -> bool:
    try:
        mod = importlib.import_module(module)
    except ImportError:
        return False
    if hasattr(mod, name):
        return True
    # a submodule not yet imported is not an attribute of its package
    return (hasattr(mod, "__path__")
            and importlib.util.find_spec(f"{module}.{name}") is not None)


def test_tools_compile():
    for path in TOOLS:
        compile(path.read_text(), str(path), "exec")


def test_tools_engine_imports_resolve():
    missing = [
        f"{path.relative_to(REPO)}: {module}.{name}"
        for path in TOOLS
        for module, name in _engine_imports(ast.parse(path.read_text()))
        if not _resolves(module, name)
    ]
    assert not missing, missing
