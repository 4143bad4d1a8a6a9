"""Every absolute import in the repo-root scripts and ``scripts/*.py``
resolves, function-local imports included.  No test imports those files, so
a script whose function-level import names a deleted module or a dropped
re-export would otherwise only fail when someone runs it."""

from __future__ import annotations

import ast
import importlib
import importlib.util
import os
from glob import glob

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
FILES = sorted(glob(os.path.join(ROOT, "*.py")) + glob(os.path.join(ROOT, "scripts", "*.py")))


def _imports(path: str) -> list[tuple[str, str | None, int]]:
    """(module, imported name or None, line) for every absolute import."""
    with open(path) as fh:
        tree = ast.parse(fh.read(), filename=path)
    out = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            out += [(a.name, None, node.lineno) for a in node.names]
        elif isinstance(node, ast.ImportFrom) and node.level == 0 and node.module != "__future__":
            out += [(node.module, a.name, node.lineno) for a in node.names if a.name != "*"]
    return out


def _spec(module: str):
    try:
        return importlib.util.find_spec(module)
    except ModuleNotFoundError:  # a parent package is missing
        return None


@pytest.mark.parametrize("path", FILES, ids=lambda p: os.path.relpath(p, ROOT))
def test_absolute_imports_resolve(path, monkeypatch):
    monkeypatch.syspath_prepend(ROOT)
    missing = []
    for module, name, line in _imports(path):
        if _spec(module) is None:
            missing.append(f"{line}: {module}")
        elif name is not None and not hasattr(importlib.import_module(module), name) \
                and _spec(f"{module}.{name}") is None:
            missing.append(f"{line}: {module}.{name}")
    assert not missing, missing


def test_files_found():
    names = {os.path.relpath(p, ROOT) for p in FILES}
    assert {"__spark_entry__.py", os.path.join("scripts", "submit_kg.py")} <= names
