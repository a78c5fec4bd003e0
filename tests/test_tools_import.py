"""The measurement scripts under tools/ still import: each module loads
(all keep their work behind a ``__main__`` guard), and every name one
imports from the package or from tools/ — at module level or inside a
function body — exists."""

from __future__ import annotations

import ast
import importlib
import importlib.util
import pathlib

import pytest

TOOLS = sorted((pathlib.Path(__file__).resolve().parent.parent / "tools").glob("*.py"))
LOCAL = ("meilisync_spark", "tools")


def _resolves(module: str, name: str) -> bool:
    return hasattr(importlib.import_module(module), name) or (
        importlib.util.find_spec(f"{module}.{name}") is not None
    )


@pytest.mark.parametrize("path", TOOLS, ids=lambda p: p.stem)
def test_tool_imports_resolve(path):
    importlib.import_module(f"tools.{path.stem}")
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.ImportFrom) and (node.module or "").startswith(LOCAL):
            for alias in node.names:
                assert _resolves(node.module, alias.name), (
                    f"{path.name}:{node.lineno} imports {node.module}.{alias.name}"
                )
        elif isinstance(node, ast.Import):
            for alias in node.names:
                if alias.name.startswith(LOCAL):
                    importlib.import_module(alias.name)
