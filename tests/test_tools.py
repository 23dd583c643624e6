"""Every script under ``tools/`` still imports and still matches the
package it drives.

Tools run by hand, so nothing else exercises them: a helper or option
deleted from the package would break a tool silently. Each tool keeps
``main`` behind a ``__name__`` guard, so importing it runs no work.
Beyond the import, every ``alias.name`` a tool reads off a package
module (``DD.jaccard_pairs``, ``CC.connected_components``, ...) must
exist, and every keyword it passes to such a call must be a parameter
of the callee.
"""

from __future__ import annotations

import ast
import importlib.util
import inspect
import types
from pathlib import Path

import pytest

PACKAGE = "kingsfoil_seed_data_ingestor_spark"
TOOLS = sorted((Path(__file__).resolve().parent.parent / "tools").glob("*.py"))


def _import(path: Path) -> types.ModuleType:
    spec = importlib.util.spec_from_file_location(f"_tool_{path.stem}", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _package_refs(tree: ast.AST, mod: types.ModuleType):
    """``(line, owner module, attribute, call keywords)`` for each
    ``alias.attr`` whose alias names a package module in ``mod``."""

    def owner(node):
        if isinstance(node, ast.Attribute) and isinstance(node.value, ast.Name):
            target = getattr(mod, node.value.id, None)
            if isinstance(target, types.ModuleType) and target.__name__.startswith(PACKAGE):
                return target
        return None

    calls = {
        id(n.func): [k.arg for k in n.keywords if k.arg is not None]
        for n in ast.walk(tree)
        if isinstance(n, ast.Call)
    }
    for node in ast.walk(tree):
        target = owner(node)
        if target is not None:
            yield node.lineno, target, node.attr, calls.get(id(node), [])


def test_tools_found():
    assert len(TOOLS) >= 5, TOOLS


@pytest.mark.parametrize("path", TOOLS, ids=[p.name for p in TOOLS])
def test_tool_imports_and_matches_package(path):
    source = path.read_text()
    assert 'if __name__ == "__main__":' in source, "entry point is not guarded"
    mod = _import(path)
    problems = []
    for line, target, attr, keywords in _package_refs(ast.parse(source), mod):
        if not hasattr(target, attr):
            problems.append(f"{path.name}:{line}: {target.__name__} has no {attr}")
            continue
        fn = getattr(target, attr)
        if not keywords or not callable(fn):
            continue
        params = inspect.signature(fn).parameters
        if any(p.kind is p.VAR_KEYWORD for p in params.values()):
            continue
        problems += [
            f"{path.name}:{line}: {attr}() takes no keyword {k!r}"
            for k in keywords
            if k not in params
        ]
    assert not problems, problems
