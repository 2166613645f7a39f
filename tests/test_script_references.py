"""Static check of the engine names the helper scripts and the benchmark
harness use: ``scripts/*.py`` and ``perfbench/*.py`` are never imported
by the suite, so a renamed or deleted engine function would only fail
when someone next runs them. Each file is parsed with ``ast``; every
``from distributed_query_engine_spark... import name`` and every
attribute read through a module alias (``S.topk_l2_pq`` after
``from ...operators import similarity as S``) must resolve."""

from __future__ import annotations

import ast
import importlib

import pytest

from .conftest import REPO

PKG = "distributed_query_engine_spark"
FILES = sorted(
    p for d in ("scripts", "perfbench") for p in (REPO / d).glob("*.py")
)


def _is_module(dotted: str) -> bool:
    try:
        importlib.import_module(dotted)
    except ModuleNotFoundError:
        return False
    return True


def _resolves(module: str, name: str) -> bool:
    return hasattr(importlib.import_module(module), name) or _is_module(
        f"{module}.{name}"
    )


def _missing_engine_names(tree: ast.AST) -> list[str]:
    missing = []
    aliases: dict[str, set] = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and (node.module or "").startswith(
            PKG
        ):
            for a in node.names:
                full = f"{node.module}.{a.name}"
                if _is_module(full):
                    aliases.setdefault(a.asname or a.name, set()).add(full)
                elif a.name != "*" and not _resolves(node.module, a.name):
                    missing.append(f"{node.lineno}: {full}")
        elif isinstance(node, ast.Import):
            for a in node.names:
                if a.name.startswith(PKG) and a.asname:
                    aliases.setdefault(a.asname, set()).add(a.name)
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Attribute)
            and isinstance(node.value, ast.Name)
            and node.value.id in aliases
            and not any(_resolves(m, node.attr) for m in aliases[node.value.id])
        ):
            missing.append(f"{node.lineno}: {node.value.id}.{node.attr}")
    return missing


@pytest.mark.parametrize("path", FILES, ids=lambda p: f"{p.parent.name}/{p.name}")
def test_script_engine_references_exist(path):
    tree = ast.parse(path.read_text(), filename=str(path))
    missing = _missing_engine_names(tree)
    assert not missing, f"{path.name}: {missing}"
