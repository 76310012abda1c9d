"""The scripts under tools/ import package modules inside ``main`` and
call them as ``<alias>.<name>``, so a renamed or deleted function breaks
a script only when someone runs it. Every package name a script refers
to must resolve: each ``from rds_pgbadger_etl_spark… import x`` and each
attribute read off an imported package module. No Spark is started."""

from __future__ import annotations

import ast
import importlib
import importlib.util
import pathlib

import pytest

_PKG = "rds_pgbadger_etl_spark"
_TOOLS = sorted(
    (pathlib.Path(__file__).resolve().parent.parent / "tools").glob("*.py")
)


def _is_module(name: str) -> bool:
    try:
        return importlib.util.find_spec(name) is not None
    except ModuleNotFoundError:
        return False


def _package_refs(tree: ast.AST) -> set[tuple[tuple[str, ...], str]]:
    """(candidate modules, name) for every package name the script uses.
    An alias bound to several modules in different functions may take
    the name from any of them."""
    aliases: dict[str, set[str]] = {}
    refs = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and (node.module or "").split(
            "."
        )[0] == _PKG:
            for a in node.names:
                sub = f"{node.module}.{a.name}"
                if _is_module(sub):
                    aliases.setdefault(a.asname or a.name, set()).add(sub)
                else:
                    refs.add(((node.module,), a.name))
        elif isinstance(node, ast.Import):
            for a in node.names:
                if a.name.split(".")[0] == _PKG and a.asname:
                    aliases.setdefault(a.asname, set()).add(a.name)
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Attribute)
            and isinstance(node.ctx, ast.Load)
            and isinstance(node.value, ast.Name)
            and node.value.id in aliases
        ):
            refs.add((tuple(sorted(aliases[node.value.id])), node.attr))
    return refs


def test_tools_are_found():
    assert len(_TOOLS) > 5


@pytest.mark.parametrize("script", _TOOLS, ids=[p.name for p in _TOOLS])
def test_tool_references_resolve(script):
    refs = _package_refs(ast.parse(script.read_text(), filename=str(script)))
    missing = sorted(
        f"{'|'.join(mods)}.{name}"
        for mods, name in refs
        if not any(
            hasattr(importlib.import_module(m), name) for m in mods
        )
    )
    assert not missing, f"{script.name} refers to missing names: {missing}"
