"""Every script under tools/ names only package code that exists.

Each `from fdblog2clickhouse_spark... import X` must resolve to an
attribute or a submodule, and each `alias.attr` on an imported package
module must resolve to an attribute of that module. The scripts are
parsed, never run, so no Spark session starts."""

from __future__ import annotations

import ast
import importlib
import importlib.util
import os

PKG = "fdblog2clickhouse_spark"
TOOLS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")


def _is_module(name: str) -> bool:
    try:
        return importlib.util.find_spec(name) is not None
    except ModuleNotFoundError:
        return False


def _dotted(node: ast.AST) -> str | None:
    parts = []
    while isinstance(node, ast.Attribute):
        parts.append(node.attr)
        node = node.value
    if not isinstance(node, ast.Name):
        return None
    return ".".join([node.id, *reversed(parts)])


def unresolved(source: str) -> list[str]:
    """The package names `source` uses that do not exist."""
    tree = ast.parse(source)
    aliases: dict[str, str] = {}  # local name -> package module
    bad = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.name.split(".")[0] != PKG:
                    continue
                if not _is_module(a.name):
                    bad.append(a.name)
                elif a.asname:
                    aliases[a.asname] = a.name
                else:
                    aliases[PKG] = PKG
        elif isinstance(node, ast.ImportFrom) and (node.module or "").split(".")[0] == PKG:
            if not _is_module(node.module):
                bad.append(node.module)
                continue
            mod = importlib.import_module(node.module)
            for a in node.names:
                full = f"{node.module}.{a.name}"
                if _is_module(full):
                    aliases[a.asname or a.name] = full
                elif not hasattr(mod, a.name):
                    bad.append(full)
    for node in ast.walk(tree):
        if not isinstance(node, ast.Attribute) or isinstance(node.ctx, ast.Store):
            continue
        dotted = _dotted(node)
        if dotted is None:
            continue
        head, *rest = dotted.split(".")
        if head not in aliases:
            continue
        # the longest module prefix, then the first name after it
        mod = aliases[head]
        for part in rest:
            if _is_module(f"{mod}.{part}"):
                mod = f"{mod}.{part}"
                continue
            if not hasattr(importlib.import_module(mod), part):
                bad.append(f"{mod}.{part}")
            break
    return sorted(set(bad))


def test_resolver_flags_missing_names():
    src = (
        f"from {PKG}.operators import dedup_store as ds, no_such_module\n"
        f"from {PKG}.session import get_spark, no_such_helper\n"
        f"import {PKG}.operators.similarity as sim\n"
        "ds.StoreFamily; ds.no_such_attr; sim._cosine_cols\n"
    )
    assert unresolved(src) == [
        f"{PKG}.operators.dedup_store.no_such_attr",
        f"{PKG}.operators.no_such_module",
        f"{PKG}.session.no_such_helper",
    ]


def test_tools_name_only_existing_package_code():
    bad = {}
    for script in sorted(f for f in os.listdir(TOOLS) if f.endswith(".py")):
        with open(os.path.join(TOOLS, script)) as f:
            names = unresolved(f.read())
        if names:
            bad[script] = names
    assert bad == {}
