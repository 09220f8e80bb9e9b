"""Import lint (no Spark): no module under ``hydraide_spark/`` may import
a ``_``-prefixed name from a DIFFERENT ``hydraide_spark.streaming``
module. The streaming families share one epoch-state protocol through
public names (streaming/state_compact.py); a private helper reached
into from another module is a second, unowned copy of that protocol in
waiting."""

from __future__ import annotations

import ast
import os

_PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "hydraide_spark")


def _module_name(path: str) -> str:
    rel = os.path.relpath(path, os.path.dirname(_PKG))[: -len(".py")]
    parts = rel.split(os.sep)
    if parts[-1] == "__init__":
        parts = parts[:-1]
    return ".".join(parts)


def _resolve(importer: str, is_pkg: bool, node: ast.ImportFrom) -> str:
    """Absolute module name of a (possibly relative) ``from`` import."""
    if not node.level:
        return node.module or ""
    base = importer.split(".")
    if not is_pkg:
        base = base[:-1]
    base = base[: len(base) - (node.level - 1)]
    return ".".join(base + ([node.module] if node.module else []))


def private_streaming_imports() -> "list[str]":
    out = []
    for root, _dirs, files in os.walk(_PKG):
        for f in files:
            if not f.endswith(".py"):
                continue
            path = os.path.join(root, f)
            importer = _module_name(path)
            with open(path) as fh:
                tree = ast.parse(fh.read(), path)
            for node in ast.walk(tree):
                if not isinstance(node, ast.ImportFrom):
                    continue
                src = _resolve(importer, f == "__init__.py", node)
                if not src.startswith("hydraide_spark.streaming.") or src == importer:
                    continue
                for alias in node.names:
                    if alias.name.startswith("_"):
                        out.append(f"{importer}:{node.lineno} imports {src}.{alias.name}")
    return sorted(out)


def test_no_private_imports_across_streaming_modules():
    assert private_streaming_imports() == []


def test_lint_resolves_relative_imports():
    """The resolver must see through relative imports, or the lint
    passes vacuously."""
    tree = ast.parse("from .search_stream import _x\nfrom ..streaming.media_stream import _y\n")
    a, b = tree.body
    assert _resolve("hydraide_spark.streaming.ann_stream", False, a) == (
        "hydraide_spark.streaming.search_stream"
    )
    assert _resolve("hydraide_spark.functions.filtered_ann", False, b) == (
        "hydraide_spark.streaming.media_stream"
    )
    assert _resolve("hydraide_spark.streaming", True, a) == (
        "hydraide_spark.streaming.search_stream"
    )
