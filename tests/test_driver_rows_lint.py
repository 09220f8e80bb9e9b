"""Driver-rows lint (no Spark): no module under ``hydraide_spark/`` calls
``.createDataFrame(`` except inside ``session.local_frame``. A list
``createDataFrame`` is a ``parallelize`` re-serialized through a
``PythonRDD``, so every job that scans the frame starts Python workers;
``local_frame`` builds the same schema as an Arrow-backed LocalRelation
instead."""

from __future__ import annotations

import ast
import os

_PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "hydraide_spark")

#: (module path relative to the package, enclosing function) pairs
#: allowed to call ``createDataFrame``. The one entry is the helper
#: itself. A caller whose input is a real RDD (not Python rows) would
#: go here, with a comment saying why.
ALLOWED = {
    ("session.py", "local_frame"),
}


def create_data_frame_calls(source: str, path: str) -> "list[tuple[str, int]]":
    """(enclosing function, line) of every ``.createDataFrame(`` call
    in ``source``; module-level calls report ``<module>``."""
    out = []

    def visit(node, fn):
        for child in ast.iter_child_nodes(node):
            name = fn
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                name = child.name
            if (
                isinstance(child, ast.Call)
                and isinstance(child.func, ast.Attribute)
                and child.func.attr == "createDataFrame"
            ):
                out.append((fn, child.lineno))
            visit(child, name)

    visit(ast.parse(source, path), "<module>")
    return out


def unrouted_calls() -> "list[str]":
    out = []
    for root, _dirs, files in os.walk(_PKG):
        for f in files:
            if not f.endswith(".py"):
                continue
            path = os.path.join(root, f)
            rel = os.path.relpath(path, _PKG)
            with open(path) as fh:
                calls = create_data_frame_calls(fh.read(), path)
            out += [f"{rel}:{line} in {fn}" for fn, line in calls if (rel, fn) not in ALLOWED]
    return sorted(out)


def test_driver_rows_go_through_local_frame():
    assert unrouted_calls() == []


def test_lint_sees_calls_in_any_position():
    """Nested functions, methods, keyword arguments and module level
    are all seen, or the lint passes vacuously."""
    src = (
        "x = spark.createDataFrame([], 's string')\n"
        "class S:\n"
        "    def m(self):\n"
        "        def inner():\n"
        "            return f(df=self.spark.createDataFrame(rows, schema))\n"
        "        return inner\n"
        "def local_frame(spark, rows, schema):\n"
        "    return spark.createDataFrame(rows, schema)\n"
    )
    assert create_data_frame_calls(src, "<t>") == [
        ("<module>", 1),
        ("inner", 5),
        ("local_frame", 8),
    ]
