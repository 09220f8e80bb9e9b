"""Spark-free lints over ``hydraide_spark/``: each attribute below is
used only inside the one helper that owns it.

- ``.createDataFrame`` only inside ``session.local_frame``. A list
  ``createDataFrame`` is a ``parallelize`` re-serialized through a
  ``PythonRDD``, so every job that scans the frame starts Python
  workers; ``local_frame`` builds the same schema as an Arrow-backed
  LocalRelation instead.
- ``.writeStream`` only inside ``streaming/state_compact.start_loop``,
  so every micro-batch loop starts one way, with the checkpoint its
  caller chose.
- ``._write_version`` and ``._emit`` only inside
  ``sources/store.TreasureStore._commit``, so every store mutation
  writes its version and its change events through one commit with one
  payload rule, and ``history()`` replays to ``current()``."""

from __future__ import annotations

import ast
import os

_PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "hydraide_spark")

#: attribute -> (module path relative to the package, enclosing
#: function) pairs allowed to use it. Each entry is the owning helper
#: itself; a caller whose input is a real RDD (not Python rows) would
#: go under ``createDataFrame``, with a comment saying why.
ALLOWED = {
    "createDataFrame": {("session.py", "local_frame")},
    "writeStream": {(os.path.join("streaming", "state_compact.py"), "start_loop")},
    "_write_version": {(os.path.join("sources", "store.py"), "_commit")},
    "_emit": {(os.path.join("sources", "store.py"), "_commit")},
}


def attribute_uses(source: str, path: str, attr: str) -> "list[tuple[str, int]]":
    """(enclosing function, line) of every ``.<attr>`` use in
    ``source``; module-level uses report ``<module>``."""
    out = []

    def visit(node, fn):
        for child in ast.iter_child_nodes(node):
            name = fn
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                name = child.name
            if isinstance(child, ast.Attribute) and child.attr == attr:
                out.append((fn, child.lineno))
            visit(child, name)

    visit(ast.parse(source, path), "<module>")
    return out


def unrouted_uses(attr: str, pkg: str = _PKG) -> "list[str]":
    out = []
    for root, _dirs, files in os.walk(pkg):
        for f in files:
            if not f.endswith(".py"):
                continue
            path = os.path.join(root, f)
            rel = os.path.relpath(path, pkg)
            with open(path) as fh:
                uses = attribute_uses(fh.read(), path, attr)
            out += [f"{rel}:{line} in {fn}" for fn, line in uses if (rel, fn) not in ALLOWED[attr]]
    return sorted(out)


def test_driver_rows_go_through_local_frame():
    assert unrouted_uses("createDataFrame") == []


def test_loops_start_through_start_loop():
    assert unrouted_uses("writeStream") == []


def test_store_mutations_commit_through_commit():
    assert unrouted_uses("_write_version") == []
    assert unrouted_uses("_emit") == []


def test_lint_sees_calls_in_any_position():
    """Nested functions, methods, keyword arguments, module level and
    builder chains are all seen, or the lint passes vacuously; a
    docstring naming the attribute is not a use."""
    src = (
        "x = spark.createDataFrame([], 's string')\n"
        "class S:\n"
        "    def m(self):\n"
        "        def inner():\n"
        "            return f(df=self.spark.createDataFrame(rows, schema))\n"
        "        return inner\n"
        "def local_frame(spark, rows, schema):\n"
        "    return spark.createDataFrame(rows, schema)\n"
        "def run(stream):\n"
        "    'stream.writeStream in prose'\n"
        "    return stream.writeStream.outputMode('append').foreachBatch(f).start()\n"
    )
    assert attribute_uses(src, "<t>", "createDataFrame") == [
        ("<module>", 1),
        ("inner", 5),
        ("local_frame", 8),
    ]
    assert attribute_uses(src, "<t>", "writeStream") == [("run", 11)]
