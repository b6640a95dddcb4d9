"""Scale lint: two plan shapes that do not scale, banned from the engine.

- A row-at-a-time Python UDF (``F.udf(...)``, ``udf(...)``, ``@udf``)
  pickles every row across the Python boundary; the engine uses Arrow
  (``pandas_udf``) or JVM expressions.
- A ``Window.orderBy(...)`` with no ``partitionBy`` moves the whole frame
  into one partition.

Checked on the syntax tree of every module of ``geomesa_spark/`` and of
``__spark_entry__.py``, so a comment or a string never trips it.
"""

from __future__ import annotations

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _sources():
    yield os.path.join(ROOT, "__spark_entry__.py")
    for base, _, files in os.walk(os.path.join(ROOT, "geomesa_spark")):
        for name in sorted(files):
            if name.endswith(".py"):
                yield os.path.join(base, name)


def _is_udf(node) -> bool:
    """``udf`` or ``<anything>.udf``."""
    return ((isinstance(node, ast.Name) and node.id == "udf")
            or (isinstance(node, ast.Attribute) and node.attr == "udf"))


def _chain(node, parents):
    """The method names called on ``node``'s result, outward:
    ``Window.orderBy(a).partitionBy(b)`` gives ``partitionBy``."""
    names = []
    while isinstance(parents.get(node), (ast.Attribute, ast.Call)):
        node = parents[node]
        if isinstance(node, ast.Attribute):
            names.append(node.attr)
    return names


def scale_violations(source: str, path: str = "<src>") -> list[str]:
    tree = ast.parse(source, path)
    parents = {kid: node for node in ast.walk(tree)
               for kid in ast.iter_child_nodes(node)}
    bad = []
    for node in ast.walk(tree):
        # a call covers ``udf(f)``, ``F.udf(...)`` and ``@udf(type)``
        udfs = [node] if isinstance(node, ast.Call) and _is_udf(node.func) else []
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            udfs += [d for d in node.decorator_list if _is_udf(d)]
        bad += [f"{path}:{u.lineno}: row-at-a-time udf" for u in udfs]
        if (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
                and node.func.attr == "orderBy"
                and isinstance(node.func.value, ast.Name)
                and node.func.value.id == "Window"
                and "partitionBy" not in _chain(node, parents)):
            bad.append(f"{path}:{node.lineno}: Window.orderBy without partitionBy")
    return bad


def test_rules_catch_each_shape():
    cases = {
        "F.udf(lambda v: v, 'long')": 1,
        "g = udf(f, 'long')": 1,
        "@udf('long')\ndef f(v): return v": 1,
        "@F.udf\ndef f(v): return v": 1,
        "w = Window.orderBy('t')": 1,
        "w = Window.orderBy('t').rowsBetween(-1, 0)": 1,
        "w = Window.partitionBy('k').orderBy('t')": 0,
        "w = Window.orderBy('t').partitionBy('k')": 0,
        "@F.pandas_udf('long')\ndef f(v): return v": 0,
        "df.orderBy('t')": 0,
        "spark.udf.register('f', g)": 0,
    }
    for src, n in cases.items():
        assert len(scale_violations(src)) == n, src


def test_engine_has_no_unscalable_shapes():
    bad = []
    for path in _sources():
        with open(path, encoding="utf-8") as fh:
            bad += scale_violations(fh.read(), os.path.relpath(path, ROOT))
    assert not bad, "\n".join(bad)
