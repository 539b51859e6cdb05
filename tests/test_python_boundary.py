"""No per-row Python in the engine, checked statically (no Spark session).

Python may touch data only through the vectorized Arrow boundary:
``pandas_udf``, ``mapInPandas`` and ``applyInPandas``.  Two shapes are
banned from every module under ``uncharted_ta1_pipeline_spark/``:

- a row-at-a-time ``udf`` — ``F.udf(...)``, ``@udf``, ``spark.udf.register``
  — which pickles one row per call;
- the stateful group APIs (``*WithState``), which keep per-group Python
  state across batches beside the engine's own windows and joins.
"""

from __future__ import annotations

import ast
from pathlib import Path

PACKAGE = Path(__file__).resolve().parent.parent / "uncharted_ta1_pipeline_spark"


def _called_name(node: ast.AST) -> str | None:
    """The last name of a callee: ``udf`` for ``udf``, ``F.udf``,
    ``udf(...)`` and ``F.udf(...)``."""
    if isinstance(node, ast.Call):
        node = node.func
    if isinstance(node, ast.Name):
        return node.id
    if isinstance(node, ast.Attribute):
        return node.attr
    return None


def _violations(tree: ast.AST) -> list[tuple[int, str]]:
    found = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Call):
            name = _called_name(node.func)
            if name == "udf":
                found.append((node.lineno, "row-at-a-time udf"))
            elif name and name.endswith("WithState"):
                found.append((node.lineno, f"stateful group API {name}"))
            elif (
                name == "register"
                and isinstance(node.func, ast.Attribute)
                and _called_name(node.func.value) == "udf"
            ):
                found.append((node.lineno, "udf.register"))
        elif isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            # ``@udf(...)`` is a Call and is caught above; this is bare ``@udf``
            for dec in node.decorator_list:
                if not isinstance(dec, ast.Call) and _called_name(dec) == "udf":
                    found.append((dec.lineno, "row-at-a-time udf"))
    return sorted(found)


def test_no_row_python_in_package():
    files = sorted(PACKAGE.rglob("*.py"))
    assert files, PACKAGE
    bad = [
        f"{path.relative_to(PACKAGE.parent)}:{line}: {what}"
        for path in files
        for line, what in _violations(ast.parse(path.read_text(), str(path)))
    ]
    assert not bad, "\n".join(bad)


def test_detector_sees_each_banned_shape():
    src = """
import pyspark.sql.functions as F
from pyspark.sql.functions import pandas_udf, udf

f = F.udf(lambda x: x, "int")
spark.udf.register("g", lambda x: x)
df.groupBy("k").flatMapGroupsWithState(fn, "a int", "s int", "Append")

@udf("int")
def h(x):
    return x

@udf
def h2(x):
    return x

@pandas_udf("double")
def ok(s):
    return s

df.mapInPandas(fn, "a int")
"""
    got = [what for _, what in _violations(ast.parse(src))]
    assert got == [
        "row-at-a-time udf",
        "udf.register",
        "stateful group API flatMapGroupsWithState",
        "row-at-a-time udf",
        "row-at-a-time udf",
    ], got
