"""Every read of engine-written parquet in the stores and the pipeline
goes through ``segments.read_parquet``, which takes the schema from a
footer on the driver. A bare ``spark.read.parquet(path)`` starts a
schema-inference job before the caller's action; this walks the AST of
``streaming/`` and ``pipeline.py`` and fails on one. A read that gives
its schema (``spark.read.schema(s).parquet(path)``) stays allowed, and
so does the plain read inside ``read_parquet``, its fallback for a
path with no data file."""
from __future__ import annotations

import ast
import os

import hubspot_neo4j_pipeline_spark as pkg

ALLOWED_FUNCTION = ("streaming/segments.py", "read_parquet")


def _modules():
    root = os.path.dirname(pkg.__file__)
    yield "pipeline.py", os.path.join(root, "pipeline.py")
    stream = os.path.join(root, "streaming")
    for name in sorted(os.listdir(stream)):
        if name.endswith(".py"):
            yield f"streaming/{name}", os.path.join(stream, name)


def _schemaless_reads(tree: ast.AST, rel: str) -> list[int]:
    """Line numbers of ``<x>.read.parquet(...)`` calls outside the
    allowed function."""
    allowed: set[int] = set()
    for node in ast.walk(tree):
        if (
            isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
            and (rel, node.name) == ALLOWED_FUNCTION
        ):
            allowed |= {id(n) for n in ast.walk(node)}
    return [
        node.lineno
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "parquet"
        and isinstance(node.func.value, ast.Attribute)
        and node.func.value.attr == "read"
        and id(node) not in allowed
    ]


def test_guard_flags_schemaless_reads():
    cases = {
        "spark.read.parquet(p)": 1,
        "df.sparkSession.read.parquet(a, b).where(c)": 1,
        "spark.read.schema(s).parquet(p)": 0,
        "segments.read_parquet(spark, p)": 0,
        "df.write.parquet(p)": 0,
        "def read_parquet(spark, p):\n    return spark.read.parquet(p)": 1,
    }
    for src, n in cases.items():
        assert len(_schemaless_reads(ast.parse(src), "x.py")) == n, src
    src = "def read_parquet(spark, p):\n    return spark.read.parquet(p)"
    assert _schemaless_reads(ast.parse(src), ALLOWED_FUNCTION[0]) == []


def test_store_and_pipeline_reads_give_a_schema():
    found = {}
    for rel, path in _modules():
        with open(path) as fh:
            lines = _schemaless_reads(ast.parse(fh.read(), filename=path), rel)
        if lines:
            found[rel] = lines
    assert found == {}
