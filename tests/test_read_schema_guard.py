"""Every read of engine-written parquet in the package goes through
``segments.read_parquet``, which takes the schema from a footer on the
driver. A bare ``spark.read.parquet(path)`` starts a schema-inference
job before the caller's action; this walks the AST of every module of
the package and fails on one. A read that gives its schema
(``spark.read.schema(s).parquet(path)``) stays allowed, and so do two
plain reads: the one inside ``read_parquet``, its fallback for a path
with no data file, and ``sources/tpch.load_table``, which reads the
input tables. Those are not engine-written: their timestamps may be
nanosecond columns that ``load_table`` converts after Spark's own
inference."""
from __future__ import annotations

import ast
import os

import hubspot_neo4j_pipeline_spark as pkg

ALLOWED_FUNCTIONS = {
    ("streaming/segments.py", "read_parquet"),
    ("sources/tpch.py", "load_table"),
}


def _modules():
    root = os.path.dirname(pkg.__file__)
    for dirpath, dirs, files in os.walk(root):
        dirs.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                yield os.path.relpath(path, root).replace(os.sep, "/"), path


def _schemaless_reads(tree: ast.AST, rel: str) -> list[int]:
    """Line numbers of ``<x>.read.parquet(...)`` calls outside the
    allowed function."""
    allowed: set[int] = set()
    for node in ast.walk(tree):
        if (
            isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
            and (rel, node.name) in ALLOWED_FUNCTIONS
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
    for rel, fn in ALLOWED_FUNCTIONS:
        src = f"def {fn}(spark, p):\n    return spark.read.parquet(p)"
        assert _schemaless_reads(ast.parse(src), rel) == []


def test_guard_walks_every_module():
    rels = {rel for rel, _path in _modules()}
    assert {
        "pipeline.py",
        "plans/sink_queries.py",
        "sources/tpch.py",
        "streaming/segments.py",
    } <= rels


def test_package_reads_give_a_schema():
    found = {}
    for rel, path in _modules():
        with open(path) as fh:
            lines = _schemaless_reads(ast.parse(fh.read(), filename=path), rel)
        if lines:
            found[rel] = lines
    assert found == {}
