"""Every segment store ingests, compacts, bulk-loads and streams through
``streaming/segments.py``: the kernel is the one place that decides the
layout steps and the commit path. This walks the AST of every module of
the package and fails when a store module reaches past the kernel's
lifecycle into its layout helpers, or starts a ``foreachBatch`` driver
of its own instead of binding ``segments.streamer``."""
from __future__ import annotations

import ast
import os

import hubspot_neo4j_pipeline_spark as pkg

KERNEL = "streaming/segments.py"
# layout steps only the kernel's compact / bootstrap may take
KERNEL_ONLY = {
    "assemble_partial_base",
    "touched_buckets",
    "grown_n_buckets",
    "pin_n_buckets",
    "write_base",
    "bootstrap_base",
    "sized_n_buckets",
}
# (module, function) that may call run_foreach_batch: the store-driver
# factory, and the one driver that feeds two stores in order
DRIVER_CALLERS = {
    (KERNEL, "streamer"),
    ("streaming/cluster_store.py", "stream_dedup_clusters"),
}


def _modules():
    root = os.path.dirname(pkg.__file__)
    for dirpath, dirs, files in os.walk(root):
        dirs.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                yield os.path.relpath(path, root).replace(os.sep, "/"), path


def _name(node: ast.AST) -> str | None:
    if isinstance(node, ast.Name):
        return node.id
    if isinstance(node, ast.Attribute):
        return node.attr
    return None


def _violations(tree: ast.AST, rel: str) -> list[str]:
    out = []
    if rel != KERNEL:
        for node in ast.walk(tree):
            if _name(node) in KERNEL_ONLY:
                out.append(f"{node.lineno}: {_name(node)}")
            elif isinstance(node, ast.ImportFrom):
                out += [
                    f"{node.lineno}: import {a.name}"
                    for a in node.names
                    if a.name in KERNEL_ONLY
                ]
    allowed: set[int] = set()
    for node in ast.walk(tree):
        if (
            isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
            and (rel, node.name) in DRIVER_CALLERS
        ):
            allowed |= {id(n) for n in ast.walk(node)}
    out += [
        f"{node.lineno}: run_foreach_batch(...)"
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and _name(node.func) == "run_foreach_batch"
        and id(node) not in allowed
    ]
    return out


def test_guard_flags_each_construct():
    cases = {
        "segments.assemble_partial_base(a, b)": 1,
        "n = segments.sized_n_buckets(rows.count())": 1,
        "from .segments import write_base": 1,
        "f = touched_buckets": 1,
        "segments.compact(SPEC, spark, p)": 0,
        "segments.bootstrap(SPEC, p, rows, n)": 0,
        "def stream_x(df, p, c):\n    run_foreach_batch(df, f, c)": 1,
        "def g():\n    segments.run_foreach_batch(df, f, c)": 1,
        "stream_x = segments.streamer(update)": 0,
    }
    for src, n in cases.items():
        assert len(_violations(ast.parse(src), "streaming/x_store.py")) == n, src
    assert _violations(ast.parse("write_base(df, p, b, c)"), KERNEL) == []
    for rel, fn in DRIVER_CALLERS:
        src = f"def {fn}(df, c):\n    segments.run_foreach_batch(df, f, c)"
        assert _violations(ast.parse(src), rel) == []


def test_guard_walks_every_store_module():
    rels = {rel for rel, _path in _modules()}
    assert {
        KERNEL,
        "streaming/incremental.py",
        "streaming/sketches.py",
        *(
            f"streaming/{s}_store.py"
            for s in ("hash", "lsh", "cluster", "gram", "df", "window", "vector")
        ),
    } <= rels


def test_store_lifecycle_lives_in_the_kernel():
    found = {}
    for rel, path in _modules():
        with open(path) as fh:
            bad = _violations(ast.parse(fh.read(), filename=path), rel)
        if bad:
            found[rel] = bad
    assert found == {}
