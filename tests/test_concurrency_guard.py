"""The engine runs every store ingest and cache fill on the calling
driver thread: the stores assume one writer per store at a time
(streaming/segments.py). This walks every module of the package and
fails on the constructs that would start driver threads or processes.
``threading.Lock`` and ``threading.local`` (operators/caching.py, for
the ``foreachBatch`` stream thread) stay allowed."""
from __future__ import annotations

import ast
import concurrent.futures
import os
import types

import pyspark.util

import hubspot_neo4j_pipeline_spark as pkg

BANNED_MODULES = ("concurrent.futures", "multiprocessing")
# pyspark's thread helpers (the job-group-inheriting thread and target
# wrapper) and the executor pools, by their exported names
BANNED_NAMES = {
    n
    for n in dir(pyspark.util)
    if "thread" in n.lower()
    and not isinstance(getattr(pyspark.util, n), types.ModuleType)
} | {n for n in dir(concurrent.futures) if n.endswith("PoolExecutor")}


def _modules():
    root = os.path.dirname(pkg.__file__)
    for dirpath, _, files in os.walk(root):
        for name in sorted(files):
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                yield os.path.relpath(path, root), path


def _banned_module(name: str | None) -> bool:
    return any(name == m or (name or "").startswith(m + ".") for m in BANNED_MODULES)


def _violations(tree: ast.AST) -> list[str]:
    out = []
    thread_names = set()  # local names bound to threading.Thread
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            out += [f"import {a.name}" for a in node.names if _banned_module(a.name)]
        elif isinstance(node, ast.ImportFrom):
            mod = node.module or ""
            for a in node.names:
                if _banned_module(mod) or _banned_module(f"{mod}.{a.name}"):
                    out.append(f"from {mod} import {a.name}")
                elif a.name in BANNED_NAMES:
                    out.append(f"from {mod} import {a.name}")
                elif mod == "threading" and a.name == "Thread":
                    thread_names.add(a.asname or a.name)
        elif isinstance(node, ast.Name) and node.id in BANNED_NAMES:
            out.append(node.id)
        elif isinstance(node, ast.Attribute) and node.attr in BANNED_NAMES:
            out.append(node.attr)
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call):
            continue
        f = node.func
        if (
            isinstance(f, ast.Attribute)
            and f.attr == "Thread"
            and isinstance(f.value, ast.Name)
            and f.value.id == "threading"
        ) or (isinstance(f, ast.Name) and f.id in thread_names):
            out.append("threading.Thread(...)")
    return out


def test_guard_flags_each_banned_construct():
    assert len(BANNED_NAMES) == 4, BANNED_NAMES
    cases = {
        "import multiprocessing": 1,
        "from concurrent import futures": 1,
        **{f"from pyspark.util import {n}": 1 for n in BANNED_NAMES},
        **{f"pool = cf.{n}(2)": 1 for n in BANNED_NAMES},
        "import threading\nthreading.Thread(target=print).start()": 1,
        "from threading import Thread as T\nT(target=print)": 1,
        "import threading\nL = threading.Lock()\nS = threading.local()": 0,
    }
    for src, n in cases.items():
        assert len(_violations(ast.parse(src))) == n, src


def test_package_starts_no_driver_threads_or_processes():
    found = {}
    for rel, path in _modules():
        with open(path) as fh:
            bad = _violations(ast.parse(fh.read(), filename=path))
        if bad:
            found[rel] = bad
    assert found == {}
