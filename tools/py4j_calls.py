"""Count py4j round trips from Python to the JVM, per Java method name.

Every call a PySpark program makes on a JVM object (``df._jdf.select``,
``SparkSession.getActiveSession``, ``Option.isDefined`` ...) goes
through ``py4j.java_gateway.JavaMember.__call__``: one blocking round
trip over the gateway socket. ``py4j_calls`` wraps that method for the
``with`` block, counts the calls and their wall time per method name,
and puts the original back on exit. Class and package lookups on
``spark._jvm`` are not method calls and are not counted.

Around a region (``sys.path`` needs ``tools/``)::

    from py4j_calls import py4j_calls
    with py4j_calls() as calls:
        nodes, edges = transform_all(feeds)
    print(calls.total, round(calls.seconds, 3))
    for name, n, sec in calls.top(10):
        print(f"{n:6d} {sec:8.3f}s {name}")

The patch is process-wide: calls made by other Python threads inside
the block are counted too.
"""

from __future__ import annotations

import time
from collections import defaultdict
from contextlib import contextmanager

from py4j.java_gateway import JavaMember


class Py4jCalls:
    def __init__(self):
        self.counts: dict[str, int] = defaultdict(int)
        self.wall: dict[str, float] = defaultdict(float)

    @property
    def total(self) -> int:
        return sum(self.counts.values())

    @property
    def seconds(self) -> float:
        return sum(self.wall.values())

    def top(self, n: int | None = None) -> list[tuple[str, int, float]]:
        """(method, calls, seconds), most called first."""
        rows = sorted(
            ((m, c, self.wall[m]) for m, c in self.counts.items()),
            key=lambda r: (-r[1], r[0]),
        )
        return rows[:n]


@contextmanager
def py4j_calls():
    region = Py4jCalls()
    original = JavaMember.__call__

    def counted(self, *args):
        t = time.perf_counter()
        try:
            return original(self, *args)
        finally:
            region.counts[self.name] += 1
            region.wall[self.name] += time.perf_counter() - t

    JavaMember.__call__ = counted
    try:
        yield region
    finally:
        JavaMember.__call__ = original
