"""Wall and CPU time of a timed region.

CPU time is summed over this process and every process descended from it: the
Spark driver JVM and the Python workers it forks.  Finished children count
through their parent's ``cutime``/``cstime``.  On a shared host, wall time
swings with the neighbours' load by up to 2x between runs of the same code;
the CPU time the engine spends swings far less (see perfbench/README.md).
"""

from __future__ import annotations

import os
import time

_TICK = os.sysconf("SC_CLK_TCK")


def cpu_s() -> float:
    """CPU seconds used so far by this process tree."""
    children: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended while we listed
            continue
        pid = int(name)
        children.setdefault(int(fields[1]), []).append(pid)
        # utime, stime, cutime, cstime
        ticks[pid] = sum(int(f) for f in fields[11:15])
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo.extend(children.get(pid, ()))
    return total / _TICK


class Clock:
    """``with Clock() as c: ...`` leaves ``c.wall`` and ``c.cpu`` in seconds."""

    def __enter__(self) -> Clock:
        self.wall = self.cpu = 0.0
        self._cpu = cpu_s()
        self._t = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        self.wall = time.perf_counter() - self._t
        self.cpu = cpu_s() - self._cpu
