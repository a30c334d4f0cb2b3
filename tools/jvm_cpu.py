"""CPU seconds of a process split by JVM thread class.

Reads ``/proc/<pid>/task/*/{comm,stat}`` (Linux) and sums each
thread's user + system time into one of these classes:

    c2        C2 JIT compiler threads
    c1        C1 JIT compiler threads
    tasks     Spark task threads ("Executor task launch worker ...")
    planning  py4j ``Thread-*`` threads: a PySpark call's Catalyst
              analysis, optimisation and Janino codegen run here
    gc        garbage-collector threads
    other     everything else
    exited    the process total minus all of the above: CPU of
              threads that ended before they were last sampled

Inside a PySpark program, around a region::

    from jvm_cpu import jvm_cpu, driver_pid
    with jvm_cpu(driver_pid(spark)) as cpu:
        run_pipeline(...)
    print(cpu.seconds)            # {"c2": 37.5, "c1": 7.8, ...}

From a shell, against a running JVM (cumulative since start, or over a
window with ``--seconds``)::

    python tools/jvm_cpu.py --pid "$(pgrep -f org.apache.spark.deploy.SparkSubmit)"
    python tools/jvm_cpu.py --pid 1234 --seconds 30
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import threading
import time
from contextlib import contextmanager
from types import SimpleNamespace

CLASSES = ("c2", "c1", "tasks", "planning", "gc", "other", "exited")

# comm is cut to 15 characters: "C2 CompilerThre", "Executor task l"
_PREFIXES = (
    ("C2 Compiler", "c2"),
    ("C1 Compiler", "c1"),
    ("Executor task l", "tasks"),
    ("Thread-", "planning"),
    ("GC Thread", "gc"),
    ("G1 ", "gc"),
)

_TICK = os.sysconf("SC_CLK_TCK")
SAMPLE_S = 0.25


def thread_class(comm: str) -> str:
    """Class of one thread, from its (truncated) name."""
    for prefix, cls in _PREFIXES:
        if comm.startswith(prefix):
            return cls
    return "other"


def _cpu_ticks(stat: str) -> int:
    # the name in field 2 may hold spaces and parentheses; utime and
    # stime are fields 14 and 15, counted after its closing ")"
    fields = stat[stat.rindex(")") + 2 :].split()
    return int(fields[11]) + int(fields[12])


def snapshot(pid: int) -> dict:
    """{"threads": {tid: (class, seconds)}, "total": seconds} now."""
    threads = {}
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as fh:
                comm = fh.read().rstrip("\n")
            with open(f"/proc/{pid}/task/{tid}/stat") as fh:
                ticks = _cpu_ticks(fh.read())
        except (FileNotFoundError, ProcessLookupError):
            continue  # the thread ended while we listed
        threads[int(tid)] = (thread_class(comm), ticks / _TICK)
    with open(f"/proc/{pid}/stat") as fh:
        total = _cpu_ticks(fh.read()) / _TICK
    return {"threads": threads, "total": total}


def by_class(after: dict, before: dict | None = None) -> dict[str, float]:
    """CPU seconds per class between two snapshots (since the threads
    started when ``before`` is None), plus ``total``."""
    before_threads = before["threads"] if before else {}
    out = dict.fromkeys(CLASSES, 0.0)
    for tid, (cls, sec) in after["threads"].items():
        out[cls] += sec - before_threads.get(tid, (cls, 0.0))[1]
    out["total"] = after["total"] - (before["total"] if before else 0.0)
    out["exited"] = max(0.0, out["total"] - sum(out[c] for c in CLASSES))
    return {k: round(v, 2) for k, v in out.items()}


@contextmanager
def jvm_cpu(pid: int):
    """Measure the block: ``.seconds`` holds the per-class CPU seconds
    once the block exits.

    HotSpot starts and stops extra compiler threads as its queues grow
    and drain, so a thread can live only inside the block. A sampler
    re-reads the threads every SAMPLE_S seconds and keeps each one's
    last reading: only CPU a thread spent after its last sample counts
    as ``exited``."""
    region = SimpleNamespace(seconds={})
    before = snapshot(pid)
    seen = dict(before["threads"])
    stop = threading.Event()

    def sample():
        while not stop.wait(SAMPLE_S):
            seen.update(snapshot(pid)["threads"])

    sampler = threading.Thread(target=sample, daemon=True)
    sampler.start()
    try:
        yield region
    finally:
        stop.set()
        sampler.join()
        after = snapshot(pid)
        seen.update(after["threads"])
        region.seconds = by_class({"threads": seen, "total": after["total"]}, before)


def driver_pid(spark) -> int:
    """Pid of the JVM behind a SparkSession."""
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--pid", type=int, required=True)
    ap.add_argument(
        "--seconds",
        type=float,
        help="report the window of this length from now instead of "
        "the cumulative CPU since each thread started",
    )
    args = ap.parse_args(argv)
    if args.seconds is None:
        report = by_class(snapshot(args.pid))
    else:
        with jvm_cpu(args.pid) as region:
            time.sleep(args.seconds)
        report = region.seconds
    print(json.dumps(report))
    return 0


if __name__ == "__main__":
    sys.exit(main())
