"""Benchmark entry point.

    python3 perfbench/run.py --workload crm --seed 1 --seconds 40 --trace 0

Run from the root of a checkout.  The workload's inputs come from the seed;
the engine is driven only through its public functions, on one SparkSession
at ``local[<cores>]`` with one closed-loop client.  The last line of standard
output is one JSON object::

    {"correct": true, "attempted": 12, "failed": 0, "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
they are the per-layer ones (spans, run counters, and the traced values of
the timed end-to-end metrics, whose difference from an untraced run is the
tracing overhead).  A failed correctness check prints the result with
``"correct": false`` and exits 1.  All files are written under the checkout
(``.perfbench_work`` while running, ``.perfbench_out`` for results and
traces).  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from dataclasses import dataclass, field

from clock import Clock

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
OUT = os.path.join(ROOT, ".perfbench_out")
MB = 1024 * 1024
sys.path.insert(1, ROOT)  # the engine package lives at the checkout root


@dataclass
class Run:
    """What a workload records while it runs."""

    seed: int
    workdir: str
    scale: float = 1.0  # input size factor (smoke tests use less than 1)
    setup_s: list[float] = field(default_factory=list)  # repeated set-up steps
    setup_once_s: float = 0.0  # set-up that runs once (store pre-population)
    writes: list[Clock] = field(default_factory=list)  # full load / micro-batch
    reads: list[Clock] = field(default_factory=list)
    stores: list[str] = field(default_factory=list)
    counters: dict[str, float] = field(default_factory=dict)
    mismatches: list[str] = field(default_factory=list)

    def expect(self, what: str, got, want) -> None:
        if got != want:
            self.mismatches.append(f"{what}: got {got!r}, want {want!r}")


def _workloads():
    import crm
    import dedup

    return {"crm": crm.run, "dedup_stream": dedup.run}


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _start_session(workdir: str):
    # keep Spark's scratch files inside the checkout
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    from hubspot_neo4j_pipeline_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        cpus=_cores(),
        extra_conf={
            "spark.driver.memory": "2g",
            # no JVM perf-data file either: the run writes only in the checkout
            "spark.driver.extraJavaOptions": (
                f"-Xlog:disable -XX:-UsePerfData -Djava.io.tmpdir={tmp}"
            ),
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def _vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _stop_session(spark) -> float:
    """Stop Spark and its JVM; returns the peak RSS (MB) of the JVM plus
    this process, read just before the stop."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    peak = _vm_hwm_mb("self") + _vm_hwm_mb(proc.pid)
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait()
    # the next session in this process launches a fresh JVM
    SparkContext._gateway = SparkContext._jvm = None
    return peak


def _tree_stats(paths: list[str]) -> tuple[float, int]:
    """(MB, files) on disk under ``paths``; hard links count once."""
    seen, size = set(), 0
    for top in paths:
        for dirpath, _dirs, files in os.walk(top):
            for f in files:
                st = os.stat(os.path.join(dirpath, f))
                if (st.st_dev, st.st_ino) not in seen:
                    seen.add((st.st_dev, st.st_ino))
                    size += st.st_size
    return size / MB, len(seen)


def _timings(run: Run) -> dict[str, float]:
    """The timed operations' CPU time (the end-to-end metrics) and wall time.
    Reads are averaged, not medianed: crm's read calls differ in cost, and the
    median of such a mix swings with whichever call lands in the middle."""
    return {
        "write_cpu_s": statistics.median(c.cpu for c in run.writes),
        "read_cpu_ms": statistics.fmean(c.cpu for c in run.reads) * 1000,
        "write_s": statistics.median(c.wall for c in run.writes),
        "read_mean_ms": statistics.fmean(c.wall for c in run.reads) * 1000,
    }


def _metric_units(trace: int) -> dict[str, str]:
    """Metric name -> unit, as BENCHMARK.json declares them, in its order."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=("crm", "dedup_stream"))
    ap.add_argument("--seed", type=int, required=True)
    # each workload runs a fixed schedule; --seconds is accepted, not used
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0, help=argparse.SUPPRESS)
    args = ap.parse_args(argv)

    import hubspot_neo4j_pipeline_spark  # noqa: F401  (the engine must be present)

    from spans import Recorder, patched

    workload = _workloads()[args.workload]
    workdir = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(workdir, ignore_errors=True)
    run = Run(seed=args.seed, workdir=workdir, scale=args.scale)
    t = time.perf_counter()
    spark = _start_session(workdir)
    session_s = time.perf_counter() - t
    rec = Recorder(spark, bool(args.trace), _cores())
    failed = 0
    try:
        with patched(rec):
            workload(spark, rec, run)
    except Exception as exc:  # the result still reports the failed run
        failed = 1
        run.mismatches.append(f"{type(exc).__name__}: {exc}")
        import traceback

        traceback.print_exc()
    finally:
        peak_rss = _stop_session(spark)
    store_mb, store_files = _tree_stats(run.stores)
    shutil.rmtree(workdir, ignore_errors=True)

    values: dict[str, float] = {}
    timings: dict[str, float] = {}
    if run.writes and run.reads:
        timings = _timings(run)
        if args.trace:
            totals = rec.totals()
            values = {
                **rec.layer_metrics(),
                **{f"run.{k}": 0.0 for k in ("live_deltas_max", "compact_rewritten_mb")},
                **run.counters,
                "run.peak_rss_mb": peak_rss,
                "run.shuffle_mb": totals["shuffle_mb"],
                "run.spill_mb": totals["spill_mb"],
                "run.store_files": store_files,
                **{f"traced.{k}": v for k, v in timings.items()},
                "trace.recorder_s": rec.overhead_s,
            }
        else:
            setup = session_s + run.setup_once_s + statistics.median(run.setup_s)
            values = {"setup_s": setup, **timings, "store_mb": store_mb}
    correct = not run.mismatches and failed == 0
    result = {
        "correct": correct,
        "attempted": max(1, len(run.writes) + len(run.reads) + failed),
        "failed": failed,
        "metrics": {
            name: {"value": values[name], "unit": unit}
            for name, unit in _metric_units(args.trace).items()
            if name in values
        },
    }
    _save(args, result, rec, run, timings)
    for m in run.mismatches:
        print(f"MISMATCH {m}", file=sys.stderr)
    print(json.dumps(result))
    return 0 if correct else 1


def _save(args, result: dict, rec, run: Run, timings: dict[str, float]) -> None:
    """Keep the result, the timings and samples (and a traced run's spans)
    under .perfbench_out.  A traced run next to an untraced result for the same
    workload and seed also records the tracing overhead: traced minus
    untraced, per timing."""
    os.makedirs(OUT, exist_ok=True)
    stem = os.path.join(OUT, f"{args.workload}-seed{args.seed}")
    doc = {"args": vars(args), "result": result, "timings": timings, "samples": {
        "setup_s": run.setup_s,
        "writes": [(c.wall, c.cpu) for c in run.writes],
        "reads": [(c.wall, c.cpu) for c in run.reads]}}
    if args.trace:
        doc["spans"] = rec.dump()
        try:
            with open(f"{stem}-trace0.json") as fh:
                base = json.load(fh)["timings"]
            doc["overhead"] = {k: v - base[k] for k, v in timings.items()}
            print(f"tracing overhead: {doc['overhead']}", file=sys.stderr)
        except (OSError, KeyError, ValueError):
            pass
    with open(f"{stem}-trace{args.trace}.json", "w") as fh:
        json.dump(doc, fh, indent=1)


if __name__ == "__main__":
    sys.exit(main())
