"""SparkSession factory.

One place to own the configs that matter for both local correctness
runs and a real multi-executor cluster:

- AQE on (runtime coalesce, skew-join splitting, broadcast demotion)
- UTC session timezone (oracle comparisons against DuckDB's naive UTC)
- Arrow for pandas interchange (Pandas UDFs, toPandas)
- shuffle partitions sized to the local core count; on a real cluster
  AQE coalesces the 2048 initial partitions down to what the data needs
- ``nanosAsLong`` because the synthetic events table stores
  TIMESTAMP(NANOS), which Spark's parquet reader refuses otherwise
  (sources/tpch.py converts the long back to a timestamp column).

Driver JVM flags sit in ``spark.driver.defaultJavaOptions``, not
``extraJavaOptions``. Spark puts the default options first and a
caller's ``extraJavaOptions`` after them, so a caller adding its own
flags (perfbench/run.py adds a tmpdir) composes with the engine's
instead of replacing them, and a caller's later ``-XX:`` flag of the
same name still wins.

JIT compile budget, ``-XX:CICompilerCount=2`` (one C1 + one C2
thread; HotSpot's default is 3 at 4 cores and 15 at 32). A batch run
starts a fresh JVM and runs many small plans, so most of its CPU goes
to compiling cold driver code (Catalyst, Janino), not to running it.
Measured on a 4-core host, crm day-0 load (perfbench seed 5,
local[4], CPU-s by JVM thread, tools/jvm_cpu.py): C2 37.5, C1 7.8,
task threads 11.6, py4j planning threads 11.5 of 83.8 CPU-s in 30.4 s
of wall. With the budget the load took 66.4 CPU-s (seeds 11/12:
75.9 -> 63.2, 81.5 -> 69.1). One C2 thread still compiles the hottest methods
first, so compiled executor loops keep C2 speed: a warm 400M-row
range -> xxhash64 -> group-by took 4.3-4.5 s by default and 4.0-4.4 s
with the budget. C1 only (``-XX:TieredStopAtLevel=1``) cut the load to
45 CPU-s but made that hot loop take 52-58 s, so it was rejected.

DataFrame debugging off, ``spark.python.sql.dataFrameDebugging.enabled
=false``. With it on (PySpark 4's default) every wrapped
``functions.*`` call and ``Column`` method records its Python call site
for error messages: five py4j round trips (getActiveSession, isDefined,
get, set, clear of the JVM's current origin), a walk of the Python
stack and a retried ``import ipykernel`` (failed imports are not
cached). Building the crm day-0 load's transform plan (perfbench seed
5 feeds, local[4], tools/py4j_calls.py) made 7,244 py4j calls, 4,830 of
them (966 x 5) for this capture; with it off, 2,414. ``transform_all``
went from 2.5 s of wall and 5.3 CPU-s (JVM 4.4, Python 0.9) to 1.7 s
and 4.2 CPU-s cold, and from 1.2-1.3 s to 0.7-0.8 s warm. What is
lost: the DataFrame call-site fragment ("== DataFrame == ... was called
from file:line") of an error; the error keeps its condition and
message. PySpark caches the setting per process on first use
(``pyspark.errors.utils.is_debugging_enabled``) and caches ``False``
if a Column is built before any session exists, so with the default
the capture was on or off depending on import order.
It is a static conf: it goes on the builder.

Codegen cache, ``spark.sql.codegen.cache.maxEntries`` = CODEGEN_CACHE
(Spark's default is 100). Janino compiles each whole-stage class once
per entry of this cache, keyed by the generated source. One crm day-0
load (perfbench seed 7 feeds, local[4]) compiles 124 classes, so with
100 entries a second identical ``run_pipeline`` in the same session
recompiled 115 of them; with 1000 it compiles none (CodegenMetrics
compilation count, two runs each: warm-run CPU 21.1 -> 20.0 and
16.1 -> 15.0 CPU-s, process + JVM). A batch run starts a fresh JVM,
so only long-lived sessions gain. A class is a few KB of metaspace,
so 1000 entries cost a few MB. Also a static conf.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8)))
CODEGEN_CACHE = 1000  # compiled whole-stage classes kept (module docstring)


def _reuse_existing(
    spark: SparkSession,
    cpus: int | None,
    shuffle_partitions: int | None,
    extra_conf: dict[str, str] | None,
) -> SparkSession:
    """Honor explicit config requests against an already-running session.

    getOrCreate() silently ignores builder configs when a session
    exists; that silent drift once meant bench/tests sharing a process
    could run under the wrong settings. Policy: runtime-settable confs
    are applied to the live session; a request that CANNOT be honored
    (different master, static JVM confs like driver memory) fails
    loudly instead of pretending.
    """
    problems: list[str] = []
    if cpus is not None:
        actual = spark.conf.get("spark.master", "")
        if actual != f"local[{cpus}]":
            problems.append(f"spark.master: existing={actual!r}, requested local[{cpus}]")
    if shuffle_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    for k, v in (extra_conf or {}).items():
        try:
            spark.conf.set(k, v)
        except Exception:
            actual = spark.conf.get(k, None)
            if actual != v:
                problems.append(f"{k}: existing={actual!r}, requested={v!r} (static conf)")
    if problems:
        raise RuntimeError(
            "existing SparkSession cannot honor requested configs: "
            + "; ".join(problems)
            + ". Stop the session first or drop the explicit request."
        )
    return spark


def get_spark(
    app_name: str = "hubspot-neo4j-pipeline-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the singleton SparkSession.

    If a session already exists in this process, explicit requests are
    checked against it: runtime confs are applied, unsatisfiable static
    ones raise (see _reuse_existing) — never silently ignored.

    In local mode ``spark.driver.memory`` is the whole JVM; keep the
    default unless the caller overrides via extra_conf.
    """
    # getActiveSession() is THREAD-LOCAL: a session created on another
    # thread returns None here, and builder.getOrCreate() would then
    # silently ignore the requested configs — exactly the drift
    # _reuse_existing exists to prevent. Fall back to the process-wide
    # default session before trusting the builder.
    existing = SparkSession.getActiveSession() or getattr(
        SparkSession, "_instantiatedSession", None
    )
    if existing is not None and existing._jsparkSession is not None:
        return _reuse_existing(existing, cpus, shuffle_partitions, extra_conf)

    cpus = cpus or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or max(cpus, 8)

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # local mode: the driver JVM is the whole cluster — the 1g
        # default OOMs under 32 concurrent tasks + cached frames.
        .config("spark.driver.memory", "16g")
        # JVM unified-logging warnings (gc,alloc) print to STDOUT and
        # would corrupt single-JSON-line protocols (bench.py). The
        # compile budget is explained in the module docstring.
        .config(
            "spark.driver.defaultJavaOptions",
            "-Xlog:disable -XX:CICompilerCount=2",
        )
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # r14 (guide §3.1/§9): allow shuffled-hash join where its size
        # conditions hold instead of always sort-merge, and let AQE
        # rewrite a planned sort-merge to shuffled-hash at runtime when
        # every post-shuffle partition is under 64 MB. Both paths are
        # size-gated (planner estimate / AQE actuals), so they scale to
        # arbitrary inputs — an oversized build side keeps sort-merge.
        # Measured on the SMJ-heavy rows (min-of-3, both A/B orders):
        # neo4j_dryrun_temporal 2.22->1.66 s, ann_ivf_topk_trained
        # 2.39->2.12 s, semantic_dedup -5-10%, no regressions.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            "67108864",
        )
        # r14 (guide §6): zstd parquet for everything the engine writes
        # (store deltas/bases, sink shards) — markedly better ratio than
        # snappy at similar read speed; local store round-trips measure
        # wash-to-slightly-faster, at 100 TB the smaller store bytes are
        # the point.
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # naive parquet timestamps scan as TIMESTAMP (LTZ=UTC) directly,
        # keeping pushdown on date/ts columns (see sources/tpch.py)
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.maxResultSize", "4g")
        # no per-Column call-site capture (module docstring)
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
