"""Report sinks / formatters (SURVEY.md §2.1 S11, S15-S17) and the
node/edge table writers (S12-S14 restated for Spark).

Reference: reporting/neo4j_reporter.py:213-345 (CSV/JSON/table),
extractors/base_extractor.py:79-83 (JSON dump), loaders (MERGE upserts).
Spark-first: distributed writes for data, driver-side pretty printing
only for human-facing tables.

``write_parquet`` is the engine's one parquet sink for store and
pipeline outputs: it decides, per write, between a driver write of a
small output and the Spark write (see the comment block above it).
"""

from __future__ import annotations

import logging
import os
import shutil
import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.cleaning import truncate_value

_log = logging.getLogger("hubspot_neo4j_pipeline_spark")

# Driver-side small writes (guide §5 — the driver can own
# driver-bounded work). A store delta or a pipeline table is often a
# few thousand slim rows, but the Spark write job still pays write-task
# launch, the Hadoop committer (_temporary dirs, per-task + job commit
# renames), per-task deserialization of the Hadoop conf and the
# parquet-mr writer's warm-up — measured ~0.1-0.3 s of fixed cost per
# store commit at sf0.1 against a 0.5-0.7 s total. When the output is
# estimated small, the driver collects it as one Arrow table (the same
# single plan execution the write job pays) and writes it with pyarrow.
# Gates, conservative in both directions:
#   * the size estimate must be under DRIVER_COMMIT_MAX_EST. By default
#     it is the planner's (optimizedPlan().stats().sizeInBytes), which
#     on the stores' post-aggregate delta plans measured within ~5x of
#     the actual Arrow bytes; an eagerly checkpointed input (the SCD2
#     upsert path) reports "unknown" (Long.MaxValue), so bulk and
#     unknown-size outputs keep the distributed write. A caller whose
#     plan hides its size (a join the planner multiplies out, a driver
#     frame) passes ``est_bytes`` instead: the vector store estimates
#     on its parquet-rooted subplan, the pipeline passes its inputs'
#     bytes (``input_bytes``);
#   * the collected table's ACTUAL bytes must be under
#     DRIVER_COMMIT_MAX_ACTUAL, or the Spark path re-executes (rare
#     misestimate; correctness never depends on the gate). toArrow()
#     materializes the output before this check, so a pathological
#     underestimate is bounded only by spark.driver.maxResultSize until
#     the cap rejects it; MAX_EST sits ~8x under MAX_ACTUAL so the
#     observed ~5x estimate error stays under the cap, and a
#     maxResultSize abort falls back like any other driver-path error.
# Byte compatibility is pinned by tests/test_driver_commit.py (every
# store delta shape) and tests/test_pipeline.py (every pipeline table,
# day 0 and day 1, on both paths): a driver-written file reads back
# with the same column types and rows as a Spark-written one.
DRIVER_COMMIT_MAX_EST = 16 * 1024 * 1024
DRIVER_COMMIT_MAX_ACTUAL = 128 * 1024 * 1024
UNKNOWN_SIZE = 2**63 - 1  # Catalyst's sizeInBytes when it cannot tell

# characters Spark escapes in a hive partition directory name
# (ExternalCatalogUtils.escapePathName); a driver write of such a value
# would name its directory differently, so it takes the Spark path
_PATH_ESCAPED = frozenset('"#%\'*/:=?\\\x7f{[]^') | {chr(c) for c in range(1, 32)}


def plan_size_estimate(df) -> int | None:
    """Catalyst's optimized-plan output-size estimate in bytes, or
    None when the API is unavailable. An UNKNOWN size (LogicalRDD
    inputs — checkpoints, driver frames) surfaces as UNKNOWN_SIZE, so
    comparing against a small threshold naturally fails the gate."""
    try:
        return int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:
        return None


def input_bytes(df) -> int | None:
    """The summed size estimates of ``df``'s optimized-plan leaves: the
    on-disk bytes of a file scan, the data size of a local relation,
    UNKNOWN_SIZE for an RDD. A size the driver observes without
    running anything, for plans whose own estimate the planner
    multiplies out (a broadcast join estimates as the product of its
    sides); an output that outgrows its inputs (an explode, a fan-out
    join) is still caught by DRIVER_COMMIT_MAX_ACTUAL. None when the
    API is unavailable."""
    try:
        leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
        return sum(
            int(leaves.apply(i).stats().sizeInBytes())
            for i in range(leaves.size())
        )
    except Exception:
        return None


def _try_driver_table(df, est_bytes: int | None = None):
    """``df`` collected as one Arrow table when it is small enough for
    the driver (gates above), else the reason it goes to Spark. Errors
    (stats API drift, Arrow conversion of an exotic type, result-size
    cap) propagate to ``write_parquet``."""
    est = est_bytes if est_bytes is not None else plan_size_estimate(df)
    if est is None or est >= UNKNOWN_SIZE:
        return "estimate unknown"
    if est > DRIVER_COMMIT_MAX_EST:
        return f"estimate {est} over {DRIVER_COMMIT_MAX_EST}"
    tbl = df.toArrow()
    if tbl.nbytes > DRIVER_COMMIT_MAX_ACTUAL:
        return f"actual {tbl.nbytes} over {DRIVER_COMMIT_MAX_ACTUAL}"
    return tbl


def _hive_parts(tbl, col: str):
    """[(``col=value`` directory, rows without ``col``)] per distinct
    value of ``col``, or None when ``col`` is not a string column or a
    value is null, empty or has a character Spark escapes in a path
    (Spark's writer names those directories its own way)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    column = tbl.column(col)
    if not (pa.types.is_string(column.type) or pa.types.is_large_string(column.type)):
        return None
    values = pc.unique(column).to_pylist()
    if any(not v or _PATH_ESCAPED.intersection(v) for v in values):
        return None
    rest = tbl.drop_columns([col])
    return [(f"{col}={v}", rest.filter(pc.equal(column, v))) for v in sorted(values)]


def _write_files(path: str, mode: str, parts) -> list[str]:
    """Write each (subdirectory, table) of ``parts`` as one zstd parquet
    file under ``path`` and return the files. ``overwrite`` removes
    ``path`` first; ``append`` adds uniquely named files. Every file is
    written under a ``_``-prefixed name, which readers skip, and renamed
    into place only after all of them are written; on an error the
    files of this call are removed before it re-raises, so a failed
    write leaves no visible file behind."""
    import pyarrow.parquet as pq

    if mode == "overwrite":
        shutil.rmtree(path, ignore_errors=True)
    name = (
        "part-00000-driver.parquet"
        if mode == "overwrite"
        else f"part-00000-{uuid.uuid4().hex}-driver.parquet"
    )
    staged: list[tuple[str, str]] = []
    try:
        for sub, part in parts:
            d = os.path.join(path, sub)
            os.makedirs(d, exist_ok=True)
            staged.append((os.path.join(d, "_" + name), os.path.join(d, name)))
            pq.write_table(part, staged[-1][0], compression="zstd")
        for tmp, final in staged:
            os.rename(tmp, final)
    except Exception:
        for pair in staged:
            for f in pair:
                if os.path.exists(f):
                    os.remove(f)
        raise
    return [final for _tmp, final in staged]


def write_arrow(tbl, path: str, mode: str) -> list[str]:
    """Write the Arrow table ``tbl`` as one parquet file under ``path``
    from the driver (``_write_files``); returns the file's path in a
    list. For an output already on the driver, such as one derived from
    a table ``write_parquet`` returned."""
    return _write_files(path, mode, [("", tbl)])


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str,
    partition_by: str | None = None,
    est_bytes: int | None = None,
):
    """Write ``df`` as parquet at ``path`` (``mode`` overwrite or append,
    hive-partitioned by the column ``partition_by`` if given), from the
    driver when it is small, else with the Spark writer.

    Driver path (gates in the comment block above): ``df`` is collected
    once with ``toArrow()`` and written by ``_write_files`` as one file,
    or one file per ``partition_by`` value under ``col=value``
    directories. Returns the collected table, so the caller can derive
    further outputs from it without running ``df`` again. Otherwise —
    too big, unknown size, a partition value Spark would escape, or any
    driver-path error, after which nothing of the driver write is
    visible — ``df.write`` writes it and this returns None.

    Logs one record per write on ``hubspot_neo4j_pipeline_spark``:
    the path and ``driver``, or ``spark`` with the reason; INFO, except
    WARNING for a driver-path error (named by its exception class)."""
    import pyarrow as pa

    level = logging.INFO
    try:
        got = _try_driver_table(df, est_bytes)
        if isinstance(got, pa.Table):
            parts = [("", got)] if partition_by is None else _hive_parts(got, partition_by)
            if parts is not None:
                _write_files(path, mode, parts)
                _log.info("parquet write %s: driver", path)
                return got
            got = "partition value null, empty, escaped or not a string"
        reason = got or "no driver table"
    except Exception as exc:
        level, reason = logging.WARNING, f"driver write failed: {type(exc).__name__}"
    _log.log(level, "parquet write %s: spark (%s)", path, reason)
    writer = df.write.mode(mode)
    if partition_by is not None:
        writer = writer.partitionBy(partition_by)
    writer.parquet(path)
    return None


def write_csv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """S15: headered CSV (schema union is inherent — DataFrames are
    rectangular; the reference had to union dict keys by hand)."""
    df.write.mode(mode).option("header", "true").csv(path)


def write_json(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """S11/S16: JSON-lines dataset."""
    df.write.mode(mode).json(path)


def to_table_string(df: DataFrame, max_width: int = 50, limit: int = 100) -> str:
    """S17: human-facing grid with value truncation
    (neo4j_reporter.py:267-345). Truncation happens distributed
    (truncate_value column expr); only `limit` rows reach the driver.
    """
    truncated = df.select(
        *[truncate_value(c, max_width).alias(c) for c in df.columns]
    )
    return truncated._show_string(limit, truncate=False)


def print_table(df: DataFrame, max_width: int = 50, limit: int = 100) -> None:
    print(to_table_string(df, max_width=max_width, limit=limit))


def upsert_nodes(
    nodes: DataFrame, path: str, key: str = "hubspot_id", mode: str = "overwrite"
) -> None:
    """S12 restated: MERGE-on-key idempotency = dedup on key then
    deterministic overwrite of the partitioned node table. (With a
    transactional format this is a MERGE INTO; plain parquet gets
    last-writer-wins per run.)"""
    nodes.dropDuplicates([key]).write.mode(mode).parquet(path)


def append_edges(
    edges: DataFrame, path: str, partition_by: str = "rel_type"
) -> None:
    """S13/S14 restated: edge table partitioned by rel_type so
    per-relationship queries prune partitions."""
    edges.write.mode("append").partitionBy(partition_by).parquet(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    path: str,
    key: str,
    n_buckets: int = 16,
    mode: str = "overwrite",
) -> None:
    """Bucketed parquet table: hash-partitioned AND sorted by ``key`` at
    write time, registered in the session catalog (external, at ``path``).

    This is THE repeated-join optimization at 100 TB: two tables
    bucketed by the same key with the same bucket count join with ZERO
    shuffle — Spark proves the children's output partitioning matches
    and elides both Exchanges (see tests/test_cli_and_sinks.py for the
    plan assertion). Pay the shuffle once at ingest, never per query.
    Bucket count should target ~128 MB per bucket-file at full scale.
    """
    (
        df.write.mode(mode)
        .option("path", path)
        .bucketBy(n_buckets, key)
        .sortBy(key)
        .format("parquet")
        .saveAsTable(table)
    )


def read_bucketed(spark, table: str) -> DataFrame:
    """Read a bucketed table back with its bucket metadata intact (a
    plain ``spark.read.parquet(path)`` would LOSE the bucketing and
    reintroduce the join shuffle)."""
    return spark.table(table)


def write_training_shards(
    df: DataFrame,
    path: str,
    partition_cols: tuple[str, ...] = ("source", "shard_id"),
    max_records_per_file: int = 0,
    mode: str = "overwrite",
) -> None:
    """Materialize a packed training set as partitioned parquet — the
    write side of ``doc_shard_packing``/``dataset_split_assignment``.

    Layout contract: one directory per (source, shard_id) so a trainer
    streams shards independently and a re-run replaces exactly the
    partitions it recomputes (``partitionOverwriteMode=dynamic`` on a
    real deployment). ``max_records_per_file`` (0 = Spark default)
    bounds file sizes without an extra repartition — the writer splits
    files as it streams, so no shuffle is added to the packing plan.
    At 100 TB this is the same one-pass write: work is proportional to
    data written, partition count is bounded by sources × shards.
    """
    w = df.write.mode(mode).partitionBy(*partition_cols)
    if max_records_per_file > 0:
        w = w.option("maxRecordsPerFile", str(max_records_per_file))
    w.parquet(path)
