"""The LSM segment-store kernel: one ingest / delete / compact /
bulk-load / stream lifecycle on plain parquet (no table-format jar
available offline), shared by the seven streaming stores and the SCD2
store. Each store module supplies a ``StoreSpec`` plus its own row
builders and scoring or read functions.

Layout::

    store/
      meta.json        atomic commit pointer (tmp file + os.replace):
                       {"base": "base-<n>"|null, "consumed_through": k,
                        "n_buckets", "base_n_buckets", "base_rows",
                        plus the store's pinned properties}
      base-<n>/<bucket_col>=K/
                       the compacted view, hive-partitioned by the
                       spec's bucket expression: one bucket (K=0)
                       until compaction grows it (``compact``); a
                       ``bootstrap`` load starts at BOOTSTRAP_MIN_BUCKETS
                       or more
      deltas/b<id>/    one directory per ingested batch, written to a
                       _tmp dir and os.rename'd into place (the rename
                       IS the commit), with a _delta_manifest.json of
                       the buckets it touches and its row count
      history/seg-<id>/
                       a ``side_family`` segment (SCD2 closed versions),
                       one per compaction that closed something, named
                       by its consumed_through and visible iff meta's
                       history_floor <= id <= consumed_through

Replay guard and crash contract:
  * a batch id is applied iff ``deltas/b<id>`` exists or
    id <= consumed_through, so a replayed id is a no-op, also under
    out-of-order redelivery;
  * every mutation before the meta.json os.replace is invisible to
    readers and garbage-collectable (``sweep``): an orphan ``_tmp-``
    dir, a ``base-<n+1>`` meta does not point to, consumed deltas a
    crash left behind, a history segment outside the visible range;
  * readers resolve ONLY meta's base plus deltas with
    id > consumed_through;
  * batch ids are scoped to one streaming checkpoint, so a store and
    its checkpoint_dir live and die together.

Writer contract: one writer per store at a time, and a compaction
never overlaps an ingest. ``foreachBatch`` and the pipeline's day run
both hand a store one micro-batch at a time from one driver thread;
nothing in this module locks, so a second concurrent writer is a
caller error.

Lifecycle:
  * ``ingest`` runs the replay guard, the store's row builder, one
    meta write for the bucket count (START_N_BUCKETS on a fresh store,
    else the pinned count) and the builder's pins,
    ``commit_delta`` (through the engine's parquet sink,
    ``operators.sinks.write_parquet``, which writes a small delta from
    the driver) and the compaction trigger (every
    ``compact_every`` live deltas). A delete is an ingest whose builder
    emits tombstones or negated partials.
  * ``visible_frames`` / ``read_store`` merge the base and the live
    deltas under the spec's rule. Building a read schedules no Spark
    job before the caller's action: meta, manifests and row counts
    are driver file reads, and every segment opens through
    ``read_parquet``, whose schema comes from the first data file's
    parquet footer, read on the driver with pyarrow — Spark's
    row-metadata JSON for a Spark-written file, the Arrow schema for a
    driver-committed delta — plus the bucket column as an int
    partition. A bare ``spark.read.parquet(path)`` would start a
    schema-inference job per segment.
  * ``compact`` sweeps, grows the bucket count when the store has
    outgrown it (doubling from the pinned count until at most
    ROWS_PER_BUCKET rows per bucket, always a full rewrite), picks the
    touched buckets from the delta manifests, and then carries the
    base over (only empty deltas live), merges the touched partitions
    and hard-links the rest (partial), or rewrites the whole base
    (full). A store still at one bucket takes the carry or the full
    path; partial needs two or more. The spec's ``side_family`` step,
    if any, runs next; one meta replace commits both; a final sweep
    removes what it superseded; one INFO record on the
    ``hubspot_neo4j_pipeline_spark`` logger names the path and the
    bucket count before and after. Compaction reclaims: tombstones and
    netted-out rows never reach the new base.
  * ``bootstrap`` bulk-loads a store's rows as its first base, sized
    from the row count the store passes; ``streamer`` turns a store's
    per-batch update into its ``foreachBatch`` driver.

Merge rules (``StoreSpec.merge``):
  * ``min_owner`` — min(value) per key, order-free. Deletes are
    ``_del`` tombstone rows; a tombstone kills the key's rows of older
    provenance sequence (``tombstones.min_merge_with_tombstones``).
    hash (content_hash -> owner_id), cluster (doc_id -> comp).
  * ``latest_writer`` — the newest frame's row wins per key and a key
    whose newest row is a tombstone is hidden
    (``tombstones.latest_writer_union`` + ``drop_tombstoned_latest``);
    rows carry the writing batch id ``_ubid``. lsh (doc_id), vector
    (vec_id).
  * ``additive`` — sum per key; a key whose first value nets to <= 0 is
    hidden and reclaimed, and deletes commit negated partials. gram
    (h -> n, bucket column ``bucket``), df (term -> df), window
    ((day, user_id) -> n, total_value).
  * the SCD2 store (streaming/incremental.py) passes its own merge:
    latest writer per key over the base and the deltas'
    ``_kind == 'current'`` rows, the one rule of its reads and its
    compactions.

The SCD2 store has two segment families. The current family is a spec
on this lifecycle like any other. The closed versions are its side
family: ``StoreSpec.side_family`` writes ``history/seg-<hi>`` (folding
older segments at ``SCD2_HISTORY_FOLD_AT``) after the base and before
the meta replace, and returns the meta keys to commit
(``history_floor``). ``sweep`` removes stranded history segments
itself rather than through a second hook: their visibility is a meta
rule sweep already reads, and sweep runs at both ends of every
compaction anyway.
"""

from __future__ import annotations

import json
import logging
import os
import shutil
from dataclasses import dataclass
from typing import Callable, NamedTuple

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.sinks import write_parquet
from . import tombstones

META = "meta.json"
DELTAS = "deltas"
HISTORY = "history"

_log = logging.getLogger("hubspot_neo4j_pipeline_spark")


def read_meta(store_path: str) -> dict:
    p = os.path.join(store_path, META)
    if not os.path.exists(p):
        return {"base": None, "consumed_through": -1}
    with open(p) as fh:
        return json.load(fh)


def write_meta(store_path: str, meta: dict) -> None:
    """Atomic commit: tmp file + os.replace — readers see the old or
    the new pointer, never a torn one. This replace is the ONLY
    mutation that changes what a reader resolves. The tmp is
    ``meta.json.tmp-<pid>``; ``sweep`` removes one a crash left."""
    tmp = os.path.join(store_path, f"{META}.tmp-{os.getpid()}")
    try:
        with open(tmp, "w") as fh:
            json.dump(meta, fh)
        os.replace(tmp, os.path.join(store_path, META))
    finally:
        # after a successful replace the tmp name no longer exists; on
        # a failed dump or replace it is this writer's own leftover
        if os.path.exists(tmp):
            os.remove(tmp)


def committed_deltas(store_path: str) -> dict[int, str]:
    """batch_id -> absolute delta dir, committed (renamed) dirs only."""
    d = os.path.join(store_path, DELTAS)
    if not os.path.isdir(d):
        return {}
    out: dict[int, str] = {}
    for name in os.listdir(d):
        if name.startswith("b") and name[1:].isdigit():
            out[int(name[1:])] = os.path.join(d, name)
    return out


def live_deltas(store_path: str, meta: dict | None = None) -> dict[int, str]:
    """Deltas a reader must resolve: committed and not yet folded into
    the base (id > consumed_through). Stranded consumed dirs a crash
    left behind are excluded here and removed by ``sweep``."""
    meta = meta or read_meta(store_path)
    return {
        b: p
        for b, p in committed_deltas(store_path).items()
        if b > meta["consumed_through"]
    }


def sweep(store_path: str, meta: dict) -> None:
    """Remove leftovers a crash between commit and cleanup can strand:
    consumed deltas, base dirs meta doesn't point to, orphan _tmp
    ingest dirs, ``meta.json.tmp-*`` files, and in ``history/`` the
    orphan ``_tmpseg-*`` dirs and every ``seg-<id>`` outside
    history_floor <= id <= consumed_through (uncommitted or folded
    away). Nothing here is reader-resolvable. Under the writer
    contract (module docstring) no ingest or meta write of the same
    store is in flight while sweep runs, so every leftover is fair
    game, this process's own included."""
    for bid, path in committed_deltas(store_path).items():
        if bid <= meta["consumed_through"]:
            shutil.rmtree(path, ignore_errors=True)
    for name in os.listdir(store_path):
        full = os.path.join(store_path, name)
        if name.startswith("base-") and name != (meta["base"] or ""):
            shutil.rmtree(full, ignore_errors=True)
        elif name.startswith("_tmp-"):
            shutil.rmtree(full, ignore_errors=True)
        elif name.startswith(META + ".tmp"):
            try:
                os.remove(full)
            except OSError:
                pass
    hist = os.path.join(store_path, HISTORY)
    floor = meta.get("history_floor", -1)
    for name in os.listdir(hist) if os.path.isdir(hist) else ():
        seg = name[4:]
        if name.startswith("_tmpseg-") or (
            name.startswith("seg-")
            and seg.isdigit()
            and not floor <= int(seg) <= meta["consumed_through"]
        ):
            shutil.rmtree(os.path.join(hist, name), ignore_errors=True)


def already_ingested(store_path: str, batch_id: int) -> bool:
    meta = read_meta(store_path)
    return batch_id <= meta["consumed_through"] or batch_id in committed_deltas(
        store_path
    )


def next_batch_id(store_path: str) -> int:
    meta = read_meta(store_path)
    return max([meta["consumed_through"], *committed_deltas(store_path)]) + 1


MANIFEST = "_delta_manifest.json"

# commit_delta's manifest needs the delta's distinct bucket ids + row
# count. Below this many parquet BYTES the driver reads the single
# bucket column itself (pyarrow — microseconds, zero Spark jobs);
# above it, a Spark aggregation job does it distributed. Micro-batch
# deltas are small by construction, so the driver path is the normal
# case; the threshold only guards a bulk misuse (someone committing a
# corpus-sized frame as one delta).
MANIFEST_DRIVER_MAX_BYTES = 128 * 1024 * 1024


def _delta_parquet_files(tmp: str) -> list[str]:
    return [
        os.path.join(tmp, name)
        for name in os.listdir(tmp)
        if name.endswith(".parquet")
    ]


def _manifest_counts(df, tmp: str, bucket_col: str) -> tuple[list[int], int]:
    """(sorted distinct bucket ids, row count) of the just-written tmp
    parquet. Driver-side single-column pyarrow read when the delta is
    small (no Spark job — r12: the per-delta manifest job was ~0.4 s of
    fixed overhead on every micro-batch ingest); Spark aggregation
    past MANIFEST_DRIVER_MAX_BYTES. Either way a slim re-read of the
    written bytes, never a recompute of the batch plan."""
    files = _delta_parquet_files(tmp)
    if sum(os.path.getsize(f) for f in files) <= MANIFEST_DRIVER_MAX_BYTES:
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        touched: set[int] = set()
        rows = 0
        for f in files:
            t = pq.read_table(f, columns=[bucket_col])
            rows += t.num_rows
            touched.update(
                int(v) for v in pc.unique(t.column(bucket_col)).to_pylist()
                if v is not None
            )
        return sorted(touched), rows
    per_bucket = (
        read_parquet(df.sparkSession, tmp).groupBy(bucket_col).count().collect()
    )
    return sorted(r[0] for r in per_bucket), int(sum(r[1] for r in per_bucket))


# Delta commit: the write goes through the engine's one parquet sink,
# ``operators.sinks.write_parquet``, which commits a small delta from
# the driver (one pyarrow file, no write job) and a large or
# unknown-size one with the Spark writer, and logs which and why. The
# manifest is read back from the written file either way
# (``_manifest_counts``), so both paths commit the same manifest.


def commit_delta(
    df,
    store_path: str,
    batch_id: int,
    bucket_col: str | None = None,
    est_bytes: int | None = None,
) -> None:
    """Write ``df`` as delta segment b<batch_id>: parquet into a _tmp
    dir (``write_parquet``), then one atomic os.rename. A crashed
    previous attempt's _tmp is cleared first (it was never
    reader-visible). ``est_bytes`` lets a caller whose final plan hides
    its size behind a driver-frame join supply the size estimate itself
    (``sinks.plan_size_estimate``).

    ``bucket_col`` (r10, bucket-partial compaction): name of an
    integer bucket column carried by ``df``. When given, the distinct
    bucket ids present in the batch and its row count are read from
    the just-written tmp parquet (a slim re-read, never a recompute of
    the batch plan) into a ``_delta_manifest.json`` INSIDE the delta
    dir — written before the rename, so the manifest commits atomically
    with the data. Compactions use the union of live manifests to merge
    only touched buckets and carry the rest of the base over by
    hard-link (``untouched_partitions`` / ``link_tree``)."""
    os.makedirs(os.path.join(store_path, DELTAS), exist_ok=True)
    tmp = os.path.join(store_path, f"_tmp-b{batch_id}")
    if os.path.exists(tmp):
        shutil.rmtree(tmp)
    write_parquet(df, tmp, "overwrite", est_bytes=est_bytes)
    if bucket_col is not None:
        touched, rows = _manifest_counts(df, tmp, bucket_col)
        with open(os.path.join(tmp, MANIFEST), "w") as fh:
            json.dump(
                {"bucket_col": bucket_col, "touched": touched, "rows": rows},
                fh,
            )
    os.rename(tmp, os.path.join(store_path, DELTAS, f"b{batch_id}"))


def delta_manifest(delta_path: str) -> dict | None:
    """The delta's bucket manifest, or None for pre-r10 deltas written
    without one (compactions then fall back to a full-base rewrite)."""
    p = os.path.join(delta_path, MANIFEST)
    if not os.path.exists(p):
        return None
    with open(p) as fh:
        return json.load(fh)


def touched_buckets(deltas: dict[int, str], bucket_col: str) -> list[int] | None:
    """Union of the live deltas' touched buckets, or None if ANY delta
    lacks a manifest / disagrees on the bucket column (mixed-layout
    stores compact via the full path — correctness never depends on
    the manifests, they only shrink the compaction's I/O)."""
    out: set[int] = set()
    for _bid, path in deltas.items():
        m = delta_manifest(path)
        if m is None or m.get("bucket_col") != bucket_col:
            return None
        out.update(m["touched"])
    return sorted(out)


def link_tree(src_dir: str, dst_dir: str) -> None:
    """Hard-link every file of ``src_dir`` into a fresh ``dst_dir``
    (copy on filesystems without link support). Used to carry a base's
    untouched bucket partitions into the next base generation without
    rewriting their bytes — the links share inodes, so the carry-over
    is O(files), not O(bytes)."""
    os.makedirs(dst_dir, exist_ok=True)
    for name in os.listdir(src_dir):
        s = os.path.join(src_dir, name)
        d = os.path.join(dst_dir, name)
        if os.path.isdir(s):
            link_tree(s, d)
        else:
            try:
                os.link(s, d)
            except OSError:
                shutil.copy2(s, d)


def assemble_partial_base(
    store_path: str,
    old_base: str,
    merged_tmp: str,
    new_base: str,
    bucket_col: str,
    touched: list[int],
) -> None:
    """Build ``new_base`` from a partial-compaction merge: hard-link
    the old base's untouched ``<bucket_col>=K`` partition dirs, move
    the freshly-merged touched partitions in from ``merged_tmp``, then
    one os.rename into place. Everything happens under a ``_tmp-``
    name the sweeper reclaims, and the old base stays intact until the
    meta replace commits the new one — identical crash contract to the
    full rewrite."""
    touched_names = {f"{bucket_col}={t}" for t in touched}
    tmp_base = os.path.join(store_path, f"_tmp-{new_base}")
    if os.path.exists(tmp_base):
        shutil.rmtree(tmp_base)
    os.makedirs(tmp_base)
    old_path = os.path.join(store_path, old_base)
    prefix = f"{bucket_col}="
    for name in os.listdir(old_path):
        if name.startswith(prefix) and name not in touched_names:
            link_tree(os.path.join(old_path, name), os.path.join(tmp_base, name))
    for name in os.listdir(merged_tmp):
        if name.startswith(prefix):
            os.rename(os.path.join(merged_tmp, name), os.path.join(tmp_base, name))
    shutil.rmtree(merged_tmp, ignore_errors=True)
    os.rename(tmp_base, os.path.join(store_path, new_base))


def pin_n_buckets(store_path: str, meta: dict, n_buckets: int) -> int:
    """The store's bucket count, pinned in meta at first ingest.
    Partial compaction carries untouched base partitions over
    verbatim, which is only sound when every delta and every base
    generation share ONE bucketing — later callers passing a
    different count get the pinned one back."""
    if meta.get("n_buckets"):
        return meta["n_buckets"]
    meta["n_buckets"] = n_buckets
    write_meta(store_path, meta)
    return n_buckets


def pin_value(store_path: str, meta: dict, key: str, value) -> None:
    """Pin an immutable store property (e.g. the id column's Spark
    dtype) in meta at first ingest and RAISE on any later mismatch —
    the same provenance rule as ``pin_n_buckets``, but for properties
    where silently keeping the old value would corrupt semantics
    instead of just layout (r10 ADVICE: a store whose min-owner ids
    switch from long to string mid-life silently flips min() from
    numeric to lexicographic). Called from an ``ingest`` builder,
    which writes the pinned meta once the builder returns."""
    if meta.get(key) is not None:
        if meta[key] != value:
            raise ValueError(
                f"store {store_path} pinned {key}={meta[key]!r} at first "
                f"ingest, got {value!r} — rebuild the store to change it"
            )
        return
    meta[key] = value


# Scale-adaptive bucketing. The bucket count is pinned in meta for
# LAYOUT consistency (every live delta and the base share one bucketing
# for partial carry-over), not for LIFE: a fresh store starts at
# START_N_BUCKETS, so a small store is one bucket file, and compaction
# doubles the count while the store holds more than ROWS_PER_BUCKET
# rows per bucket. Growth is a full rewrite (manifest bucket ids mean
# nothing under a new modulus), committed in the new base's meta
# replace; later deltas read the grown count from meta. A store created
# under another count keeps it.
ROWS_PER_BUCKET = 2_000_000
START_N_BUCKETS = 1


def grown_n_buckets(
    meta: dict,
    deltas: dict[int, str],
    n_buckets: int,
    rows_per_bucket: int = ROWS_PER_BUCKET,
) -> int:
    """Bucket count for the NEXT base generation: doubled until the
    store's known row count fits ~rows_per_bucket per bucket; never
    shrinks. Row counts come from meta's ``base_rows`` (recorded at
    every compaction) plus the live deltas' manifest ``rows`` — when
    either is missing (pre-r11 state) the current count is kept, so
    correctness never depends on the sizing metadata."""
    total = 0
    if meta.get("base"):
        if meta.get("base_rows") is None:
            return n_buckets
        total += int(meta["base_rows"])
    for _bid, path in deltas.items():
        m = delta_manifest(path)
        if m is None or "rows" not in m:
            return n_buckets
        total += int(m["rows"])
    grown = n_buckets
    while total > grown * rows_per_bucket:
        grown *= 2
    return grown


def base_row_count(store_path: str, base_name: str) -> int:
    """Row count of a committed base — parquet-footer metadata only,
    read driver-side with pyarrow (r12: the previous Spark count was
    footer-cheap too but scheduled a whole job per compaction; the
    store lives on a local filesystem by the segments contract —
    os.rename IS the commit — so the driver can read the footers
    directly). Recorded in meta as ``base_rows`` for the next
    compaction's sizing decision."""
    import pyarrow.parquet as pq

    total = 0
    for root, _dirs, files in os.walk(os.path.join(store_path, base_name)):
        for name in files:
            if name.endswith(".parquet"):
                total += pq.ParquetFile(os.path.join(root, name)).metadata.num_rows
    return total


SPARK_ROW_METADATA = "org.apache.spark.sql.parquet.row.metadata"
INFER_NTZ = "spark.sql.parquet.inferTimestampNTZ.enabled"


def _first_data_file(path: str) -> str | None:
    """``path`` itself if it is a file, else the first parquet data file
    under it in sorted walk order, skipping the names Spark's file index
    hides (``_``/``.`` prefixes, except ``k=v`` partition dirs); None
    when there is none."""

    def hidden(name: str) -> bool:
        return name.startswith(".") or (name.startswith("_") and "=" not in name)

    if os.path.isfile(path):
        return path
    for root, dirs, files in os.walk(path):
        dirs[:] = sorted(d for d in dirs if not hidden(d))
        for name in sorted(files):
            if name.endswith(".parquet") and not hidden(name):
                return os.path.join(root, name)
    return None


def _footer_schema(path: str, infer_ntz: bool):
    """The Spark schema of one parquet file, from its footer on the
    driver: the Spark row-metadata JSON of a Spark-written file (what
    Spark's own non-merging inference reads), else the file's Arrow
    schema (a driver-committed delta), where a timestamp without a zone
    is TIMESTAMP_NTZ iff ``infer_ntz``, as in Spark's parquet
    inference (``spark.sql.parquet.inferTimestampNTZ.enabled``)."""
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema
    from pyspark.sql.types import StructType

    arrow = pq.read_schema(path)
    spark_json = (arrow.metadata or {}).get(SPARK_ROW_METADATA.encode())
    if spark_json is not None:
        return StructType.fromJson(json.loads(spark_json))
    return from_arrow_schema(arrow, prefer_timestamp_ntz=infer_ntz)


def read_parquet(
    spark: SparkSession, *paths: str, partitions: dict[str, str] | None = None
) -> DataFrame:
    """``spark.read.parquet(*paths)`` for parquet the engine wrote,
    without Spark's schema-inference job: the schema is the first data
    file's footer (``_footer_schema``) plus the hive partition columns
    ``partitions`` names (column -> type), appended in order as Spark's
    inference appends them. All files under ``paths`` share that
    schema, as every engine writer guarantees. A path set with no data
    file takes the plain read, so it raises what that read raises."""
    first = next(filter(None, map(_first_data_file, paths)), None)
    if first is None:
        return spark.read.parquet(*paths)
    from pyspark.sql.types import DataType, StructField, StructType

    infer_ntz = spark.conf.get(INFER_NTZ, "true").lower() == "true"
    schema = StructType(
        [
            *_footer_schema(first, infer_ntz).fields,
            *(
                StructField(c, DataType.fromDDL(t))
                for c, t in (partitions or {}).items()
            ),
        ]
    )
    return spark.read.schema(schema).parquet(*paths)


def write_base(df, store_path: str, base_name: str, bucket_col: str) -> bool:
    """Write a compacted base generation, hive-partitioned by
    ``bucket_col``. Returns False — with the destination REMOVED —
    when ``df`` had no rows: partitionBy on a 0-row frame writes no
    part files at all, leaving a directory Spark cannot re-read
    (UNABLE_TO_INFER_SCHEMA; surfaced r12 when a slice-twin corpus
    restriction made a whole compaction window empty). Callers then
    commit ``base: None``: a store whose merged visible state has
    zero rows IS the empty store, and every reader already handles
    that. Rows are never deleted by any store's merge rule, so this
    only happens when the base was already None and every live delta
    was empty."""
    dest = os.path.join(store_path, base_name)
    df.repartition(bucket_col).write.partitionBy(bucket_col).mode(
        "overwrite"
    ).parquet(dest)
    for _root, _dirs, files in os.walk(dest):
        if any(f.endswith(".parquet") for f in files):
            return True
    shutil.rmtree(dest, ignore_errors=True)
    return False


def next_base_name(meta: dict) -> str:
    gen = int(meta["base"].split("-")[1]) + 1 if meta["base"] else 0
    return f"base-{gen}"


def store_stats(store_path: str) -> dict:
    """Operational introspection: one dict describing the store's
    visible state — base generation and its recorded row count, live
    delta ids with manifest row counts, the pinned layout/provenance
    properties, and the touched-bucket fraction the NEXT compaction
    would merge (1.0 when any live delta lacks a manifest or a growth
    is pending). Reads meta + manifests only — no data scan, safe on
    a live store."""
    meta = read_meta(store_path)
    deltas = live_deltas(store_path, meta)
    delta_rows: dict[int, int | None] = {}
    touched: set | None = set()
    for bid, path in sorted(deltas.items()):
        m = delta_manifest(path)
        delta_rows[bid] = None if m is None else int(m.get("rows", -1))
        if touched is not None and m is not None and "touched" in m:
            touched.update(m["touched"])
        else:
            touched = None
    n_buckets = meta.get("n_buckets")
    pending_growth = (
        grown_n_buckets(meta, deltas, n_buckets) != n_buckets
        if n_buckets and deltas
        else False
    )
    frac = None
    if n_buckets:
        if pending_growth or touched is None or not meta.get("base"):
            frac = 1.0 if deltas else 0.0
        else:
            frac = len(touched) / n_buckets
    layout_keys = {
        "base", "consumed_through", "n_buckets", "base_n_buckets",
        "base_rows",
    }
    return {
        "base": meta["base"],
        "base_rows": meta.get("base_rows"),
        "n_buckets": n_buckets,
        "base_n_buckets": meta.get("base_n_buckets"),
        "consumed_through": meta["consumed_through"],
        "live_delta_ids": sorted(deltas),
        "live_delta_rows": delta_rows,
        "next_compaction_bucket_fraction": frac,
        "pending_bucket_growth": pending_growth,
        "pinned": {
            k: v for k, v in meta.items() if k not in layout_keys
        },
    }


def bootstrap_base(
    df,
    store_path: str,
    bucket_col: str,
    n_buckets: int,
    extra_meta: dict | None = None,
) -> None:
    """Write ``df`` (the store's row shape, carrying ``bucket_col``)
    as the first compacted base — one partitioned write plus one
    atomic meta commit. Refuses on a non-empty store (bootstrap is not
    an upsert) and on a 0-row frame. The commit records
    ``consumed_through: -1``: Structured Streaming batch ids start at 0
    on a fresh checkpoint, and anything higher would make the replay
    guard DROP the first streamed micro-batch
    (test_bootstrap_then_stream_batch_zero)."""
    meta = read_meta(store_path)
    if meta["base"] or committed_deltas(store_path):
        raise ValueError(
            f"bootstrap requires an empty store, {store_path} is not"
        )
    os.makedirs(store_path, exist_ok=True)
    base = "base-0"
    if not write_base(df, store_path, base, bucket_col):
        raise ValueError(
            "bootstrap_base got a 0-row frame — nothing to bulk-load; "
            "start streaming into the empty store instead"
        )
    write_meta(
        store_path,
        {
            **meta,
            **(extra_meta or {}),
            "base": base,
            "consumed_through": -1,
            "n_buckets": n_buckets,
            "base_n_buckets": n_buckets,
            "base_rows": base_row_count(store_path, base),
        },
    )


# A bulk load starts a store expected to be large, so unlike a streamed
# store (START_N_BUCKETS) its bucket count never goes below this.
BOOTSTRAP_MIN_BUCKETS = 32


def bootstrap(
    spec: "StoreSpec",
    store_path: str,
    rows: DataFrame,
    n_rows: int,
    extra_meta: dict | None = None,
) -> None:
    """Day-0 BULK LOAD: ``rows`` (the store's row shape, without the
    bucket column) as the first compacted base of an empty store, the
    right path for loading an existing corpus before streaming starts.
    The bucket count is the compaction growth rule applied up front to
    the ``n_rows`` the store counts (power of 2, ~ROWS_PER_BUCKET rows
    per bucket, at least BOOTSTRAP_MIN_BUCKETS). Latest-writer rows get
    ``_ubid = -1``, so a key re-ingested by streamed batch 0 wins.
    ``extra_meta`` pins what the store's first ingest would pin."""
    n_buckets = BOOTSTRAP_MIN_BUCKETS
    while n_rows > n_buckets * ROWS_PER_BUCKET:
        n_buckets *= 2
    bootstrap_base(
        _laid_out(spec, rows, -1, n_buckets), store_path, spec.bucket_col,
        n_buckets, extra_meta,
    )


# ---------------------------------------------------------------------------
# The lifecycle kernel: store specs, visible-frame reads, ingest, compact.


@dataclass(frozen=True)
class StoreSpec:
    """What makes one segment store differ from another: its merge key
    and payload columns, its merge rule — one of ``min_owner``,
    ``latest_writer``, ``additive`` (module docstring) — and its bucket
    layout. ``sum_types`` gives an additive store's per-value cast
    after summing; the first value is the one whose ``> 0`` decides
    visibility. ``side_family(spark, store_path, meta, deltas, hi)``,
    if set, writes a second segment family during ``compact`` and
    returns the meta keys to commit with it (module docstring)."""

    name: str
    key: tuple[str, ...]
    values: tuple[str, ...]
    merge: Callable[["StoreSpec", list["Segment"]], DataFrame | None]
    bucket_expr: Callable[[int], Column]
    bucket_col: str = "_bucket"
    sum_types: tuple[str, ...] = ()
    side_family: Callable[..., dict] | None = None

    @property
    def columns(self) -> list[str]:
        return [*self.key, *self.values]


class Segment(NamedTuple):
    """One visible frame: the base at its compaction's
    ``consumed_through`` or a live delta at its dir id (the provenance
    sequence tombstones order by), with its known row count."""

    seq: int
    frame: DataFrame
    rows: int | None
    is_base: bool


def visible_frames(
    spec: StoreSpec,
    spark: SparkSession,
    store_path: str,
    meta: dict | None = None,
    deltas: dict[int, str] | None = None,
    buckets: list[int] | None = None,
) -> list[Segment]:
    """The base plus every live delta, oldest first. ``buckets``
    partition-prunes the base for partial compaction."""
    meta = meta or read_meta(store_path)
    if deltas is None:
        deltas = live_deltas(store_path, meta)
    segs: list[Segment] = []
    if meta["base"]:
        f = read_parquet(
            spark,
            os.path.join(store_path, meta["base"]),
            partitions={spec.bucket_col: "int"},
        )
        if buckets is not None:
            f = f.where(F.col(spec.bucket_col).isin(buckets))
        segs.append(Segment(meta["consumed_through"], f, meta.get("base_rows"), True))
    for bid, path in sorted(deltas.items()):
        m = delta_manifest(path)
        rows = None if m is None else m.get("rows")
        segs.append(Segment(bid, read_parquet(spark, path), rows, False))
    return segs


def _union(frames: list[DataFrame], allow_missing: bool = False) -> DataFrame:
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f, allowMissingColumns=allow_missing)
    return out


def union_rows(spec: StoreSpec, segs: list[Segment]) -> DataFrame:
    """The segments' raw (key, values) rows, unmerged."""
    return _union([s.frame.select(*spec.columns) for s in segs])


def min_owner(spec: StoreSpec, segs: list[Segment]) -> DataFrame | None:
    """min(value) per key: the plain min-merge when no live delta
    carries tombstones (zero deletion overhead on stores nobody deletes
    from), the sequence-aware merge otherwise. None when only
    tombstone deltas exist (the empty store)."""
    raw = [s.frame for s in segs]
    value = spec.values[0]
    if not any(value in f.columns for f in raw):
        return None
    if not tombstones.has_tombstones(raw):
        out = union_rows(spec, segs)
        if len(raw) == 1:
            return out
        return out.groupBy(*spec.key).agg(F.min(value).alias(value))
    keep = [*spec.columns, tombstones.TOMB_COL]
    seqd = [
        tombstones.with_seq(
            s.frame.select(*[c for c in keep if c in s.frame.columns]), s.seq
        )
        for s in segs
    ]
    return tombstones.min_merge_with_tombstones(
        _union(seqd, allow_missing=True), list(spec.key), value
    )


def latest_writer(spec: StoreSpec, segs: list[Segment]) -> DataFrame:
    """The newest frame's row per key, keys whose newest row is a
    tombstone hidden. Frames are unique per key and ordered by batch,
    so the merge is broadcast anti-joins, not a shuffle of the store
    (``tombstones.latest_writer_union``)."""
    merged = tombstones.latest_writer_union(
        [s.frame for s in segs], spec.key[0], [s.rows for s in segs]
    )
    return tombstones.drop_tombstoned_latest(merged).select(*spec.columns)


def additive(
    spec: StoreSpec,
    segs: list[Segment],
    prune: Callable[[DataFrame], DataFrame] | None = None,
) -> DataFrame:
    """Sum per key, keys whose first value nets to <= 0 hidden. A
    compacted base alone is already merged and reads as a plain scan.
    ``prune`` filters the raw rows before the sum (sound: a key's total
    never needs other keys' rows)."""
    rows = union_rows(spec, segs)
    if prune is not None:
        rows = prune(rows)
    if len(segs) == 1 and segs[0].is_base:
        return rows
    sums = [
        F.sum(c).cast(t).alias(c) for c, t in zip(spec.values, spec.sum_types)
    ]
    return rows.groupBy(*spec.key).agg(*sums).where(F.col(spec.values[0]) > 0)


def read_store(spec: StoreSpec, spark: SparkSession, store_path: str) -> DataFrame:
    """The store's visible (key, values) frame. Raises
    FileNotFoundError on an empty store."""
    segs = visible_frames(spec, spark, store_path)
    merged = spec.merge(spec, segs) if segs else None
    if merged is None:
        raise FileNotFoundError(f"empty {spec.name} store at {store_path}")
    return merged


def ingest(
    spec: StoreSpec,
    store_path: str,
    batch_id: int | None,
    compact_every: int,
    build: Callable[[dict, int], DataFrame],
    compact: Callable[[SparkSession, str, int], None],
    n_buckets: int = START_N_BUCKETS,
    est_bytes: int | None = None,
) -> None:
    """Commit one batch as an atomic delta: the replay guard (a
    replayed id returns), the bucket-count pin (``n_buckets`` on a
    fresh store, the pinned count after), ``build(meta, batch_id)`` for
    the delta rows (store-specific pins go in there; ``_laid_out`` adds
    the layout columns), ``commit_delta``, and ``compact(spark,
    store_path, n_buckets)`` once ``compact_every`` deltas are live.
    Without ``batch_id`` the next free id is used. ``est_bytes`` is
    passed to commit_delta."""
    os.makedirs(store_path, exist_ok=True)
    if batch_id is None:
        batch_id = next_batch_id(store_path)
    elif already_ingested(store_path, batch_id):
        return  # replayed batch
    meta = read_meta(store_path)
    on_disk = dict(meta)
    meta["n_buckets"] = n_buckets = meta.get("n_buckets") or n_buckets
    delta = _laid_out(spec, build(meta, batch_id), batch_id, n_buckets)
    if meta != on_disk:
        # the bucket count and the builder's pins in ONE write: a
        # first ingest's pins land together or not at all
        write_meta(store_path, meta)
    commit_delta(
        delta, store_path, batch_id, bucket_col=spec.bucket_col,
        est_bytes=est_bytes,
    )
    if len(live_deltas(store_path)) >= compact_every:
        compact(delta.sparkSession, store_path, n_buckets)


def _laid_out(
    spec: StoreSpec, rows: DataFrame, seq: int, n_buckets: int
) -> DataFrame:
    """``rows`` in the store's segment layout: latest-writer rows carry
    the batch that wrote them (``_ubid`` = ``seq``: the ingested batch,
    the compaction's newest delta, -1 for a bulk load), and every row
    its bucket column."""
    if spec.merge is latest_writer:
        rows = rows.withColumn("_ubid", F.lit(seq).cast("long"))
    return rows.withColumn(spec.bucket_col, spec.bucket_expr(n_buckets))


def _folded(
    spec: StoreSpec, segs: list[Segment], hi: int, n_buckets: int
) -> DataFrame | None:
    merged = spec.merge(spec, segs)
    return None if merged is None else _laid_out(spec, merged, hi, n_buckets)


def compact(
    spec: StoreSpec,
    spark: SparkSession,
    store_path: str,
    n_buckets: int = START_N_BUCKETS,
    rows_per_bucket: int = ROWS_PER_BUCKET,
    crash_before_commit: bool = False,
) -> None:
    """Fold every live delta into a new base generation and commit it
    with one meta replace (module docstring: growth, carry, partial,
    full). Partial carry-over needs the live base written under the
    pinned bucketing (``base_n_buckets``) and no pending growth;
    manifest-less deltas or a first compaction take the full rewrite,
    so correctness never depends on the manifests. An all-empty history
    commits ``base: None`` (``write_base``). ``crash_before_commit``
    (tests) does all the work, side family included, but skips the
    commit, as a crash after the new base is written would."""
    if not os.path.isdir(store_path):
        return
    meta = read_meta(store_path)
    sweep(store_path, meta)  # clear strandings from any earlier crash
    deltas = live_deltas(store_path, meta)
    if not deltas:
        return
    hi = max(deltas)
    n_buckets = pin_n_buckets(store_path, meta, n_buckets)
    grown = grown_n_buckets(meta, deltas, n_buckets, rows_per_bucket)
    new_base = next_base_name(meta)
    bcol = spec.bucket_col
    touched = (
        touched_buckets(deltas, bcol)
        if grown == n_buckets
        and meta["base"]
        and meta.get("base_n_buckets") == n_buckets
        else None
    )
    wrote = True
    path = "full"
    if touched is not None and len(touched) < grown:
        path = "partial" if touched else "carry"
        merged_tmp = os.path.join(store_path, f"_tmp-merge-{new_base}")
        if touched:
            segs = visible_frames(spec, spark, store_path, meta, deltas, touched)
            _folded(spec, segs, hi, grown).repartition(bcol).write.partitionBy(
                bcol
            ).mode("overwrite").parquet(merged_tmp)
        else:  # only empty deltas live: carry the base verbatim
            os.makedirs(merged_tmp, exist_ok=True)
        assemble_partial_base(
            store_path, meta["base"], merged_tmp, new_base, bcol, touched
        )
    else:
        segs = visible_frames(spec, spark, store_path, meta, deltas)
        merged = _folded(spec, segs, hi, grown)
        wrote = merged is not None and write_base(merged, store_path, new_base, bcol)
    side = {}
    if spec.side_family is not None:
        side = spec.side_family(spark, store_path, meta, deltas, hi)
    if crash_before_commit:
        return
    new_meta = {
        **meta,  # preserve pinned properties
        "base": new_base if wrote else None,
        "consumed_through": hi,
        "n_buckets": grown,
        "base_n_buckets": grown,
        "base_rows": base_row_count(store_path, new_base) if wrote else 0,
        **side,
    }
    write_meta(store_path, new_meta)
    sweep(store_path, new_meta)
    log_compaction(store_path, path, n_buckets, grown)


def log_compaction(store_path: str, path: str, before: int, after: int) -> None:
    """One INFO record per committed compaction: carry, partial or full."""
    _log.info("compacted %s: %s, buckets %d -> %d", store_path, path, before, after)


def run_foreach_batch(
    stream_df: DataFrame,
    sink,
    checkpoint_dir: str,
    timeout_sec: int = 120,
) -> None:
    """The foreachBatch driver: availableNow trigger, then await
    completion. On timeout the query is stopped and a TimeoutError
    raised — returning silently would hand the caller a store missing
    the tail micro-batches while an orphaned query keeps mutating it.
    On shutdown the AMBIENT tracked caches are released: sinks run on
    Spark's stream execution thread, so a tracked_cache they issue
    cannot belong to a cached_session scope of the calling thread
    (scopes are thread-local) and would otherwise accumulate."""
    from ..operators.caching import release_caches

    q = (
        stream_df.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    try:
        finished = q.awaitTermination(timeout_sec)
        if not finished:
            q.stop()
            raise TimeoutError(
                f"streaming query did not drain within {timeout_sec}s; "
                "stopped — the store may be missing tail micro-batches"
            )
    finally:
        release_caches()


def streamer(update: Callable[..., None]) -> Callable[..., None]:
    """A store's foreachBatch driver, ``stream(stream_df, store_path,
    checkpoint_dir, timeout_sec=120, **kw)``: every micro-batch goes to
    ``update(batch, store_path, batch_id, **kw)``. store_path and
    checkpoint_dir live and die together (replay guard, above)."""

    def stream(
        stream_df: DataFrame,
        store_path: str,
        checkpoint_dir: str,
        timeout_sec: int = 120,
        **kw,
    ) -> None:
        run_foreach_batch(
            stream_df,
            lambda batch, batch_id: update(batch, store_path, batch_id, **kw),
            checkpoint_dir,
            timeout_sec,
        )

    return stream
