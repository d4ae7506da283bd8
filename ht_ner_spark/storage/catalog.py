"""Table catalog shim (SURVEY.md §7.0).

The production target is Iceberg (``spark.read.table`` against a configured
``spark.sql.catalog.*``); this sandbox has no Iceberg runtime jar, so the shim
falls back to partitioned parquet in an identical layout plus a ``_meta``
schema JSON. Iceberg is configuration, not code: every caller goes through
``write_table``/``read_table`` and never names a format.

At 100 TB the parquet path keeps the properties we rely on: partition pruning
on the partition columns, predicate pushdown, column pruning, and idempotent
overwrite-by-table (stage resume re-writes a whole stage dir atomically via
overwrite mode, mirroring Iceberg's snapshot replace).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession


def _iceberg_enabled(spark: SparkSession) -> str | None:
    """Return the configured Iceberg catalog name, if any."""
    for k, v in spark.sparkContext.getConf().getAll():
        if k.startswith("spark.sql.catalog.") and "iceberg" in str(v).lower():
            return k.split(".")[3]
    return None


def write_table(
    df: DataFrame,
    warehouse: str,
    name: str,
    partition_by: list[str] | None = None,
    dynamic_overwrite: bool = False,
) -> None:
    """Overwrite the table with ``df``. dynamic_overwrite=True replaces ONLY
    the partitions present in ``df`` (per-write option — deliberately not
    the session-wide conf, which would leak stale partitions into
    full-stage rewrites). Used for idempotent micro-batch writes keyed by
    batch_id (streaming/incremental.py); the Iceberg equivalent is
    overwritePartitions()."""
    cat = _iceberg_enabled(df.sparkSession)
    if cat:
        writer = df.writeTo(f"{cat}.{name}")
        if partition_by:
            from pyspark.sql import functions as F
            writer = writer.partitionedBy(*[F.col(c) for c in partition_by])
        if dynamic_overwrite:
            # first micro-batch of a stream: the table does not exist yet and
            # overwritePartitions() would fail with table-not-found — create
            # it, then later batches overwrite only their own partitions
            # (stream_triples' first batch creates triple_deltas this way)
            if not df.sparkSession.catalog.tableExists(f"{cat}.{name}"):
                writer.createOrReplace()
            else:
                writer.overwritePartitions()
        else:
            writer.createOrReplace()
        return
    path = os.path.join(warehouse, name)
    w = df.write.mode("overwrite")
    if dynamic_overwrite:
        w = w.option("partitionOverwriteMode", "dynamic")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)
    meta = {
        "name": name,
        "schema": df.schema.jsonValue(),
        "partition_by": partition_by or [],
    }
    os.makedirs(os.path.join(warehouse, "_meta"), exist_ok=True)
    with open(os.path.join(warehouse, "_meta", f"{name}.json"), "w") as f:
        json.dump(meta, f)


def _recover_compact(warehouse: str, name: str) -> None:
    """Crash recovery for compact_table's two-rename swap: if a previous
    compaction died between rename(path, old) and rename(tmp, path), the
    table data survives under ``name__compact_old`` — restore it. Called on
    every path-warehouse table access; the common case is two negative
    isdir checks.

    Readers deliberately touch NOTHING else: a ``__compact_tmp`` dir may be
    an in-flight compaction mid-write (deleting it from a reader would
    truncate the new table under the compactor — the r4 review race), so
    stale tmp dirs are cleaned only by the next compact_table call, and a
    ``__compact_old`` beside a live path is left for the compactor's own
    cleanup. The restore itself is try/except: two concurrent recoverers
    (or a recoverer racing the compactor's second rename) make one rename
    fail harmlessly."""
    path = os.path.join(warehouse, name)
    old = f"{path}__compact_old"
    if not os.path.isdir(path) and os.path.isdir(old):
        # mid-swap crash: the old table is complete (it was live before the
        # swap); the tmp may or may not be — restoring old is always safe,
        # and a redone compaction is idempotent.
        try:
            os.rename(old, path)
        except OSError:
            pass  # lost the race to another recoverer or the compactor


def read_table(spark: SparkSession, warehouse: str, name: str) -> DataFrame:
    cat = _iceberg_enabled(spark)
    if cat:
        return spark.read.table(f"{cat}.{name}")
    _recover_compact(warehouse, name)
    path = os.path.join(warehouse, name)
    meta_path = os.path.join(warehouse, "_meta", f"{name}.json")
    if os.path.isfile(meta_path):
        # the declared schema (SURVEY §1.3) makes empty tables readable —
        # a 0-row stage output is a valid checkpointed state, and parquet
        # cannot infer a schema from a fileless directory.
        from pyspark.sql.types import StructType

        with open(meta_path) as f:
            schema = StructType.fromJson(json.load(f)["schema"])
        return spark.read.schema(schema).parquet(path)
    return spark.read.parquet(path)


def table_exists(spark: SparkSession, warehouse: str, name: str) -> bool:
    cat = _iceberg_enabled(spark)
    if cat:
        return spark.catalog.tableExists(f"{cat}.{name}")
    _recover_compact(warehouse, name)
    path = os.path.join(warehouse, name)
    if not os.path.isdir(path):
        return False
    # a dir without _SUCCESS is a torn write -> treat as absent (resume redoes it)
    return "_SUCCESS" in os.listdir(path) or bool(
        [f for f in os.listdir(path) if f.endswith(".parquet") or f.startswith("pred=")]
    )


def compact_table(spark: SparkSession, warehouse: str, name: str,
                  target_file_bytes: int = 128 * 1024 * 1024) -> dict:
    """Small-file compaction for a warehouse stage table — the maintenance
    job every incremental/streaming writer needs (each micro-batch appends
    its own files; a year of batches = millions of KB-files whose open/seek
    overhead dominates scans). Rewrites the table at ~``target_file_bytes``
    per file, preserving the stored partition_by columns, and returns
    {files_before, files_after, bytes}. On Iceberg this is
    rewrite_data_files; here it is a read → repartition(ceil(bytes/target))
    → two-rename swap (write to a temp name, move old out, move new in).
    The swap is NOT atomic: between the two renames the table path briefly
    does not exist (a posix reader that already opened the old files keeps
    them; a reader that lists the path in that window sees it missing), and
    a crash mid-swap strands the data under ``name__compact_old``. Both are
    handled: ``_recover_compact`` runs on every table access and restores a
    missing path from ``__compact_old`` (restore only — readers never
    delete swap dirs, so an in-flight tmp can't be truncated from under a
    running compactor), the compactor cleans stale swap garbage at start,
    and its second rename retries through a concurrent reader-restore. The
    table is never permanently lost (ADVICE r3). Concurrent compactions of
    the SAME table are unsupported (single-maintainer contract). On
    Iceberg the swap is a metadata commit and truly atomic.

    The repartition count is computed from the table's ACTUAL on-disk bytes
    (parquet is already compressed — sizing from row counts over-shards
    small-row tables and under-shards wide ones)."""
    import math
    import shutil

    _recover_compact(warehouse, name)
    path = os.path.join(warehouse, name)
    # clean swap garbage from any PREVIOUS compaction (crashed or completed
    # under a racing reader). Only the compactor deletes these — readers
    # never do (see _recover_compact) — and concurrent compactions of the
    # same table are not supported (standard single-maintainer contract).
    for stale in (f"{path}__compact_tmp", f"{path}__compact_old"):
        if os.path.isdir(stale):
            shutil.rmtree(stale, ignore_errors=True)
    stale_meta = os.path.join(warehouse, "_meta", f"{name}__compact_tmp.json")
    if os.path.exists(stale_meta):
        os.remove(stale_meta)
    files = [
        os.path.join(dp, f)
        for dp, _, fs in os.walk(path) for f in fs if f.endswith(".parquet")
    ]
    total = sum(os.path.getsize(f) for f in files)
    n_out = max(1, math.ceil(total / target_file_bytes))
    df = read_table(spark, warehouse, name)
    meta_path = os.path.join(warehouse, "_meta", f"{name}.json")
    partition_by = []
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            partition_by = json.load(f).get("partition_by") or []
    tmp = f"{name}__compact_tmp"
    write_table(df.repartition(n_out, *partition_by) if partition_by
                else df.repartition(n_out),
                warehouse, tmp, partition_by=partition_by or None)
    # atomic-ish swap: move old out, new in, then drop old (readers holding
    # the old path keep their already-opened files on posix)
    old = os.path.join(warehouse, f"{name}__compact_old")
    os.rename(path, old)
    for _ in range(5):
        try:
            os.rename(os.path.join(warehouse, tmp), path)
            break
        except OSError:
            # a reader's _recover_compact restored old -> path inside the
            # swap window; the restored dir is the OBSOLETE data and tmp is
            # the complete compacted copy — clear it and retry
            if os.path.isdir(path):
                shutil.rmtree(path, ignore_errors=True)
            else:
                raise
    shutil.rmtree(old, ignore_errors=True)
    # keep the stored schema/meta under the real name
    tmp_meta = os.path.join(warehouse, "_meta", f"{tmp}.json")
    if os.path.exists(tmp_meta):
        with open(tmp_meta) as f:
            m = json.load(f)
        m["name"] = name
        with open(meta_path, "w") as f:
            json.dump(m, f)
        os.remove(tmp_meta)
    after = [
        os.path.join(dp, f)
        for dp, _, fs in os.walk(path) for f in fs if f.endswith(".parquet")
    ]
    return {"files_before": len(files), "files_after": len(after),
            "bytes": total}
