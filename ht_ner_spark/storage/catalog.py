"""Table catalog shim (SURVEY.md §7.0).

The production target is Iceberg (``spark.read.table`` against a configured
``spark.sql.catalog.*``); this sandbox has no Iceberg runtime jar, so the shim
falls back to partitioned parquet in an identical layout plus a ``_meta``
schema JSON. Iceberg is configuration, not code: the catalog is exactly
``write_table`` and ``read_table``, and no caller names a format.

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


def read_table(spark: SparkSession, warehouse: str, name: str) -> DataFrame:
    cat = _iceberg_enabled(spark)
    if cat:
        return spark.read.table(f"{cat}.{name}")
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
