"""Table catalog shim (SURVEY.md §7.0).

The production target is Iceberg (``spark.read.table`` against a configured
``spark.sql.catalog.*``); this sandbox has no Iceberg runtime jar, so the shim
falls back to partitioned parquet in an identical layout plus a ``_meta``
schema JSON. Iceberg is configuration, not code: the catalog is exactly
``write_table``, ``read_table`` and ``read_arrow``, and no caller names a
format or reaches into the warehouse layout. ``read_arrow`` hands a small
table to the driver as a pyarrow Table without a Spark job (on the parquet
shim it reads the files and their footers directly), or returns ``None``
over a row budget so the caller can fall back to ``read_table``.

At 100 TB the parquet path keeps the properties we rely on: partition pruning
on the partition columns, predicate pushdown, column pruning, and idempotent
overwrite-by-table (stage resume re-writes a whole stage dir atomically via
overwrite mode, mirroring Iceberg's snapshot replace).
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterable

import pyarrow as pa
import pyarrow.dataset as ds
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType


def _iceberg_catalog(entries: Iterable[tuple[str, str]]) -> str | None:
    """The name of the first catalog whose value names Iceberg, over the
    ``(key, value)`` entries of the static SparkConf under
    ``spark.sql.catalog.`` (keys without that prefix: ``name`` or
    ``name.option``)."""
    for k, v in entries:
        if "iceberg" in str(v).lower():
            return k.split(".")[0]
    return None


def _iceberg_enabled(spark: SparkSession) -> str | None:
    """Return the configured Iceberg catalog name, if any. Runs on every
    catalog call, so it reads only the catalog entries of the static conf
    (``getConf().getAll()`` clones the whole conf through py4j)."""
    entries = spark.sparkContext._jsc.sc().conf().getAllWithPrefix(
        "spark.sql.catalog.")
    return _iceberg_catalog((e._1(), e._2()) for e in entries)


def _declared(warehouse: str, name: str) -> dict | None:
    """The ``_meta`` record ``write_table`` stored for a parquet-shim
    table (schema and partition columns), or None."""
    meta_path = os.path.join(warehouse, "_meta", f"{name}.json")
    if not os.path.isfile(meta_path):
        return None
    with open(meta_path) as f:
        return json.load(f)


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
    meta = _declared(warehouse, name)
    if meta is not None:
        # the declared schema (SURVEY §1.3) makes empty tables readable —
        # a 0-row stage output is a valid checkpointed state, and parquet
        # cannot infer a schema from a fileless directory.
        schema = StructType.fromJson(meta["schema"])
        return spark.read.schema(schema).parquet(path)
    return spark.read.parquet(path)


def read_arrow(spark: SparkSession, warehouse: str, name: str,
               max_rows: int) -> pa.Table | None:
    """The whole table as a pyarrow Table on the driver, or None when it
    holds more than ``max_rows`` rows (read it with ``read_table``).

    On the parquet shim no Spark job runs: a ``pyarrow.dataset`` over the
    table's files, hive partitions and declared ``_meta`` schema, sized
    from the parquet footers before any row is read. Files and directories
    whose names start with ``.`` or ``_`` (``.spark-staging-*``,
    ``_SUCCESS``, checksums) are not part of the table. A table without a
    declared schema also returns None. Under Iceberg it is one bounded
    collect of ``read_table``."""
    cat = _iceberg_enabled(spark)
    if cat:
        t = read_table(spark, warehouse, name).limit(max_rows + 1).toArrow()
        return t if t.num_rows <= max_rows else None
    meta = _declared(warehouse, name)
    if meta is None:
        return None
    schema = to_arrow_schema(StructType.fromJson(meta["schema"]))
    parts = meta["partition_by"]
    d = ds.dataset(
        os.path.join(warehouse, name), schema=schema, format="parquet",
        partitioning=ds.partitioning(
            pa.schema([schema.field(c) for c in parts]), flavor="hive")
        if parts else None)
    if d.count_rows() > max_rows:
        return None
    return d.to_table()
