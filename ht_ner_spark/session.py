"""SparkSession factory tuned for the KG-construction pipeline.

Scale rationale (SURVEY.md §4): AQE on (runtime coalescing + skew-join
splitting), Arrow on (every pandas UDF crosses via Arrow batches), shuffle
partitions sized to cores (2-4x cores locally; on a real cluster set
spark.sql.shuffle.partitions ~= 2-3x total executor cores, or rely on AQE
coalescing from a high initial value).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Rows per Arrow batch into every pandas UDF / mapInArrow: bounded so fused
# stage-1 UDF batches fit model memory (SURVEY.md §7.3.5).
ARROW_BATCH_ROWS = 2048


def get_spark(
    app_name: str = "ht-ner-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Create (or fetch) a SparkSession.

    cores=None -> local[*]; otherwise local[cores]. On a real cluster this
    module is bypassed: spark-submit provides the session config and
    ``SparkSession.builder.getOrCreate()`` picks it up unchanged.
    """
    if cores is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        cores = int(env) if env else 0
    master = f"local[{cores}]" if cores and cores > 0 else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = max(8, (cores or os.cpu_count() or 8))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime partition coalescing, skew-join splitting, join-strategy
        # switching — required by the north rule's explicit skew handling.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow: all pandas UDF / mapInPandas traffic is columnar.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch",
                str(ARROW_BATCH_ROWS))
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Parquet scans: vectorized reader + pushdown are defaults; keep
        # session timezone fixed for determinism.
        # zstd beats snappy ~2x on text-heavy tables: stage writes here are
        # bound by a ~40 MB/s virtio disk, so trading (abundant) CPU for
        # (scarce) write bandwidth is a straight win (BASELINE.md).
        .config("spark.sql.parquet.compression.codec", "zstd")
        # Scratch I/O (shuffle blocks, localCheckpoint RDDs) on tmpfs: this
        # sandbox's virtio disk sustains only ~20-50 MB/s with co-tenant
        # noise, while a real cluster node has local NVMe for exactly this
        # traffic. Warehouse/table writes still go to the real filesystem.
        # SPARK_LOCAL_DIRS always wins when set: point it at a disk dir to
        # keep large shuffles off RAM-backed tmpfs.
        .config("spark.local.dir",
                os.environ.get("SPARK_LOCAL_DIRS")
                or ("/dev/shm/spark-local" if os.path.isdir("/dev/shm")
                    else "/tmp"))
        .config("spark.io.compression.codec", "zstd")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
