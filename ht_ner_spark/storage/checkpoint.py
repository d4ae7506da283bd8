"""Checkpoint / metrics table + keyed resume (SURVEY.md §2.1 S7, §2.10).

The reference resumes by *positional* pickle-list length
(/root/reference/src/openai_infer.py:169-186) — nondeterministic under any
reordering. Our resume is keyed and idempotent:

* every completed stage appends per-partition checkpoint rows
  ``(run_id, stage, partition_id, rows_in, rows_out, counters, sha_ok, ts)``;
* a restarted run anti-joins / short-circuits on completed stages and reuses
  the stage's table (stage writes are atomic overwrite-by-dir);
* per-partition metrics come from ``df.observe``/counters gathered during the
  stage pass — no extra corpus scan.
"""

from __future__ import annotations

import datetime as _dt
import os

from pyspark.sql import DataFrame, SparkSession

from ..schemas import CHECKPOINT

CHECKPOINT_TABLE = "_checkpoint"


def _ckpt_dir(warehouse: str) -> str:
    return os.path.join(warehouse, CHECKPOINT_TABLE)


def _read_rows(warehouse: str, columns: list[str]) -> list[dict]:
    """Checkpoint rows in one driver-side scan (pyarrow, no Spark job): the
    table is a handful of metadata rows, and scheduling a cluster job to
    read it is pure serial overhead on every resume check."""
    import pyarrow.dataset as ds

    path = _ckpt_dir(warehouse)
    if not os.path.isdir(path):
        return []
    return ds.dataset(path, format="parquet").to_table(
        columns=columns).to_pylist()


def completed_stages(warehouse: str, run_id: str) -> set[str]:
    """All completed stages for a run."""
    return {r["stage"] for r in _read_rows(warehouse, ["run_id", "stage"])
            if r["run_id"] == run_id}


def stage_counters(warehouse: str, run_id: str, stage: str) -> dict[str, int]:
    """The counters recorded with a completed stage of a run ({} when the
    stage is not recorded; every row of one record carries the same
    counters)."""
    for r in _read_rows(warehouse, ["run_id", "stage", "counters"]):
        if r["run_id"] == run_id and r["stage"] == stage:
            return dict(r["counters"] or [])
    return {}


def record_stage(
    spark: SparkSession,
    warehouse: str,
    run_id: str,
    stage: str,
    rows_in: int = 0,
    rows_out: int = 0,
    counters: dict[str, int] | None = None,
    sha_ok: bool = True,
    partition_rows: list[tuple[int, int]] | None = None,
) -> None:
    """Append checkpoint rows. ``partition_rows`` [(partition_id, rows_out)]
    (from partition_stats_files) gives per-partition lineage; when it is
    absent or empty, a single stage-level row (partition -1, ``rows_out``)
    is written."""
    ts = _dt.datetime.now(_dt.timezone.utc).isoformat()
    rows = [
        (run_id, stage, int(pid), int(rows_in), int(n), counters or {},
         bool(sha_ok), ts)
        for pid, n in partition_rows or [(-1, rows_out)]
    ]
    _append_rows_arrow(warehouse, rows)


def _append_rows_arrow(warehouse: str, rows: list[tuple]) -> None:
    """Append checkpoint rows via pyarrow directly — the metadata write is a
    handful of rows, so spinning a Spark job (createDataFrame + write) per
    stage added ~1s of SERIAL driver time x 6 stages to every pipeline run
    (visible in the 2-core vs 8-core scaling baseline). The file layout stays
    spark-readable parquet in the same directory."""
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    path = _ckpt_dir(warehouse)
    os.makedirs(path, exist_ok=True)
    cols = list(zip(*rows))
    table = pa.table(
        {
            "run_id": pa.array(cols[0], pa.string()),
            "stage": pa.array(cols[1], pa.string()),
            "partition_id": pa.array(cols[2], pa.int32()),
            "rows_in": pa.array(cols[3], pa.int64()),
            "rows_out": pa.array(cols[4], pa.int64()),
            "counters": pa.array(
                [list(c.items()) for c in cols[5]],
                pa.map_(pa.string(), pa.int64()),
            ),
            "sha_ok": pa.array(cols[6], pa.bool_()),
            "ts_str": pa.array(cols[7], pa.string()),
        }
    )
    pq.write_table(table, os.path.join(path, f"part-{uuid.uuid4().hex}.parquet"))


def partition_stats_files(path: str) -> list[tuple[int, int]]:
    """(partition_id, rows_out) per OUTPUT FILE of a written stage table,
    from parquet footers only (pyarrow, driver-side, zero Spark jobs).

    Per-partition lineage of a stage WRITE is a property of the files the
    write produced, and parquet already stores exact per-file row counts,
    so no Spark job re-scans the table to count it.

    partition_id here is the FILE index under path-sorted order — stable
    across re-reads (pyarrow fragment enumeration order is not guaranteed)
    and recoverable from the file list. It is a different id space from
    streaming batch ids; callers mark the source via the LINEAGE_SOURCE_*
    counter so one checkpoint column never mixes unlabeled id semantics
    (ADVICE r2)."""
    import pyarrow.dataset as ds

    if not os.path.isdir(path):
        # a 0-row partitioned write creates no partition subdirs (e.g. the
        # fused table's kind=m under an empty corpus): empty lineage, not
        # FileNotFoundError
        return []
    d = ds.dataset(path, format="parquet", partitioning="hive")
    frags = sorted(d.get_fragments(), key=lambda f: f.path)
    return [(i, frag.count_rows()) for i, frag in enumerate(frags)]


# values for the 'lineage_source' counter recorded with per-partition rows:
# which id space the partition_id column of those checkpoint rows lives in.
LINEAGE_SOURCE_FILES = {"lineage_source_files": 1}      # file index (sorted)
LINEAGE_SOURCE_BATCH = {"lineage_source_batch": 1}      # streaming batch_id


def read_checkpoints(spark: SparkSession, warehouse: str) -> DataFrame:
    return spark.read.parquet(_ckpt_dir(warehouse))
