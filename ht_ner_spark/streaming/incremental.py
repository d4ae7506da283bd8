"""Incremental KG maintenance via Structured Streaming.

The reference is pure batch (SURVEY §1.4) and the north rule demands batch
resumability (checkpoint table + keyed skip, storage/checkpoint.py) — this
module adds the Spark-idiomatic INCREMENTAL path on top: new corpus files
landing in a directory are labeled exactly once, with Structured Streaming's
own offset log tracking which source files were already processed.

Design:

* `readStream` over the corpus directory (explicit CORPUS schema — streaming
  sources cannot infer), sha256 attached at scan (the per-row invariant).
* `foreachBatch`: each micro-batch runs the SAME fused stage-1 labeler as
  the batch pipeline (operators/fused.py — one code path, two drivers),
  folds its PERSON_NAME mentions into (repo, mentions_name, surface) facts
  and writes them to the ``triple_deltas`` table, recording a checkpoint
  row per batch (stage "s4-stream"). ``merged_triples`` folds the deltas
  at read time. Nothing rewrites the delta partitions afterwards: the file
  count grows with the number of batches, and every read folds them all.
* **Exactly-once data, at-least-once metrics**: foreachBatch alone is
  at-least-once (a crash between the data write and the offset commit
  re-runs the batch). The data writes are made idempotent by keying every
  row with its ``batch_id`` and writing via dynamic partition overwrite —
  a re-run of batch N replaces partition ``batch_id=N`` instead of
  appending a duplicate copy. Checkpoint METRIC rows remain at-least-once
  (duplicates carry the same batch_id counter and are distinguishable).
* `Trigger.AvailableNow`: drains everything new, then stops — the
  batch-incremental operating mode (cron-style re-runs process only new
  files; a long-running `trigger(processingTime=...)` works unchanged).

Corpus-global frequency antirules are inherently batch (a stream has no
final vocabulary), and the stream runs none: they emit only NOT_NAME
votes, never mentions, and the streamed facts are built from mentions
alone, so no frequency ranking could change them.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import CORPUS
from ..storage import catalog as cat
from ..storage import checkpoint as ck


def read_corpus_stream(spark: SparkSession, corpus_dir: str) -> DataFrame:
    """Streaming scan of the Iceberg-shaped corpus directory (parquet files),
    sha256 attached at scan time (input_hint invariant)."""
    base = [f for f in CORPUS.fields if f.name != "content_sha256"]
    from pyspark.sql.types import StructType

    stream = (
        spark.readStream.schema(StructType(base))
        .option("maxFilesPerTrigger", 16)
        .parquet(corpus_dir)
    )
    return stream.withColumn("content_sha256", F.sha2(F.col("content"), 256))


def stream_triples(spark: SparkSession, corpus_dir: str, warehouse: str,
                   gazetteer: dict[str, float],
                   run_id: str = "stream") -> None:
    """Streaming KG maintenance, merge-on-read: each micro-batch runs fused
    stage 1 and lands its mention-level facts as an APPEND-ONLY delta
    partition ``batch_id=N`` (dynamic partition overwrite, so a
    crash-and-retry of batch N replaces its own partition — idempotent,
    exactly-once per source file); ``merged_triples`` folds the deltas at
    read time.  The delta facts use only associative-commutative merges
    (sum of witnesses, max of conf), so merge-on-read over any batch
    decomposition equals the full batch recompute — the invariant the
    tests pin.

    Entity linking / canonicalization (stages 2-3) stay batch: they are
    corpus-global (components over ALL mentions), so the streaming path
    emits surface-level facts and a periodic batch pass re-canonicalizes —
    the standard streaming-extract / batch-consolidate split, documented
    rather than silently approximated."""
    from ..operators.fused import fused_stage1, split_mentions
    from ..pipeline import _observed_count

    os.makedirs(warehouse, exist_ok=True)
    stream = read_corpus_stream(spark, corpus_dir)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        facts = (
            split_mentions(fused_stage1(batch_df, gazetteer))
            .where(F.col("label") == "PERSON_NAME")
            .join(batch_df.select("row_id", "repo"), "row_id")
            .groupBy(F.col("repo").alias("subj"),
                     F.lit("mentions_name").alias("pred"),
                     F.lower(F.col("surface")).alias("obj"))
            .agg(F.countDistinct("row_id").alias("n_witnesses"),
                 F.max("confidence").alias("conf"))
            .withColumn("batch_id", F.lit(int(batch_id)))
        )
        # the write itself yields the row count (one job per batch: a
        # separate count() would re-run the fused-stage-1 DAG)
        facts, obs = _observed_count(facts, "s4-stream")
        cat.write_table(facts, warehouse, "triple_deltas",
                        partition_by=["batch_id"], dynamic_overwrite=True)
        ck.record_stage(
            spark, warehouse, run_id, "s4-stream",
            rows_out=int(obs.get["n"]),
            counters={"batch_id": int(batch_id), **ck.LINEAGE_SOURCE_BATCH},
        )

    q = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation",
                os.path.join(warehouse, "_stream_triples_checkpoint"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def merged_triples(spark: SparkSession, warehouse: str) -> DataFrame:
    """Merge-on-read view of the streamed triple deltas: one row per
    (subj, pred, obj) with summed witnesses and max confidence, read
    over every ``batch_id`` delta partition."""
    d = cat.read_table(spark, warehouse, "triple_deltas")
    return d.groupBy("subj", "pred", "obj").agg(
        F.sum("n_witnesses").alias("n_witnesses"),
        F.max("conf").alias("conf"))
