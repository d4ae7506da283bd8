"""Incremental KG maintenance via Structured Streaming.

The reference is pure batch (SURVEY §1.4) and the north rule demands batch
resumability (checkpoint table + keyed skip, storage/checkpoint.py) — this
module adds the Spark-idiomatic INCREMENTAL path on top: new corpus files
landing in a directory are labeled exactly once, with Structured Streaming's
own offset log tracking which source files were already processed.

Design:

* `readStream` over the corpus directory (explicit CORPUS schema — streaming
  sources cannot infer), sha256 attached at scan (the per-row invariant).
* `foreachBatch`: each micro-batch is folded into (repo, mentions_name,
  lowered surface) facts by one pyarrow kernel, ``_fold_facts``, around the
  SAME fused stage-1 labeler as the batch pipeline (operators/fused_vec.py
  — one labeler, two drivers). The facts are written to the
  ``triple_deltas`` table (schemas.STREAM_FACTS) with a checkpoint row per
  batch (stage "s4-stream"). Which side of one labeler chunk
  (``fused_vec.COALESCE_ROWS`` rows) the batch falls on picks where the
  kernel runs:
  - at or below it, the driver collects the batch in one JVM-only job that
    also sizes it, folds it, and writes one file: two jobs in all and no
    Python worker hop, which dominates a small batch's cost;
  - above it, ``mapInArrow`` runs the kernel on each chunk and one groupBy
    sums the partial facts. That is exact because row_id is unique per
    corpus row, so the per-chunk distinct-row counts add up.
* ``merged_triples`` folds the deltas when it is called (merge-on-read),
  on the same budget: a ``triple_deltas`` table of at most
  ``fused_vec.COALESCE_ROWS`` rows is read on the driver
  (``catalog.read_arrow``, no Spark job) and grouped with pyarrow, a
  larger one by a Spark groupBy. Nothing rewrites the delta partitions
  afterwards: the file count grows with the number of batches, and every
  read folds them all.
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

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from ..operators import fused_vec
from ..operators.gazetteer import build_trie
from ..schemas import CORPUS, STREAM_FACTS
from ..storage import catalog as cat
from ..storage import checkpoint as ck

# the kernel's output: STREAM_FACTS before a batch id is attached
_FOLDED = StructType(STREAM_FACTS.fields[:-1])
# the merged view: _FOLDED with nullable keys, since Spark reads every
# column of a file source as nullable; both merge sides declare it
_MERGED = StructType([StructField(f.name, f.dataType, True)
                      for f in _FOLDED.fields])


def read_corpus_stream(spark: SparkSession, corpus_dir: str) -> DataFrame:
    """Streaming scan of the Iceberg-shaped corpus directory (parquet files),
    sha256 attached at scan time (input_hint invariant)."""
    base = [f for f in CORPUS.fields if f.name != "content_sha256"]
    stream = (
        spark.readStream.schema(StructType(base))
        .option("maxFilesPerTrigger", 16)
        .parquet(corpus_dir)
    )
    return stream.withColumn("content_sha256", F.sha2(F.col("content"), 256))


def _fold_facts(rows: pa.Table, trie: dict) -> pa.Table:
    """(row_id, repo, content) rows -> _FOLDED facts: per (repo, lowered
    PERSON_NAME mention surface), the number of distinct rows with such a
    mention and their max confidence. Labels with
    ``fused_vec.run_arrow_batches`` and no frequency ranks (those emit only
    NOT_NAME votes, never mentions).

    Surfaces are lowered with Python's ``str.lower``, once per unique
    surface: it is Spark's ``lower`` on final sigma (ΟΔΟΣ -> οδος) and on
    dotted capital I (İ -> i̇), where pyarrow's ``utf8_lower`` is not."""
    labeled = pa.Table.from_batches(
        fused_vec.run_arrow_batches(
            rows.select(["row_id", "content"]).to_batches(), trie, {}, []),
        schema=fused_vec._ARROW_SCHEMA)
    m = labeled.filter((pc.field("kind") == "m")
                       & (pc.field("label") == "PERSON_NAME"))
    surf = m["surface"].combine_chunks().dictionary_encode()
    low = pa.array([s.lower() for s in surf.dictionary.to_pylist()],
                   pa.string())
    at = pc.index_in(m["row_id"], value_set=rows["row_id"].combine_chunks())
    facts = pa.table({
        "subj": rows["repo"].take(at),
        "obj": low.take(surf.indices),
        "row_id": m["row_id"],
        "conf": m["confidence"],
    }).group_by(["subj", "obj"]).aggregate(
        [("row_id", "count_distinct"), ("conf", "max")])
    return pa.table({
        "subj": facts["subj"],
        "pred": pa.repeat("mentions_name", facts.num_rows),
        "obj": facts["obj"],
        "n_witnesses": facts["row_id_count_distinct"],
        "conf": facts["conf_max"],
    })


def stream_triples(spark: SparkSession, corpus_dir: str, warehouse: str,
                   gazetteer: dict[str, float],
                   run_id: str = "stream") -> None:
    """Streaming KG maintenance, merge-on-read: each micro-batch's
    mention-level facts land as an APPEND-ONLY delta partition
    ``batch_id=N`` (dynamic partition overwrite, so a crash-and-retry of
    batch N replaces its own partition — idempotent, exactly-once per
    source file); ``merged_triples`` folds the deltas at read time.  The
    delta facts use only associative-commutative merges (sum of
    witnesses, max of conf), so merge-on-read over any batch
    decomposition equals the full batch recompute — the invariant the
    tests pin.

    A batch of at most ``fused_vec.COALESCE_ROWS`` rows is collected and
    folded on the driver by ``_fold_facts`` and written as one file; a
    larger one runs the same kernel per chunk in ``mapInArrow`` and sums
    the chunks' facts in one groupBy. Both write STREAM_FACTS. The
    gazetteer trie is built once per call and serves both sides.

    Entity linking / canonicalization (stages 2-3) stay batch: they are
    corpus-global (components over ALL mentions), so the streaming path
    emits surface-level facts and a periodic batch pass re-canonicalizes —
    the standard streaming-extract / batch-consolidate split, documented
    rather than silently approximated."""
    from ..pipeline import _observed_count

    os.makedirs(warehouse, exist_ok=True)
    stream = read_corpus_stream(spark, corpus_dir)
    trie = build_trie(gazetteer)
    trie_b = spark.sparkContext.broadcast(trie)
    # one labeler chunk; read here so the workers get it by closure
    budget = fused_vec.COALESCE_ROWS

    def process(batch_df: DataFrame, batch_id: int) -> None:
        rows = batch_df.select("row_id", "repo", "content")
        # one task reads at most budget + 1 rows; over several scan
        # partitions a bare limit adds a single-partition shuffle
        head = rows.coalesce(1).limit(budget + 1).toArrow()
        if head.num_rows <= budget:
            folded = _fold_facts(head, trie)
            folded = folded.append_column("batch_id", pa.repeat(
                pa.scalar(int(batch_id), pa.int32()), folded.num_rows))
            # one file per partition: a local table is otherwise sliced
            # into defaultParallelism partitions
            facts = batch_df.sparkSession.createDataFrame(
                folded, schema=STREAM_FACTS).coalesce(1)
            n_out, obs = folded.num_rows, None
        else:
            def fold_chunks(batches):
                buf, n = [], 0
                for rb in batches:
                    buf.append(rb)
                    n += rb.num_rows
                    if n >= budget:
                        yield from _fold_facts(pa.Table.from_batches(buf),
                                               trie_b.value).to_batches()
                        buf, n = [], 0
                if buf:
                    yield from _fold_facts(pa.Table.from_batches(buf),
                                           trie_b.value).to_batches()

            facts = (
                rows.mapInArrow(fold_chunks, _FOLDED)
                .groupBy("subj", "pred", "obj")
                .agg(F.sum("n_witnesses").alias("n_witnesses"),
                     F.max("conf").alias("conf"))
                .withColumn("batch_id", F.lit(int(batch_id)))
                .to(STREAM_FACTS)
            )
            # the write itself yields the row count (a separate count()
            # would re-run the batch's plan)
            facts, obs = _observed_count(facts, "s4-stream")
        cat.write_table(facts, warehouse, "triple_deltas",
                        partition_by=["batch_id"], dynamic_overwrite=True)
        if obs is not None:
            n_out = obs.get["n"]
        ck.record_stage(
            spark, warehouse, run_id, "s4-stream",
            rows_out=int(n_out),
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
    (subj, pred, obj) with summed witnesses and max confidence over every
    ``batch_id`` delta partition, as ``_MERGED``.

    A delta table of at most ``fused_vec.COALESCE_ROWS`` rows (the
    stream's one driver budget) is read and folded with pyarrow when this
    is called, and the view is a local relation: collecting it runs no
    Spark job, and later writes to the table do not change it. A larger
    table is folded lazily by a Spark groupBy over ``read_table``."""
    t = cat.read_arrow(spark, warehouse, "triple_deltas",
                       fused_vec.COALESCE_ROWS)
    if t is not None:
        m = t.group_by(["subj", "pred", "obj"]).aggregate(
            [("n_witnesses", "sum"), ("conf", "max")])
        return spark.createDataFrame(pa.table({
            "subj": m["subj"], "pred": m["pred"], "obj": m["obj"],
            "n_witnesses": m["n_witnesses_sum"], "conf": m["conf_max"],
        }), schema=_MERGED)
    d = cat.read_table(spark, warehouse, "triple_deltas")
    return d.groupBy("subj", "pred", "obj").agg(
        F.sum("n_witnesses").alias("n_witnesses"),
        F.max("conf").alias("conf")).to(_MERGED)
