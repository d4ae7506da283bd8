"""Streaming KG maintenance (streaming/incremental.py): each corpus file is
labeled exactly once across restarts, a retried micro-batch replaces its own
delta partition, and merge-on-read equals the batch recompute."""

from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from ht_ner_spark.corpus import DEFAULT_GAZETTEER, synthetic_corpus
from ht_ner_spark.operators import fused_vec
from ht_ner_spark.operators.fused import fused_stage1, split_mentions
from ht_ner_spark.schemas import CORPUS, STREAM_FACTS
from ht_ner_spark.storage import catalog as cat
from ht_ner_spark.storage.checkpoint import read_checkpoints
from ht_ner_spark.streaming.incremental import (_MERGED, merged_triples,
                                                stream_triples)


# Cased rows the caps and rule LFs fire on, where lowering is not ASCII:
# Greek final sigma (ΟΔΟΣ -> οδος) and Turkish dotted I (İ -> i̇), plus
# empty and null content. Row k lands with the synthetic rows around index
# 6 * k, so both drains of the merge test get some; ΟΔΟΣ is in both, from
# one repo, so its witnesses add across batches.
CASED = [
    "x = 1  # review by ΟΔΟΣ today and more",
    "call me İlker when the build is done",
    "",
    "my name is ΣΩΚΡΑΤΗΣ and the code is fine",
    None,
    "aka İSTANBUL office alias Ιάσονας is done",
    "again ΟΔΟΣ wrote the ΣΟΦΟΣ parser ok",
    "named Ωμέγας and ΣΣΣ in the tests",
]


def _corpus(spark, lo, hi, seed=42):
    """Synthetic rows [lo, hi) plus the CASED rows placed in that range."""
    base = StructType([f for f in CORPUS.fields if f.name != "content_sha256"])
    cased = spark.createDataFrame(
        [(1000 + k, f"cased/{k % 2}", f"doc{k}.txt", "c0", "md", text)
         for k, text in enumerate(CASED) if lo <= 6 * k < hi], base)
    return synthetic_corpus(spark, hi, seed=seed).where(
        (F.col("row_id") >= lo) & (F.col("row_id") < hi)
    ).drop("content_sha256").unionByName(cased)


def _drop_files(spark, corpus_dir, lo, hi, seed=42):
    _corpus(spark, lo, hi, seed).coalesce(1).write.mode("append").parquet(
        corpus_dir)


def _facts(corpus):
    """The per-batch mention facts stream_triples writes, over ``corpus``:
    the reference plan, with Spark's ``lower``."""
    combined = fused_stage1(corpus, DEFAULT_GAZETTEER)
    return (
        split_mentions(combined)
        .where(F.col("label") == "PERSON_NAME")
        .join(corpus.select("row_id", "repo"), "row_id")
        .groupBy(F.col("repo").alias("subj"),
                 F.lit("mentions_name").alias("pred"),
                 F.lower(F.col("surface")).alias("obj"))
        .agg(F.countDistinct("row_id").alias("n_witnesses"),
             F.max("confidence").alias("conf"))
    )


def _keyed(rows):
    return {(r["subj"], r["pred"], r["obj"]): (r["n_witnesses"], r["conf"])
            for r in rows}


@pytest.mark.parametrize("budget", [fused_vec.COALESCE_ROWS, 0],
                         ids=["driver", "distributed"])
def test_stream_triples_merge_on_read_equals_batch(spark, tmp_path,
                                                   monkeypatch, budget):
    """Both sides of the driver budget: the default folds each micro-batch
    and the merged view on the driver, 0 sends every batch through
    mapInArrow and merges with a Spark groupBy."""
    monkeypatch.setattr(fused_vec, "COALESCE_ROWS", budget)
    corpus_dir = str(tmp_path / "corpus")
    wh = str(tmp_path / "wh")

    def batch_expected(hi):
        return _keyed(_facts(_corpus(spark, 0, hi)).collect())

    def merged():
        view = merged_triples(spark, wh)
        assert view.schema == _MERGED
        return _keyed(view.collect())

    _drop_files(spark, corpus_dir, 0, 30)
    stream_triples(spark, corpus_dir, wh, DEFAULT_GAZETTEER)
    first = merged()
    assert first == batch_expected(30)
    assert ("cased/0", "mentions_name", "οδος") in first

    # no new files -> drain is a no-op
    stream_triples(spark, corpus_dir, wh, DEFAULT_GAZETTEER)
    assert merged() == batch_expected(30)

    # more files -> merge-on-read over deltas == full batch recompute
    _drop_files(spark, corpus_dir, 30, 50)
    stream_triples(spark, corpus_dir, wh, DEFAULT_GAZETTEER)
    final = merged()
    assert final == batch_expected(50)
    assert final[("cased/0", "mentions_name", "οδος")][0] == 2

    # each batch's checkpoint row counts the rows of its own delta partition
    deltas = cat.read_table(spark, wh, "triple_deltas")
    per_batch = {r["batch_id"]: r["count"]
                 for r in deltas.groupBy("batch_id").count().collect()}
    rows = read_checkpoints(spark, wh).where(
        F.col("stage") == "s4-stream").collect()
    assert len(per_batch) == 2
    assert {r["counters"]["batch_id"] for r in rows} == set(per_batch)
    for r in rows:
        assert r["rows_out"] == per_batch[r["counters"]["batch_id"]]

    # either side declares the same delta schema; the driver side writes
    # one file per batch partition
    with open(os.path.join(wh, "_meta", "triple_deltas.json")) as f:
        assert json.load(f)["schema"] == STREAM_FACTS.jsonValue()
    if budget:
        for b in per_batch:
            part = os.path.join(wh, "triple_deltas", f"batch_id={b}")
            assert len([p for p in os.listdir(part)
                        if p.endswith(".parquet")]) == 1


@pytest.mark.parametrize("budget", [fused_vec.COALESCE_ROWS, 0],
                         ids=["driver", "distributed"])
def test_stream_triples_drain_without_facts(spark, tmp_path, monkeypatch,
                                            budget):
    """A drain whose rows hold no mention (empty and null content) writes
    no fact, and the merged view is empty with the declared schema."""
    monkeypatch.setattr(fused_vec, "COALESCE_ROWS", budget)
    corpus_dir = str(tmp_path / "corpus")
    wh = str(tmp_path / "wh")
    base = StructType([f for f in CORPUS.fields if f.name != "content_sha256"])
    spark.createDataFrame(
        [(1, "r/0", "a.txt", "c0", "md", ""),
         (2, "r/1", "b.txt", "c0", "md", None)], base,
    ).coalesce(1).write.parquet(corpus_dir)
    stream_triples(spark, corpus_dir, wh, DEFAULT_GAZETTEER)
    (row,) = read_checkpoints(spark, wh).where(
        F.col("stage") == "s4-stream").collect()
    assert row["rows_out"] == 0
    view = merged_triples(spark, wh)
    assert view.schema == _MERGED
    assert view.collect() == []


def test_read_arrow_budget_and_hidden_entries(spark, tmp_path):
    """read_arrow returns the table within its row budget and None over
    it, and reads no file under a name starting with '.' or '_' (a
    writer's staging directory, _SUCCESS, checksums)."""
    wh = str(tmp_path / "wh")
    facts = spark.createDataFrame(
        [("r/0", "mentions_name", "ann", 1, 0.5, 0),
         ("r/0", "mentions_name", "ann", 2, 0.9, 1),
         ("r/1", "mentions_name", "bob", 1, 0.7, 1)], STREAM_FACTS)
    cat.write_table(facts.coalesce(1), wh, "triple_deltas", partition_by=["batch_id"],
                    dynamic_overwrite=True)
    table = os.path.join(wh, "triple_deltas")
    # a job marker (not parquet), and a copy of a batch's data file left
    # in a staging directory
    with open(os.path.join(table, "_SUCCESS"), "w") as f:
        f.write("not parquet")
    part = os.path.join(table, "batch_id=1")
    (data,) = [f for f in os.listdir(part) if f.endswith(".parquet")]
    staged = os.path.join(table, ".spark-staging-1", "batch_id=1")
    os.makedirs(staged)
    shutil.copy(os.path.join(part, data), staged)

    got = cat.read_arrow(spark, wh, "triple_deltas", 3)
    assert got.schema == to_arrow_schema(STREAM_FACTS)
    assert sorted(got.to_pylist(), key=str) == sorted(
        (r.asDict() for r in cat.read_table(
            spark, wh, "triple_deltas").collect()), key=str)
    assert got.num_rows == 3
    assert cat.read_arrow(spark, wh, "triple_deltas", 2) is None
    assert _keyed(merged_triples(spark, wh).collect()) == {
        ("r/0", "mentions_name", "ann"): (3, 0.9),
        ("r/1", "mentions_name", "bob"): (1, 0.7)}


def test_stream_triples_retried_batch_replaces_partition(spark, tmp_path):
    """A crash between a batch's write and its offset commit re-runs the
    batch: its second write must replace partition batch_id=N, not append a
    second copy that would double the merged witness counts, and must
    leave the other batches' partitions in place."""
    corpus_dir = str(tmp_path / "corpus")
    wh = str(tmp_path / "wh")
    # two drains -> two delta partitions; retry the first
    _drop_files(spark, corpus_dir, 0, 30)
    stream_triples(spark, corpus_dir, wh, DEFAULT_GAZETTEER)
    (batch_id,) = [r["batch_id"] for r in cat.read_table(
        spark, wh, "triple_deltas").select("batch_id").distinct().collect()]
    _drop_files(spark, corpus_dir, 30, 50)
    stream_triples(spark, corpus_dir, wh, DEFAULT_GAZETTEER)
    deltas = cat.read_table(spark, wh, "triple_deltas")
    assert deltas.select("batch_id").distinct().count() == 2
    n_rows = deltas.count()
    before = _keyed(merged_triples(spark, wh).collect())
    assert before

    # the retry: the same batch's facts written again, the way process does
    retry = _facts(_corpus(spark, 0, 30)).withColumn(
        "batch_id", F.lit(int(batch_id)))
    cat.write_table(retry, wh, "triple_deltas",
                    partition_by=["batch_id"], dynamic_overwrite=True)
    assert cat.read_table(spark, wh, "triple_deltas").count() == n_rows
    assert _keyed(merged_triples(spark, wh).collect()) == before
