"""Checkpoint counters and warehouse maintenance: run() records stage 2's
dropped LSH blocks durably (a linking pass whose hub-skew guard silently
discards blocks is unauditable), and compact_table rewrites a table's small
files without changing its content."""

from pyspark.sql import functions as F

from ht_ner_spark.corpus import synthetic_corpus
from ht_ner_spark.pipeline import PipelineConfig, run
from ht_ner_spark.storage.checkpoint import read_checkpoints


def _stage_row(spark, wh, stage):
    return read_checkpoints(spark, wh).where(F.col("stage") == stage).first()


def test_run_records_s2_dropped_blocks(spark, tmp_path):
    c = synthetic_corpus(spark, 200).cache()
    # lsh_max_block=2: the synthetic aliases share bands, so some LSH blocks
    # exceed 2 surfaces and MUST be dropped + counted; linking still finds
    # edges in the blocks that fit
    small = str(tmp_path / "small")
    t = run(spark, c, PipelineConfig(warehouse=small, lsh_max_block=2))
    assert _stage_row(spark, small, "s2")["counters"]["dropped_blocks"] > 0
    assert t.where(F.col("pred") == "alias_of").count() > 0
    assert _stage_row(spark, small, "s4")["sha_ok"]
    # at the default block limit nothing is dropped
    dflt = str(tmp_path / "default")
    run(spark, c, PipelineConfig(warehouse=dflt))
    assert _stage_row(spark, dflt, "s2")["counters"]["dropped_blocks"] == 0
    c.unpersist()


def test_compact_table(spark, tmp_path):
    from ht_ner_spark.storage import catalog as cat

    wh = str(tmp_path)
    df = spark.range(0, 2000).selectExpr(
        "id", "cast(id % 3 as string) as pred")
    # simulate many tiny micro-batch files
    cat.write_table(df.repartition(24), wh, "t", partition_by=["pred"])
    # materialize the pre-compaction content (a lazy frame would re-list
    # the swapped files)
    before_rows = sorted(
        (r["id"], r["pred"])
        for r in cat.read_table(spark, wh, "t").collect())
    stats = cat.compact_table(spark, wh, "t",
                              target_file_bytes=10 * 1024 * 1024)
    after = cat.read_table(spark, wh, "t")
    assert stats["files_after"] < stats["files_before"]
    after_rows = sorted((r["id"], r["pred"]) for r in after.collect())
    assert after_rows == before_rows                # identical content
    # partitioning preserved (hive dirs still there)
    import os
    assert any(d.startswith("pred=") for d in os.listdir(f"{wh}/t"))


def test_recover_compact_semantics(spark, tmp_path):
    """r4 review: readers RESTORE a mid-swap crash but never delete swap
    dirs (an in-flight __compact_tmp must survive concurrent reads); the
    compactor cleans stale swap garbage itself and its second rename
    retries through a concurrent reader-restore."""
    import os

    from ht_ner_spark.storage import catalog as cat

    wh = str(tmp_path)
    df = spark.range(0, 100).selectExpr("id")
    cat.write_table(df, wh, "t")
    path, old, tmp = f"{wh}/t", f"{wh}/t__compact_old", f"{wh}/t__compact_tmp"

    # 1. reader must NOT delete an in-flight tmp beside a live table
    os.makedirs(tmp)
    with open(f"{tmp}/part-0.parquet", "w") as f:
        f.write("in-flight")
    assert cat.read_table(spark, wh, "t").count() == 100
    assert os.path.isdir(tmp)  # untouched by the reader

    # 2. mid-swap crash (path missing, old present): reader restores
    os.rename(path, old)
    assert cat.table_exists(spark, wh, "t")
    assert os.path.isdir(path) and not os.path.isdir(old)

    # 3. the next compaction cleans the stale tmp and still works
    stats = cat.compact_table(spark, wh, "t", target_file_bytes=1 << 30)
    assert not os.path.isdir(tmp) and not os.path.isdir(old)
    assert cat.read_table(spark, wh, "t").count() == 100
    assert stats["files_after"] >= 1
