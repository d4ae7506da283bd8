"""Checkpoint counters and warehouse maintenance: run() records stage 2's
dropped LSH blocks durably (a linking pass whose hub-skew guard silently
discards blocks is unauditable), and compact_table rewrites a table's small
files without changing its content."""

from pyspark.sql import functions as F

from ht_ner_spark.corpus import DEFAULT_GAZETTEER, synthetic_corpus
from ht_ner_spark.pipeline import PipelineConfig, run
from ht_ner_spark.storage.checkpoint import read_checkpoints

from .test_fused import edge_rows_corpus

# a hub alias: 100 surfaces that share a 12-letter stem and differ in two
# letters, so 11 of each surface's 14 char 3-grams are shared and most of
# them land in one (band, sig) LSH block per band, over the cap of 50
HUB_SURFACES = [f"bartholomewx{a}{b}" for a in "abcdefghij" for b in "klmnopqrst"]


def _stage_row(spark, wh, stage):
    return read_checkpoints(spark, wh).where(F.col("stage") == stage).first()


def test_run_records_s2_dropped_blocks(spark, tmp_path):
    c = synthetic_corpus(spark, 200).cache()
    # the hub's blocks exceed the default block cap and MUST be dropped +
    # counted; linking still finds edges in the blocks that fit
    hub = c.unionByName(edge_rows_corpus(spark, [
        (50_000 + i, f"thanks to {s} for the fix")
        for i, s in enumerate(HUB_SURFACES)]))
    gaz = {**DEFAULT_GAZETTEER, **{s: 0.9 for s in HUB_SURFACES}}
    hub_wh = str(tmp_path / "hub")
    t = run(spark, hub, PipelineConfig(warehouse=hub_wh, gazetteer=gaz))
    assert _stage_row(spark, hub_wh, "s2")["counters"]["dropped_blocks"] > 0
    assert t.where(F.col("pred") == "alias_of").count() > 0
    assert _stage_row(spark, hub_wh, "s4")["sha_ok"]
    # on the plain corpus nothing is dropped
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
