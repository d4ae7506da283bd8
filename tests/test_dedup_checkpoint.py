"""Checkpoint counters: run() records stage 2's dropped LSH blocks durably
(a linking pass whose hub-skew guard silently discards blocks is
unauditable)."""

from pyspark.sql import functions as F

from ht_ner_spark.corpus import DEFAULT_GAZETTEER, synthetic_corpus
from ht_ner_spark.operators.linking import (lsh_candidates,
                                             minhash_signatures,
                                             surface_grams)
from ht_ner_spark.pipeline import PipelineConfig, _read_mentions, run
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
    n_dropped = _stage_row(spark, hub_wh, "s2")["counters"]["dropped_blocks"]
    assert n_dropped > 0
    # the count observed on the edges write is lsh_candidates' dropped
    # frame over the same signatures
    surfaces = _read_mentions(spark, hub_wh).select(
        F.lower("surface").alias("surface")).distinct()
    sigs = minhash_signatures(surface_grams(surfaces))
    assert n_dropped == lsh_candidates(sigs)[1].count()
    assert t.where(F.col("pred") == "alias_of").count() > 0
    assert _stage_row(spark, hub_wh, "s4")["sha_ok"]
    # on the plain corpus nothing is dropped
    dflt = str(tmp_path / "default")
    run(spark, c, PipelineConfig(warehouse=dflt))
    assert _stage_row(spark, dflt, "s2")["counters"]["dropped_blocks"] == 0
    c.unpersist()
