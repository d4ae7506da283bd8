"""End-to-end pipeline: triples written partitionBy(pred), sha invariant,
resume-after-restart == single-run output (SURVEY §5.4), and one stage-1
table whatever the frequency budget, so a shared warehouse never mixes two
runs' votes."""

import os

from pyspark.sql import functions as F

from ht_ner_spark import pipeline
from ht_ner_spark.corpus import synthetic_corpus
from ht_ner_spark.pipeline import PipelineConfig, run
from ht_ner_spark.storage import catalog as cat
from ht_ner_spark.storage import checkpoint as ck


def _triple_set(df):
    return {(r["subj"], r["pred"], r["obj"]) for r in df.select("subj", "pred", "obj").collect()}


def test_pipeline_end_to_end_and_resume(spark, tmp_path):
    c = synthetic_corpus(spark, 80)

    wh1 = str(tmp_path / "wh_single")
    cfg1 = PipelineConfig(warehouse=wh1, run_id="r1")
    t1 = run(spark, c, cfg1)
    full = _triple_set(t1)
    assert len(full) > 0
    assert {r["pred"] for r in t1.select("pred").distinct().collect()} <= {
        "mentions", "alias_of", "appears_in"
    }
    # physical layout: partitioned by pred
    assert any(d.startswith("pred=") for d in os.listdir(os.path.join(wh1, "triples")))

    # sha invariant recorded ok
    ckpt = ck.read_checkpoints(spark, wh1)
    s4 = ckpt.where("stage = 's4'").collect()
    assert s4 and all(r["sha_ok"] for r in s4)

    # lineage carries the per-row invariant
    shas = {r["content_sha256"] for r in c.select("content_sha256").collect()}
    tsha = {r["lineage"]["content_sha256"] for r in t1.select("lineage").limit(50).collect()}
    assert tsha <= shas

    # resume: run stage 1 under run_id r2, then "crash"; a fresh run()
    # with the same run_id must skip completed stages (checkpoint rows) and
    # produce identical triples.
    wh2 = str(tmp_path / "wh_resume")
    cfg2 = PipelineConfig(warehouse=wh2, run_id="r2")
    from ht_ner_spark.operators.fused import split_mentions
    from ht_ner_spark.pipeline import stage1_combined
    from ht_ner_spark.storage import catalog as cat

    combined = stage1_combined(c, cfg2.gazetteer)
    cat.write_table(combined, wh2, "s1_combined", partition_by=["kind"])
    m = split_mentions(cat.read_table(spark, wh2, "s1_combined"))
    ck.record_stage(spark, wh2, "r2", "s1", rows_out=m.count())
    # crash here -> restart
    t2 = run(spark, c, cfg2)
    assert _triple_set(t2) == full

    # stage s1 was NOT re-executed: only one s1 checkpoint row exists
    n_s1 = ck.read_checkpoints(spark, wh2).where("stage='s1'").count()
    assert n_s1 == 1


def test_checkpoint_partition_stats_recorded(spark, tmp_path):
    c = synthetic_corpus(spark, 40)
    wh = str(tmp_path / "wh")
    cfg = PipelineConfig(warehouse=wh, run_id="rX")
    run(spark, c, cfg)
    ckpt = ck.read_checkpoints(spark, wh)
    stages = {r["stage"] for r in ckpt.select("stage").distinct().collect()}
    assert {"s1", "s1b", "s2", "s3", "s4"} <= stages
    # per-partition lineage rows exist for s1 and s4
    assert ckpt.where("stage='s1' and partition_id >= 0").count() >= 1


def _run_sets(spark, corpus, wh, run_id):
    """(triple set, entity set) of one run() into warehouse ``wh``."""
    triples = _triple_set(run(spark, corpus, PipelineConfig(
        warehouse=wh, run_id=run_id)))
    ents = {(r["row_id"], tuple(sorted(r["entities"])))
            for r in cat.read_table(spark, wh, "entities").collect()}
    return triples, ents


def test_vocab_fallback_and_shared_warehouse(spark, tmp_path, monkeypatch):
    """The relational frequency fallback (MAX_BROADCAST_VOCAB=0) gives the
    default budget's triples and entities through run(); a second corpus
    run afterwards in the same warehouse, under a new run_id, equals that
    corpus's run in a fresh warehouse: no table the first run left behind
    is read."""
    a = synthetic_corpus(spark, 300, seed=42).cache()
    b = synthetic_corpus(spark, 300, seed=7).cache()
    want_a = _run_sets(spark, a, str(tmp_path / "fresh_a"), "a")
    want_b = _run_sets(spark, b, str(tmp_path / "fresh_b"), "b")
    assert want_a[0] and want_a[1]

    shared = str(tmp_path / "shared")
    with monkeypatch.context() as m:
        m.setattr(pipeline, "MAX_BROADCAST_VOCAB", 0)
        assert _run_sets(spark, a, shared, "a") == want_a
    assert _run_sets(spark, b, shared, "b") == want_b
    a.unpersist()
    b.unpersist()
