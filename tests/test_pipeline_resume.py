"""End-to-end pipeline: triples written partitionBy(pred), sha invariant,
resume-after-restart == single-run output (SURVEY §5.4), and one stage-1
table whatever the frequency budget, so a shared warehouse never mixes two
runs' votes."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from ht_ner_spark import pipeline
from ht_ner_spark.corpus import DEFAULT_GAZETTEER, synthetic_corpus
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


def _run_sets(spark, corpus, wh, run_id, aggregator="vote"):
    """(triple set, entity set) of one run() into warehouse ``wh``."""
    triples = _triple_set(run(spark, corpus, PipelineConfig(
        warehouse=wh, run_id=run_id, aggregator=aggregator)))
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


def _unicode_corpus(spark):
    """synthetic_corpus rows plus cased Unicode rows the caps detectors
    vote on (final sigma, İ, ß)."""
    import hashlib

    from ht_ner_spark.schemas import CORPUS

    texts = ["met ΟΔΥΣΣΕΥΣ and İlker Kaya today",
             "Mr İZMİR and mr ĲSBRAND met ẞEТA there",
             "naïve CAFÉ résumé and Zoë Ångström left", "", None]
    extra = spark.createDataFrame(
        [(10_000 + i, "u/repo", "f.py", "c0", "py", t,
          hashlib.sha256((t or "").encode()).hexdigest())
         for i, t in enumerate(texts)], CORPUS)
    return synthetic_corpus(spark, 200).unionByName(extra).cache()


def test_default_run_folds_the_vote(spark, tmp_path):
    """On the default path stage 1 writes entity rows, no vote rows, and
    run()'s entities equal predicted_entities(weighted_vote(votes)) over
    stage1_mentions' votes on the same corpus."""
    from ht_ner_spark.operators.aggregate import predicted_entities, weighted_vote

    c = _unicode_corpus(spark)
    wh = str(tmp_path / "wh")
    _, got = _run_sets(spark, c, wh, "f")
    assert not os.path.exists(os.path.join(wh, "s1_combined", "kind=v"))
    assert os.path.isdir(os.path.join(wh, "s1_combined", "kind=e"))
    assert ck.stage_counters(wh, "f", "s1")[pipeline.FOLDED_VOTE] == 1
    _, votes = pipeline.stage1_mentions(c, dict(DEFAULT_GAZETTEER))
    want = {(r["row_id"], tuple(r["entities"]))
            for r in predicted_entities(weighted_vote(votes)).collect()}
    assert got == want
    assert any(r >= 10_000 for r, _ in want)
    c.unpersist()


def _drop_after_s1(wh, run_id):
    """Undo a finished run back to the s1/s1b boundary: drop the checkpoint
    rows of s1b..s4 and the entities table, as if it stopped after
    record_stage('s1')."""
    import pyarrow.parquet as pq

    ck_dir = os.path.join(wh, ck.CHECKPOINT_TABLE)
    for f in os.listdir(ck_dir):
        path = os.path.join(ck_dir, f)
        if set(pq.read_table(path, columns=["stage"])["stage"].to_pylist()) \
                & {"s1b", "s2", "s3", "s4"}:
            os.remove(path)
    shutil.rmtree(os.path.join(wh, "entities"))
    assert ck.completed_stages(wh, run_id) == {"s1"}


def test_resume_at_s1_s1b_boundary(spark, tmp_path):
    """A run that stops after record_stage('s1') and is re-run with the
    same run_id gives the same entities and triples from the stored entity
    rows."""
    c = _unicode_corpus(spark)
    wh = str(tmp_path / "wh")
    want = _run_sets(spark, c, wh, "r")
    _drop_after_s1(wh, "r")
    assert _run_sets(spark, c, wh, "r") == want
    assert ck.completed_stages(wh, "r") == {"s1", "s1b", "s2", "s3", "s4"}
    c.unpersist()


def test_resume_across_aggregators(spark, tmp_path):
    """s1b takes its path from what the s1 checkpoint says stage 1 stored,
    not from the resuming run's aggregator: a stage 1 the hmm aggregator
    wrote (vote rows) resumed under 'vote' gives the default run's entities
    and triples; a folded stage 1 (entity rows, no votes) resumed under
    'hmm' is refused, not decoded into an empty entities table."""
    c = synthetic_corpus(spark, 120).cache()
    want = _run_sets(spark, c, str(tmp_path / "fresh"), "v")

    wh = str(tmp_path / "hmm_then_vote")
    _run_sets(spark, c, wh, "h", aggregator="hmm")
    _drop_after_s1(wh, "h")
    assert _run_sets(spark, c, wh, "h") == want

    folded = str(tmp_path / "fresh")
    _drop_after_s1(folded, "v")
    with pytest.raises(ValueError, match="new run_id"):
        _run_sets(spark, c, folded, "v", aggregator="hmm")
    c.unpersist()
