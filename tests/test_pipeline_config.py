"""PipelineConfig holds only the values callers set; everything else is a
constant of the module that uses it. A new field needs a deliberate edit
of the ledger below."""

import dataclasses
import os

import pytest

from ht_ner_spark.corpus import synthetic_corpus
from ht_ner_spark.pipeline import PipelineConfig, run


def test_config_fields_ledger():
    assert [f.name for f in dataclasses.fields(PipelineConfig)] == [
        "warehouse", "run_id", "gazetteer", "aggregator", "corpus_rows_hint"]


def test_run_rejects_unknown_aggregator(spark, tmp_path):
    # "HMM" is not "hmm": it must fail, not silently run the weighted vote
    wh = str(tmp_path / "wh")
    with pytest.raises(ValueError, match="aggregator"):
        run(spark, synthetic_corpus(spark, 5),
            PipelineConfig(warehouse=wh, aggregator="HMM"))
    assert not os.path.exists(wh)
