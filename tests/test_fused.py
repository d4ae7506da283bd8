"""Fused single-pass stage 1 must be row-set identical to the composed
relational operators (SURVEY §2 J1/J2/W3/W5/A1 — the fusion is a physical
optimization, never a semantic change).

The composed path lives here, as a test-only reference: it tokenizes with
the JVM regex engine (ASCII ``\\w``), so it agrees with the fused path on
ASCII corpora only. tests/test_fused_vec.py covers Unicode against the
function-level oracle."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ht_ner_spark.corpus import DEFAULT_GAZETTEER, synthetic_corpus
from ht_ner_spark.operators import antirules as ar
from ht_ner_spark.operators import rules as ru
from ht_ner_spark.operators import votes as vo
from ht_ner_spark.operators.gazetteer import match_trie
from ht_ner_spark.operators.tokens import (
    attach_char_offsets,
    char_token_view,
    token_view,
    with_tokens,
)
from ht_ner_spark import pipeline
from ht_ner_spark.pipeline import stage1_mentions
from ht_ner_spark.schemas import CORPUS

N_ROWS = 120

# rule triggers among a row's last tokens: the lookahead runs past the row
# end (these crashed the array rule operator under ANSI mode)
EDGE_ROWS = list(enumerate(
    ["hello aka", "call me", "I", "call me Bob", "aka Zed ok"], start=10_000))


# non-ASCII text, where the JVM regex splits 'café' into 'caf', 'é': every
# frequency tier must vote on the tokens the labeler emits
UNICODE_ROWS = list(enumerate(
    [f"café café w{i} w{i % 7} naïve" for i in range(200)]
    + ["é. Bob", "CAFÉ Zoë", "", None], start=20_000))


def edge_rows_corpus(spark, edge_rows=EDGE_ROWS) -> DataFrame:
    rows = [(rid, "r", "p", "c", "md", t) for rid, t in edge_rows]
    schema = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                       for f in CORPUS.fields[:-1])
    return spark.createDataFrame(rows, schema).withColumn(
        "content_sha256", F.sha2(F.col("content"), 256))


def stage1_composed(corpus: DataFrame, gazetteer: dict[str, float]
                    ) -> tuple[DataFrame, DataFrame]:
    """-> (mentions, votes) from the relational operators over a shared
    token view: one corpus pass per LF family plus one per projection."""
    toks = with_tokens(corpus)
    tview = token_view(toks)
    # char offsets (MENTIONS.begin_char/end_char): match_trie emits them
    # inline; token-span mention frames get them from a char-offset view
    ctv = char_token_view(corpus).localCheckpoint()
    gaz_mentions = match_trie(corpus, gazetteer)
    rule_ments = attach_char_offsets(ru.rule_mentions_arrays(toks), ctv)
    caps = attach_char_offsets(ru.all_caps_mentions(tview), ctv)
    name_case = attach_char_offsets(ru.name_case_mentions(tview), ctv)
    mentions = (gaz_mentions.unionByName(rule_ments).unionByName(caps)
                .unionByName(name_case))

    # votes: J2 projection for span LFs (gazetteer + rules), position-faithful
    # for caps detectors, frequency antirules as NOT_NAME.
    span_votes = vo.project_mentions_to_votes(
        tview, gaz_mentions.unionByName(rule_ments))
    caps_votes = vo.mentions_to_votes_direct(caps.unionByName(name_case))
    freq = ar.word_frequency(tview)
    freq_votes = ar.frequency_votes(tview, freq,
                                    ar.frequency_cutoffs(freq.count()))
    votes = span_votes.unionByName(caps_votes).unionByName(freq_votes)
    return mentions, votes


def _rowset(df, cols):
    return {tuple(r[c] for c in cols) for r in df.collect()}


def test_fused_equals_composed(spark):
    c = synthetic_corpus(spark, N_ROWS).unionByName(
        edge_rows_corpus(spark)).cache()

    fm, fv = stage1_mentions(c, DEFAULT_GAZETTEER)
    cm, cv = stage1_composed(c, DEFAULT_GAZETTEER)

    mcols = ["row_id", "lf_name", "begin", "end", "surface", "label",
             "base_conf", "confidence", "begin_char", "end_char"]
    got_m = _rowset(fm, mcols)
    assert got_m == _rowset(cm, mcols)
    # of the edge rows, only the two whose name token exists yield mentions
    assert {(m[0], m[4]) for m in got_m if m[0] >= 10_000} == {
        (10_003, "Bob"), (10_004, "Zed")}

    vcols = ["row_id", "pos", "lf_name", "label", "weight", "tok"]
    got, want = _rowset(fv, vcols), _rowset(cv, vcols)
    assert got == want
    assert len(got) > 0


def test_fused_relational_vocab_fallback(spark, monkeypatch):
    """The frequency votes must not depend on the broadcast budget: 0
    forces the relational fallback, and a budget between the top-k and
    the vocabulary size keeps the dict. Non-ASCII rows included."""
    c = synthetic_corpus(spark, 60).unionByName(
        edge_rows_corpus(spark, UNICODE_ROWS)).cache()
    vocab = ar.word_frequency_agg_arrow(c).count()
    max_k = max(k for _, k in ar.frequency_cutoffs(vocab))
    assert 0 < max_k < vocab - 1

    vcols = ["row_id", "pos", "lf_name", "label", "weight", "tok"]

    def votes(budget=None):
        if budget is not None:
            monkeypatch.setattr(pipeline, "MAX_BROADCAST_VOCAB", budget)
        _, v = stage1_mentions(c, DEFAULT_GAZETTEER)
        return _rowset(v, vcols)

    want = votes()
    assert any(v[5] == "café" for v in want)
    assert votes(0) == want
    assert votes(vocab - 1) == want
