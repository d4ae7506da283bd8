"""Columnar fused labeler (operators/fused_vec.py) must be row-MULTISET
identical to the per-row reference in tests/oracle.py (stage1_rows, built
from the per-LF oracle functions) — the vectorization is a physical
optimization, never a semantic change.

Function-level (no Spark) on adversarial corpora: unicode case edges,
empty/None texts, embedded newlines (the batch joiner is a newline),
multi-word gazetteer phrases, $-number tokens, punctuation-glued \\S+
tokens, trigger bigrams at row boundaries, and the frequency-antirule
original-case rank quirk.  Both sides tokenize with Python ``re``, so the
Unicode fixtures are in the equivalence domain; the Spark path is diffed
against the composed operators in tests/test_fused.py.
"""

from __future__ import annotations

import pandas as pd
import pyarrow as pa
import pytest

from ht_ner_spark.corpus import DEFAULT_GAZETTEER, synthetic_rows
from ht_ner_spark.operators import fused_vec
from ht_ner_spark.operators.fused import _COLS
from ht_ner_spark.operators.gazetteer import build_trie
from ht_ner_spark.session import ARROW_BATCH_ROWS

from . import oracle


def oracle_frame(rows, gaz, ranks, cutoffs):
    return pd.DataFrame(oracle.stage1_rows(rows, gaz, ranks, cutoffs),
                        columns=_COLS)


def arrow_batches(rows):
    """(row_id, content) RecordBatches of ARROW_BATCH_ROWS rows, the shape
    the fused pass receives from the session (arrow.maxRecordsPerBatch)."""
    schema = pa.schema([("row_id", pa.int64()), ("content", pa.string())])
    return [pa.RecordBatch.from_pydict(
        {"row_id": [r[0] for r in rows[lo:lo + ARROW_BATCH_ROWS]],
         "content": [r[1] for r in rows[lo:lo + ARROW_BATCH_ROWS]]},
        schema=schema)
        for lo in range(0, len(rows), ARROW_BATCH_ROWS)]


def vec_frame(rows, gaz, ranks, cutoffs, entities=False):
    out = fused_vec.run_arrow_batches(arrow_batches(rows),
                                      build_trie(gaz), ranks, cutoffs,
                                      entities=entities)
    return pa.Table.from_batches(list(out), schema=fused_vec._ARROW_SCHEMA
                                 ).to_pandas()


def multiset(df):
    return sorted(map(tuple, df[_COLS].itertuples(index=False)))


def oracle_entities(rows, ok):
    """oracle.weighted_vote -> oracle.predicted_entities over the vote rows
    of the oracle frame ``ok``: {row_id: lowered token set}."""
    v = ok[ok["kind"] == "v"]
    votes = zip(v["row_id"], v["begin"], v["lf_name"], v["label"],
                v["weight"])
    toks = {rid: oracle.tokenize(text) for rid, text in rows}
    return oracle.predicted_entities(toks, oracle.weighted_vote(votes))


def entity_sets(df):
    """kind='e' rows -> {row_id: lowered token set}; Python's str.lower
    agrees with Spark's lower on the fixtures (pinned on Unicode rows by
    test_entity_rows_spark_projection)."""
    e = df[df["kind"] == "e"]
    assert e["row_id"].is_unique
    return {int(r): set(s.lower().split(" "))
            for r, s in zip(e["row_id"], e["surface"])}


def assert_parity(rows, gaz=None, ranks=None, cutoffs=None):
    """The labeler's m+v rows equal the oracle's; with entities=True its
    mention rows are unchanged, it emits no vote rows, and its kind='e'
    rows equal the oracle's weighted vote over the oracle's votes."""
    gaz = gaz if gaz is not None else dict(DEFAULT_GAZETTEER)
    ranks, cutoffs = ranks or {}, cutoffs or []
    ok = oracle_frame(rows, gaz, ranks, cutoffs)
    assert multiset(ok) == multiset(vec_frame(rows, gaz, ranks, cutoffs))
    folded = vec_frame(rows, gaz, ranks, cutoffs, entities=True)
    assert multiset(folded[folded["kind"] != "e"]) == multiset(
        ok[ok["kind"] == "m"])
    assert entity_sets(folded) == oracle_entities(rows, ok)


def test_synthetic_corpus_parity():
    rows = [(r[0], r[5]) for r in synthetic_rows(800)]
    assert_parity(rows)


def test_synthetic_corpus_parity_with_frequency():
    rows = [(r[0], r[5]) for r in synthetic_rows(500)]
    ranks = {"the": 1, "ok": 2, "about": 3, "Alice": 4, "call": 5}
    cutoffs = [("freq_0.1", 2), ("freq_0.3", 5)]
    assert_parity(rows, ranks=ranks, cutoffs=cutoffs)


def test_empty_none_and_whitespace_rows():
    rows = [(0, ""), (1, None), (2, "   \t\n  "), (3, "Alice"),
            (4, "     "), (5, "ok")]
    assert_parity(rows)


def test_unicode_case_and_whitespace():
    rows = [
        (0, "İstanbul ĲSBRAND ß ẞEТA   Ångström"),
        (1, "ΣΙΓΜΑ σίγμα Δὲν ΞΕΡΩ"),
        (2, "naïve CAFÉ résumé"),
        (3, "tab\tsep thin　ideographic"),
        # an all-caps Greek word ending in Σ (final-sigma lowering) and a
        # word with İ (lowers to two code points), both voted PERSON_NAME
        (4, "met ΟΔΥΣΣΕΥΣ and İlker Kaya today"),
    ]
    assert_parity(rows)


UNICODE_ROWS = [
    (0, "met ΟΔΥΣΣΕΥΣ and İlker Kaya today"),
    (1, "ΣΙΓΜΑ saw ΣΙΓΜΑΣ Δὲν ΞΕΡΩ Ωμέγα ok"),
    (2, "naïve CAFÉ résumé and Zoë Ångström left"),
    (3, "Mr İZMİR and mr ĲSBRAND met ẞEТA there"),
]


def test_entity_rows_spark_projection(spark):
    """fused.split_entities, the stage-1b projection, lowers the stored
    kind='e' surfaces with Spark's lower; on Unicode rows its arrays equal
    the oracle's weighted vote, sorted."""
    from ht_ner_spark.operators.fused import S1_COMBINED, split_entities

    gaz = dict(DEFAULT_GAZETTEER)
    folded = vec_frame(UNICODE_ROWS, gaz, {}, [], entities=True)
    assert (folded["kind"] == "e").sum() == len(UNICODE_ROWS)
    df = spark.createDataFrame(folded[_COLS].values.tolist(), S1_COMBINED)
    got = {r["row_id"]: r["entities"]
           for r in split_entities(df).collect()}
    want = oracle_entities(UNICODE_ROWS,
                           oracle_frame(UNICODE_ROWS, gaz, {}, []))
    assert got == {k: sorted(v) for k, v in want.items()}
    assert {"οδυσσευς", "i̇lker"} <= set(got[0])


def test_dollar_numbers_and_punctuation_glue():
    rows = [
        (0, "pay $3.50 not $.. nor $x then a$3.5 and x,$9.9"),
        (1, "foo,BAR baz..QUX (PAREN) {BRACE} end$"),
        (2, "$5 $5.5.5 $ alone"),
    ]
    assert_parity(rows)


def test_multiword_gazetteer_walks():
    gaz = {"jane smith": 0.9, "jane": 0.6, "jane smith jones": 0.8,
           "de la cruz": 0.7, "smith": 0.5}
    rows = [
        (0, "met Jane Smith Jones and DE LA CRUZ today"),
        (1, "jane smith spoke; Jane alone; smith jane reversed"),
        (2, "Jane Smith"),          # phrase ends exactly at row end
        (3, "prefix Jane"),         # partial phrase at row end
        (4, "Jane\nSmith"),         # phrase across an in-row newline
        (5, "Jane"),                # phrase split across two rows must
        (6, "Smith"),               # NOT match (the batch joiner is \n)
    ]
    assert_parity(rows, gaz=gaz)


def test_trigger_bigrams_and_row_boundaries():
    # bigram trigger split across rows must NOT fire (the oracle is
    # per-row; the vec path joins rows — boundary handling must match)
    rows = [
        (0, "according to"),
        (1, "Reuters said ok"),
        (2, "according to Reuters said hm"),
        (3, "Mr"),
        (4, "Smith arrived"),
        (5, "Mr Smith arrived"),
        (6, "call me\nBob"),        # trigger across an in-row newline
        (7, "call me"),             # trigger at row end, name in next row
        (8, "Bob"),
    ]
    assert_parity(rows)


def test_rank_lookup_is_original_case():
    # ranks are looked up by ORIGINAL token text (quirk);
    # lower-cased keys must not match capitalized occurrences
    rows = [(0, "The the THE tHe"), (1, "the said The")]
    ranks = {"the": 1, "The": 2}
    cutoffs = [("freq_0.1", 1), ("freq_0.3", 2)]
    assert_parity(rows, ranks=ranks, cutoffs=cutoffs)


def test_j2_reprojection_exact_case():
    # a rule-extracted surface votes at every EXACT-case occurrence only
    rows = [(0, "mr Smith saw Smith and SMITH and smith Smith")]
    assert_parity(rows)


def test_non_tiling_tokenizer_raises(monkeypatch):
    # the arithmetic spans assume TOKEN_PATTERN tiles every \\S run; a
    # tokenizer that skips chars must fail loudly, not emit shifted spans
    import re

    monkeypatch.setattr(fused_vec, "_TOKEN_RE", re.compile(r"[A-Za-z]+"))
    with pytest.raises(RuntimeError, match="tiles"):
        fused_vec.tokenize_batch([7], ["ab,cd EF--gh"])


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_randomized_fuzz(seed):
    import random

    rng = random.Random(seed)
    vocab = ["Alice", "BOB", "the", "Mr", "mr", "according", "to", "$3.5",
             "x,y", "İ", "ß", "CAFÉ", "ok", "Jane", "Smith", "a", "AB",
             "ALLCAPSWORD", "Capitalized", "notcap", "X" * 20, "..", "()",
             "Fourteenletter", "Fifteencharname"]
    rows = []
    for i in range(200):
        n = rng.randint(0, 12)
        rows.append((i, " ".join(rng.choice(vocab) for _ in range(n))))
    gaz = {"jane smith": 0.9, "alice": 0.8, "bob": 0.4}
    ranks = {"the": 1, "ok": 2, "Alice": 3}
    cutoffs = [("freq_0.1", 1), ("freq_0.3", 3)]
    assert_parity(rows, gaz=gaz, ranks=ranks, cutoffs=cutoffs)


def test_word_frequency_agg_arrow_parity(spark):
    """The Arrow partial-count frequency aggregate must be row-set
    identical to the exploded-view JVM aggregate — including the
    first_seen struct (VALUE-min of (row_id, pos), not scan order) and
    the stopword/punct filter."""
    from ht_ner_spark.corpus import synthetic_corpus
    from ht_ner_spark.operators import antirules as ar
    from ht_ner_spark.operators.tokens import token_view, with_tokens

    c = synthetic_corpus(spark, 300).cache()
    rel = ar.word_frequency_agg(token_view(with_tokens(c)))
    arrow = ar.word_frequency_agg_arrow(c)
    rk = {(r["tok"], r["cnt"], r["first_seen"]["r"], r["first_seen"]["p"])
          for r in rel.collect()}
    ak = {(r["tok"], r["cnt"], r["first_seen"]["r"], r["first_seen"]["p"])
          for r in arrow.collect()}
    assert rk == ak and len(rk) > 0
    c.unpersist()


def test_word_frequency_agg_arrow_value_min(spark):
    """first_seen must be the value-min even when row_ids arrive out of
    order inside a batch (descending ids here): token 'zzq' first occurs
    by VALUE in row 1 pos 2, though row 9 is scanned first."""
    from ht_ner_spark.operators import antirules as ar
    from ht_ner_spark.operators.tokens import token_view, with_tokens
    from ht_ner_spark.schemas import CORPUS

    rows = [
        (9, "r", "p", "c", "py", "zzq zzq here", "h9"),
        (5, "r", "p", "c", "py", "nothing zzq", "h5"),
        (1, "r", "p", "c", "py", "alpha beta zzq tail", "h1"),
    ]
    df = spark.createDataFrame(rows, CORPUS).coalesce(1)
    arrow = {(r["tok"], r["cnt"], r["first_seen"]["r"], r["first_seen"]["p"])
             for r in ar.word_frequency_agg_arrow(df).collect()}
    rel = {(r["tok"], r["cnt"], r["first_seen"]["r"], r["first_seen"]["p"])
           for r in ar.word_frequency_agg(
               token_view(with_tokens(df))).collect()}
    assert arrow == rel
    zzq = {t for t in arrow if t[0] == "zzq"}
    assert zzq == {("zzq", 4, 1, 2)}


def test_word_frequency_tokenizer_divergence_non_ascii(spark):
    """The two frequency paths' EQUIVALENCE DOMAIN is ASCII — pinned here
    as an explicit, tested deviation (round-4 advisor): the Arrow path
    tokenizes with Python re (Unicode \\w/\\s — the reference-faithful
    nltk semantics, and the engine default), the relational path with JVM
    regexp_extract_all (ASCII \\w/\\s). On 'café' and NBSP they MUST
    diverge exactly as documented in word_frequency_agg_arrow; if this
    test ever fails because they AGREE, the JVM path changed semantics
    and the docstring + this pin need updating together."""
    from ht_ner_spark.operators import antirules as ar
    from ht_ner_spark.operators.tokens import token_view, with_tokens
    from ht_ner_spark.schemas import CORPUS

    rows = [(1, "r", "p", "c", "py", "café bistro menu", "h1")]
    df = spark.createDataFrame(rows, CORPUS).coalesce(1)
    arrow = {r["tok"] for r in ar.word_frequency_agg_arrow(df).collect()}
    rel = {r["tok"] for r in ar.word_frequency_agg(
        token_view(with_tokens(df))).collect()}
    # Python \w+ keeps 'café' whole; NBSP is \s, so 'bistro' and 'menu'
    # split into two tokens
    assert arrow == {"café", "bistro", "menu"}
    # JVM \w+ stops at 'é' ('caf' + 'é' via the \S+ fallback... which
    # greedily eats through the NBSP since JVM \S matches it)
    assert "caf" in rel and "café" not in rel
    assert arrow != rel
    # NBSP: \s in Python (a separator), \S in the JVM (the \S+ arm
    # glues it onto the next token)
    rows2 = [(2, "r", "p", "c", "py", "bistro menu", "h2")]
    df2 = spark.createDataFrame(rows2, CORPUS).coalesce(1)
    arrow2 = {r["tok"] for r in ar.word_frequency_agg_arrow(df2).collect()}
    rel2 = {r["tok"] for r in ar.word_frequency_agg(
        token_view(with_tokens(df2))).collect()}
    assert arrow2 == {"bistro", "menu"}
    assert rel2 == {"bistro", " menu"}
