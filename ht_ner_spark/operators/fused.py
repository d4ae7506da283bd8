"""Fused stage-1 labeler: every LF in ONE Arrow mapInArrow corpus pass.

The reference runs one full corpus pass per labeling function
(/root/reference/sweet/run_sweet.py:52-55 — an LF loop inside a doc loop,
each LF re-matching over the doc) and its composed Spark translation still
scans the corpus once per LF family (gazetteer, rules, caps) plus once per
vote projection.  The north_star instead prescribes mention detection
"gazetteer trie + regex labelers fused with batched transformer scoring
inside a GPU-aware mapInPandas loop": a single pass that tokenizes each row
once and emits every mention AND every LF vote for it — or, on the
pipeline's default path, the row's entities: the weighted vote is row-local,
so the labeler folds it and no vote row leaves Python (``entities=True``).

At 10^12-file scale this is the difference between ~8 corpus scans + 3
shuffles and exactly ONE scan with ZERO shuffles (the output is written
straight to the stage-1 table; the only remaining stage-1 shuffle is the
corpus-global frequency aggregation, which is unavoidable — it is the
reference's own two-pass barrier, sweet/create_lfs.py:17-34).

There is one implementation: the columnar batch labeler in
operators/fused_vec.py, which this module wraps as a Spark operator. Two
references check it. tests/oracle.py is the Unicode-aware function-level
reference (Python ``re`` tokenizer, same as production);
tests/test_fused_vec.py holds the labeler row-multiset identical to it.
The composed relational operators (gazetteer.match_trie, rules.*,
votes.*, antirules.frequency_votes) are the Spark-level reference in
tests/test_fused.py. They tokenize with the JVM regex engine (ASCII
``\\w``), so they agree with this path on ASCII text only.

Frequency antirules inside the fused pass: the ranked common-word list is
collected and broadcast when its top-k fits ``pipeline.MAX_BROADCAST_VOCAB``
(reference vocabularies are 10k-30k entries); above that the caller falls
back to the relational broadcast-join form, whose votes join this frame as
kind='v' rows (votes_as_combined), and the labeler emits votes, not
entities, so one aggregation sees both — the adaptive path is chosen in
pipeline.stage1_combined. A caller that passes no ranks gets no
frequency votes; the stream's fact kernel (streaming/incremental.py) runs
the columnar labeler that way, since its facts keep mentions only.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..schemas import MENTIONS
from .gazetteer import build_trie
from .rules import RULE_PATTERNS

# combined stage-1 frame: mention rows (kind='m') + either vote rows
# (kind='v') or per-row entity rows (kind='e', the votes folded in the
# labeler). Votes reuse begin as pos and surface as tok. An entity row has
# lf_name 'weighted_vote' and the row's distinct original-case PERSON_NAME
# tokens, space-joined, as surface. Unused numeric fields are 0.
# begin_char/end_char are the mention's character span (Entity.begin_offset
# semantics, neat_base_classes.py:33-34) — 0 on vote and entity rows.
S1_COMBINED = StructType(
    [
        StructField("kind", StringType(), False),
        StructField("row_id", LongType(), False),
        StructField("lf_name", StringType(), False),
        StructField("begin", IntegerType(), False),
        StructField("end", IntegerType(), False),
        StructField("surface", StringType(), False),
        StructField("label", StringType(), False),
        StructField("base_conf", DoubleType(), False),
        StructField("confidence", DoubleType(), False),
        StructField("weight", DoubleType(), False),
        StructField("begin_char", IntegerType(), True),
        StructField("end_char", IntegerType(), True),
    ]
)

_COLS = [f.name for f in S1_COMBINED.fields]


# rule-trigger index: first trigger token -> [(lf_name, trigger, conf)].
# Scanning the corpus once per pattern is the reference's shape
# (one spacy Matcher pass per RuleAnnotator); a dict lookup per token gets
# identical output in one pass over the tokens.
_TRIG_MAP: dict[str, list[tuple[str, tuple[str, ...], float]]] = {}
for _idx, (_pname, _trig, _conf) in enumerate(RULE_PATTERNS):
    _TRIG_MAP.setdefault(_trig[0], []).append((f"rule{_idx}", _trig, _conf))


def fused_stage1(corpus: DataFrame, gazetteer: dict[str, float],
                 common_ranks: dict[str, int] | None = None,
                 freq_cutoffs: list[tuple[str, int]] | None = None,
                 entities: bool = False) -> DataFrame:
    """corpus -> S1_COMBINED in one Arrow pass of the columnar labeler
    (operators/fused_vec.py): mention + vote rows, or with ``entities``
    mention + per-row entity rows (the weighted vote folded in)."""
    from . import fused_vec

    spark = corpus.sparkSession
    trie_b = spark.sparkContext.broadcast(build_trie(gazetteer))
    ranks_b = spark.sparkContext.broadcast(common_ranks or {})
    cutoffs = freq_cutoffs or []

    def run_vec(batches) -> Iterator:
        # mapInArrow: emission goes straight from the labeler's typed
        # numpy arrays to RecordBatches — no pandas block manager on
        # either the output (from_pandas introspection measured ~0.4 s
        # per 220k-row batch) and one RecordBatch per LF family (no
        # concat). Input columns are (row_id, content), selected below.
        yield from fused_vec.run_arrow_batches(
            batches, trie_b.value, ranks_b.value, cutoffs, entities)

    return corpus.select("row_id", "content").mapInArrow(run_vec, S1_COMBINED)


def split_mentions(combined: DataFrame) -> DataFrame:
    """S1_COMBINED -> MENTIONS (kind filter + column projection; pushes down
    to the parquet scan when reading a stored combined table)."""
    return combined.where(F.col("kind") == "m").select(
        *[f.name for f in MENTIONS.fields]
    )


def split_votes(combined: DataFrame) -> DataFrame:
    """S1_COMBINED -> VOTES (begin->pos, surface->tok)."""
    return combined.where(F.col("kind") == "v").select(
        "row_id",
        F.col("begin").alias("pos"),
        "lf_name",
        "label",
        "weight",
        F.col("surface").alias("tok"),
    )


def split_entities(combined: DataFrame) -> DataFrame:
    """S1_COMBINED kind='e' rows -> (row_id, entities): the row's lowered
    distinct tokens, sorted. A narrow projection; Spark's ``lower`` is the
    lowering aggregate.predicted_entities applies, so both write the same
    arrays."""
    return combined.where(F.col("kind") == "e").select(
        "row_id",
        F.array_sort(F.array_distinct(
            F.split(F.lower("surface"), " "))).alias("entities"),
    )


def votes_as_combined(votes: DataFrame) -> DataFrame:
    """VOTES -> S1_COMBINED kind='v' rows, the inverse of split_votes
    (pos->begin, tok->surface), shaped as the labeler emits its votes:
    end = pos + 1, zero confidences and char offsets."""
    return votes.select(
        F.lit("v").alias("kind"),
        "row_id",
        "lf_name",
        F.col("pos").alias("begin"),
        (F.col("pos") + 1).alias("end"),
        F.col("tok").alias("surface"),
        "label",
        F.lit(0.0).alias("base_conf"),
        F.lit(0.0).alias("confidence"),
        "weight",
        F.lit(0).alias("begin_char"),
        F.lit(0).alias("end_char"),
    )
