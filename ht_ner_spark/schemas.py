"""Fixed StructType schemas for every stage boundary (SURVEY.md §1.3).

The reference is schema-implicit (ad-hoc column asserts, e.g.
/root/reference/src/finetune_evaluation_HT.py:88); our engine declares the
schema of every checkpointable table so resume is a contract, not a hope.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

# ---------------------------------------------------------------------------
# corpus: Iceberg-shaped source table (BASELINE.json input_hint) + derived
# row_id / content_sha256 (the per-row invariant carried through all stages).
CORPUS = StructType(
    [
        StructField("row_id", LongType(), False),
        StructField("repo", StringType(), False),
        StructField("path", StringType(), False),
        StructField("commit", StringType(), False),
        StructField("lang", StringType(), True),
        StructField("content", StringType(), True),
        StructField("content_sha256", StringType(), False),
    ]
)

# stage 1 output: one row per (labeling function, token span) mention.
# Entity fields per /root/reference/sweet/neat_base_classes.py:23-39;
# begin_char/end_char mirror Entity.begin_offset/end_offset
# (neat_base_classes.py:33-34) — character offsets into the source content,
# captured from the tokenizer's match spans (same regex pass, no extra cost).
MENTIONS = StructType(
    [
        StructField("row_id", LongType(), False),
        StructField("lf_name", StringType(), False),
        StructField("begin", IntegerType(), False),   # token index, inclusive
        StructField("end", IntegerType(), False),     # token index, exclusive
        StructField("surface", StringType(), False),
        StructField("label", StringType(), False),    # PERSON_NAME | NOT_NAME
        StructField("base_conf", DoubleType(), False),
        StructField("confidence", DoubleType(), False),
        StructField("begin_char", IntegerType(), True),  # char offset, inclusive
        StructField("end_char", IntegerType(), True),    # char offset, exclusive
    ]
)

# long-format per-token LF votes (the reference's doc.spans dict,
# /root/reference/sweet/run_sweet.py:67-70, exploded to rows).
# ``tok`` carries the voted token's text so downstream aggregation
# (weighted_vote -> predicted_entities) never has to re-join the corpus —
# at 100 TB that join is a full re-tokenize + shuffle; carrying 1 string
# per vote row is strictly cheaper. The pipeline's default path stores no
# votes (the fused labeler folds the weighted vote per row); this shape is
# what stage1_mentions returns and what the hmm aggregator and the
# oversized-vocabulary fallback aggregate.
VOTES = StructType(
    [
        StructField("row_id", LongType(), False),
        StructField("pos", IntegerType(), False),
        StructField("lf_name", StringType(), False),
        StructField("label", StringType(), False),
        StructField("weight", DoubleType(), False),
        StructField("tok", StringType(), False),
    ]
)

# stage 2: blocked candidate pairs between mention surfaces.
CANDIDATES = StructType(
    [
        StructField("src", StringType(), False),
        StructField("dst", StringType(), False),
        StructField("sim", DoubleType(), False),
    ]
)

# stage 3: canonicalization output.
COMPONENTS = StructType(
    [
        StructField("entity_id", StringType(), False),
        StructField("component_id", StringType(), False),
    ]
)

LINEAGE = StructType(
    [
        StructField("repo", StringType(), True),
        StructField("path", StringType(), True),
        StructField("commit", StringType(), True),
        StructField("content_sha256", StringType(), True),
        StructField("stage_versions", ArrayType(StringType()), True),
        StructField("lf_provenance", ArrayType(StringType()), True),
    ]
)

# stage 4: materialized triples, written partitionBy("pred").
TRIPLES = StructType(
    [
        StructField("subj", StringType(), False),
        StructField("pred", StringType(), False),
        StructField("obj", StringType(), False),
        StructField("conf", DoubleType(), True),
        StructField("lineage", LINEAGE, True),
    ]
)

# streamed surface facts, one delta partition per micro-batch
# (streaming/incremental.py): (repo, 'mentions_name', lowered surface) with
# the number of distinct corpus rows behind it and its max confidence. The
# two aggregates are nullable because Spark's sum and max are, so the
# distributed fold and the driver fold write the same declared schema.
STREAM_FACTS = StructType(
    [
        StructField("subj", StringType(), False),
        StructField("pred", StringType(), False),
        StructField("obj", StringType(), False),
        StructField("n_witnesses", LongType(), True),
        StructField("conf", DoubleType(), True),
        StructField("batch_id", IntegerType(), False),
    ]
)

# checkpoint/metrics table: resume keying per SURVEY.md §2.1 S7
# (reference's positional pickle resume /root/reference/src/openai_infer.py:169-186
# replaced by keyed, idempotent stage records).
CHECKPOINT = StructType(
    [
        StructField("run_id", StringType(), False),
        StructField("stage", StringType(), False),
        StructField("partition_id", IntegerType(), False),
        StructField("rows_in", LongType(), False),
        StructField("rows_out", LongType(), False),
        StructField("counters", MapType(StringType(), LongType()), True),
        StructField("sha_ok", BooleanType(), True),
        StructField("ts_str", StringType(), True),
    ]
)

STAGE_VERSIONS = ["s1-mentions/0.1", "s2-linking/0.1", "s3-cc/0.1", "s4-triples/0.1"]
