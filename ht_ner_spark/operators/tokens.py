"""Token views over the corpus.

The reference's central IR is a spacy Doc (token sequence); ours is a pair of
DataFrames derived once and reused by every LF (the reference re-tokenizes per
LF — /root/reference/sweet/labeling_functions.py re-runs matchers per doc per
annotator; we tokenize exactly once per corpus pass):

* ``with_tokens(corpus)``  -> corpus + ``tokens: array<string>``
* ``token_view(tokens_df)`` -> exploded ``(row_id, pos, tok)`` — the shape all
  positional/caps/frequency LFs consume.

Both are narrow (no shuffle); the exploded view fan-out is columnar and feeds
whole-stage-codegen predicates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import TOKEN_PATTERN, tokenize


def with_tokens(corpus: DataFrame, text_col: str = "content",
                pattern: str = TOKEN_PATTERN) -> DataFrame:
    return corpus.withColumn("tokens", tokenize(text_col, pattern))


def token_view(tokens_df: DataFrame) -> DataFrame:
    """(row_id, pos, tok, n_toks) — pos is 0-based like spacy token.i."""
    return tokens_df.select(
        "row_id",
        F.size("tokens").alias("n_toks"),
        F.posexplode("tokens").alias("pos", "tok"),
    )


def char_token_view(corpus: DataFrame) -> DataFrame:
    """(row_id, pos, tok, char_start, char_end) — the token view WITH
    character offsets (Entity.begin_offset semantics,
    /root/reference/sweet/neat_base_classes.py:33-34). Regex match offsets
    are not relationally derivable, so this is ONE Arrow pass of
    fused_vec.tokenize_batch, the fused labeler's own tokenizer: this view
    is the token view of the pipeline's relational frequency-vote fallback
    (pipeline._frequency_inputs) and of the HMM's document lengths, and it
    sees exactly the tokens and offsets the labeler emits."""
    from typing import Iterator

    import numpy as np
    import pyarrow as pa

    from .fused_vec import tokenize_batch

    names = ["row_id", "pos", "tok", "char_start", "char_end"]

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            rid, pos, _, start, end, tok, _, _ = tokenize_batch(
                rb.column(0).to_numpy(zero_copy_only=False),
                rb.column(1).to_pylist())
            yield pa.RecordBatch.from_arrays(
                [pa.array(rid), pa.array(pos.astype(np.int32)),
                 pa.array(tok, pa.string()),
                 pa.array(start.astype(np.int32)),
                 pa.array(end.astype(np.int32))], names=names)

    return corpus.select("row_id", "content").mapInArrow(
        run, "row_id long, pos int, tok string, char_start int, char_end int"
    )


def attach_char_offsets(mentions: DataFrame, ctv: DataFrame) -> DataFrame:
    """mentions (token spans begin/end) + char_token_view -> + begin_char/
    end_char. Two row_id-co-partitioned equi-joins (begin token's start,
    (end-1) token's end) — composed-path only; the fused path emits offsets
    inline."""
    b = ctv.select("row_id", F.col("pos").alias("begin"),
                   F.col("char_start").alias("begin_char"))
    e = ctv.select("row_id", (F.col("pos") + 1).alias("end"),
                   F.col("char_end").alias("end_char"))
    return (
        mentions.join(b, ["row_id", "begin"], "left")
        .join(e, ["row_id", "end"], "left")
    )
