"""J1: gazetteer phrase matching — the pipeline's core scan × dimension join.

Reference behavior (/root/reference/sweet/neat_extractors.py:123-193):
spacy PhraseMatcher(attr="LOWER") over a weighted dictionary
{lower_surface -> weight}; each matched span becomes an Entity whose
base_conf is the weight of its lower-cased surface (missing -> 0, the
KeyError fallback at :175-179).

Production stage 1 matches the gazetteer inside the columnar fused labeler
(operators/fused_vec.py), walking the `build_trie` dict trie below. The two
standalone Spark operators here are the contract-query forms and the
composed reference that tests diff the fused path against; they must agree
(cross-checked in tests):

* relational (`match_relational`): token n-gram expansion + **broadcast hash
  join** against the gazetteer dimension — fully Catalyst-visible, DuckDB
  oracle-checkable. n-gram expansion is a within-row array transform (narrow);
  the join is broadcast, so the whole operator is shuffle-free.
* trie (`match_trie`): the same broadcast dict trie, walked per row by
  `trie_matches` inside an Arrow `mapInPandas` batch loop — no n-gram
  fan-out, one pass per batch, zero shuffle.

The J2 vote-projection quirk (label EVERY token whose exact text equals a
matched surface — /root/reference/sweet/labeling_functions.py:40-42) lives in
votes.py, not here: mentions keep true span positions for linking.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import MENTIONS

LF_NAME = "dictionary"


def gazetteer_df(spark: SparkSession, weights: dict[str, float]) -> DataFrame:
    """Dimension table (name, weight, n_toks) from {lower_surface -> weight}
    (shape of sweet/neat_extractors.py:147-150)."""
    rows = [(k.lower(), float(v), len(k.split())) for k, v in weights.items()]
    return spark.createDataFrame(rows, "name string, weight double, n_toks int")


def match_relational(tokens_df: DataFrame, gaz: DataFrame,
                     lf_name: str = LF_NAME,
                     lengths: list[int] | None = None) -> DataFrame:
    """Broadcast-join gazetteer match -> MENTIONS rows.

    For each phrase length n present in the gazetteer, build within-row
    n-grams (i, concat of tokens[i..i+n)) and broadcast-join on the lowered
    surface. Catalyst plan: Project/Generate (narrow) -> BroadcastHashJoin —
    no shuffle, scales linearly with corpus size.

    ``lengths``: distinct phrase lengths, when the caller knows them (it
    built the gazetteer) — avoids a blocking collect() job per call.
    """
    if lengths is None:
        lengths = [r[0] for r in gaz.select("n_toks").distinct().collect()]
    if not lengths:
        return tokens_df.sparkSession.createDataFrame([], MENTIONS)
    toks = F.col("tokens")

    # ONE pass over the tokenized corpus for ALL phrase lengths: the former
    # per-length loop unioned |lengths| branches, each re-running the regex
    # tokenizer and its own Generate over every document. All (pos, n,
    # surface) grams are built within-row, flattened, exploded once, and
    # joined against the broadcast gazetteer on (surface, n) — still
    # Project/Generate (narrow) -> BroadcastHashJoin, no shuffle.
    def gram_struct(n: int):
        return F.transform(
            toks,
            lambda x, i: F.when(
                i + n <= F.size(toks),
                F.struct(
                    i.cast("int").alias("pos"),
                    F.lit(n).cast("int").alias("n"),
                    F.concat_ws(" ", F.slice(toks, i + 1, n)).alias("surface"),
                ),
            ),
        )

    all_grams = F.filter(
        F.flatten(F.array(*[gram_struct(n) for n in sorted(lengths)])),
        lambda s: s.isNotNull(),
    )
    grams = tokens_df.select("row_id", F.explode(all_grams).alias("g"))
    return (
        grams.join(
            F.broadcast(gaz),
            (F.lower(F.col("g.surface")) == F.col("name"))
            & (F.col("g.n") == F.col("n_toks")),
            "inner",
        )
        .select(
            "row_id",
            F.lit(lf_name).alias("lf_name"),
            F.col("g.pos").alias("begin"),
            (F.col("g.pos") + F.col("g.n")).alias("end"),
            F.col("g.surface").alias("surface"),
            F.lit("PERSON_NAME").alias("label"),
            F.col("weight").alias("base_conf"),
            F.col("weight").alias("confidence"),
        )
    )


def build_trie(weights: dict[str, float]) -> dict:
    """Token-level dict trie: {tok: {tok: ...}, END: weight}."""
    trie: dict = {}
    for phrase, w in weights.items():
        node = trie
        for t in phrase.lower().split():
            node = node.setdefault(t, {})
        node["\0"] = float(w)
    return trie


def trie_matches(trie: dict, low: list[str]) -> list[tuple[int, int, float]]:
    """All (begin_tok, end_tok_exclusive, weight) phrase matches of the
    lowered token list ``low`` against a build_trie() trie: every match at
    every start position, overlapping and nested included (PhraseMatcher
    LOWER semantics), in (begin, end) order."""
    out = []
    trie_get = trie.get
    n = len(low)
    for i in range(n):
        node = trie_get(low[i])
        j = i
        while node is not None:
            j += 1
            if "\0" in node:
                out.append((i, j, node["\0"]))
            node = node.get(low[j]) if j < n else None
    return out


def match_trie(corpus: DataFrame, weights: dict[str, float],
               lf_name: str = LF_NAME, text_col: str = "content") -> DataFrame:
    """Arrow mapInPandas trie match -> MENTIONS rows (greedy-all semantics:
    every match at every start position, exactly the span set
    PhraseMatcher returns), sorted by (begin, end) per document. Tokens and
    char spans come from fused_vec.tokenize_batch, the fused labeler's own
    tokenizer. The trie is built once on the driver and broadcast: building
    it per input task is O(|gazetteer|) repeated work."""
    spark = corpus.sparkSession
    trie_b = spark.sparkContext.broadcast(build_trie(dict(weights)))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from .fused_vec import tokenize_batch

        trie = trie_b.value
        for pdf in batches:
            rid, pos, n_tok, start, end, tok, _, _ = tokenize_batch(
                pdf["row_id"].to_numpy(), pdf[text_col].tolist())
            rid, n_tok, start, end, tok = (
                rid.tolist(), n_tok.tolist(), start.tolist(), end.tolist(),
                tok.tolist())
            rows_out: list[tuple] = []
            # a row's tokens are contiguous in the flat stream from pos 0
            for a in np.flatnonzero(pos == 0).tolist():
                toks = tok[a:a + n_tok[a]]
                for i, j, w in trie_matches(trie, [t.lower() for t in toks]):
                    rows_out.append(
                        (rid[a], lf_name, i, j, " ".join(toks[i:j]),
                         "PERSON_NAME", w, w, start[a + i], end[a + j - 1])
                    )
            yield pd.DataFrame(
                rows_out,
                columns=[f.name for f in MENTIONS.fields],
            ).astype(
                {"row_id": "int64", "begin": "int32", "end": "int32",
                 "base_conf": "float64", "confidence": "float64",
                 "begin_char": "int32", "end_char": "int32"}
            )

    return corpus.select("row_id", text_col).mapInPandas(run, MENTIONS)
