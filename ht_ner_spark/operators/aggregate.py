"""A3: weak-label aggregation.

The reference fits a skweak HMM over all LF span votes
(/root/reference/sweet/run_sweet.py:60-65) — a corpus-global iterative EM.
Two aggregators, selected by config (SURVEY §7.2.4):

* ``weighted_vote`` (default): Snorkel-style weighted majority — a single
  groupBy over the long votes table. Map-side partial aggregation makes
  this one shuffle keyed by (row_id, pos); at 100 TB the key space is
  ~tokens, uniformly distributed, no skew. The aggregation is row-local, so
  on the pipeline's default path the fused labeler folds it per batch
  (operators/fused_vec.py, kind='e' rows) and no vote table is written;
  this operator is the oracle for that fold and the aggregator of the
  oversized-vocabulary fallback, whose votes come from a separate pass.
* ``hmm_em`` (operators/hmm.py): distributed Baum-Welch — broadcast tiny
  params, mapInPandas forward-backward per doc, sum sufficient stats, driver
  M-step; deterministic init from LF priors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def weighted_vote(votes: DataFrame, lf_weights: dict[str, float] | None = None,
                  threshold: float = 0.0) -> DataFrame:
    """(row_id, pos, score, label): label = PERSON_NAME iff
    sum(±weight · lf_weight) > threshold. NOT_NAME votes are negative."""
    w = F.col("weight")
    if lf_weights:
        mapping = F.create_map(
            *[F.lit(x) for kv in lf_weights.items() for x in kv]
        )
        w = w * F.coalesce(mapping[F.col("lf_name")], F.lit(1.0))
    signed = F.when(F.col("label") == "PERSON_NAME", w).otherwise(-w)
    aggs = [F.sum(signed).alias("score")]
    if "tok" in votes.columns:
        # all votes at one (row_id, pos) carry the same token text; max() is a
        # deterministic pick that rides the same hash agg for free.
        aggs.append(F.max("tok").alias("tok"))
    return (
        votes.groupBy("row_id", "pos")
        .agg(*aggs)
        .withColumn(
            "label",
            F.when(F.col("score") > threshold, F.lit("PERSON_NAME")).otherwise(
                F.lit("NOT_NAME")
            ),
        )
    )


def predicted_entities(agg_labels: DataFrame,
                       token_view: DataFrame | None = None) -> DataFrame:
    """(row_id, entities:array<string>) — lower-cased distinct token texts at
    positions voted PERSON_NAME, sorted (reference projection
    /root/reference/sweet/run_sweet.py:77-89, set semantics applied at eval,
    src/metrics.py:28-45). A row with no PERSON_NAME position gets no row;
    the 'N' sentinel is applied only at the CSV boundary
    (entities_to_string).

    When ``agg_labels`` carries the voted token text (VOTES.tok), no corpus
    re-join is needed — one hash agg keyed by row_id. The ``token_view`` join
    path remains for callers with tok-less label frames."""
    pred = agg_labels.where(F.col("label") == "PERSON_NAME")
    if "tok" not in pred.columns:
        if token_view is None:
            raise ValueError("agg_labels has no 'tok' column; pass token_view")
        pred = pred.join(token_view, ["row_id", "pos"], "inner")
    return pred.groupBy("row_id").agg(
        F.array_sort(F.array_distinct(F.collect_list(F.lower("tok"))))
        .alias("entities")
    )
