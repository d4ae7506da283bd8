"""Long-format LF votes (row_id, pos, lf_name, label, weight) — the Spark
form of the reference's ``doc.spans`` dict (/root/reference/sweet/run_sweet.py:67-70).

Includes the J2 span re-projection quirk: every span-producing LF
(rule/dictionary/disambiguation/spacy annotators,
/root/reference/sweet/labeling_functions.py:27-54,123-130) re-labels EVERY
token whose exact text equals an extracted surface — losing position
specificity. Multi-token surfaces therefore never vote (no single token
equals them) — quirk preserved.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import preprocess


def project_mentions_to_votes(token_view: DataFrame, mentions: DataFrame,
                              weight: float = 1.0) -> DataFrame:
    """J2: for each (row_id, lf_name), label every token position whose exact
    token text equals any extracted surface of that LF in that row.

    Shape: distinct per-row surface set per LF (small) joined back to the
    exploded token view on (row_id, tok == surface) — an equi-join on
    (row_id, text), shuffle-partitioned by row_id on both sides so it
    co-partitions with every other per-row operator.
    """
    surfaces = mentions.select("row_id", "lf_name", F.col("surface").alias("tok_eq")).distinct()
    return (
        token_view.join(
            surfaces,
            (token_view["row_id"] == surfaces["row_id"])
            & (token_view["tok"] == surfaces["tok_eq"]),
            "inner",
        )
        .select(
            token_view["row_id"],
            F.col("pos").cast("int").alias("pos"),
            "lf_name",
            F.lit("PERSON_NAME").alias("label"),
            F.lit(weight).alias("weight"),
            token_view["tok"],
        )
    )


def melt_lf_matrix(matrix: DataFrame, id_col: str = "row_id") -> DataFrame:
    """S9: wide weak-label matrix (one column per fine-tuned model, values
    '|'-separated, 'N' = none — sweet/create_lfs.py:36-56) -> long
    (row_id, lf_name, surfaces:array<string>).

    Normalization per reference :44-54: fillna('N'); 'N' -> []; else
    replace(' ', '|'), split '|', preprocess().lower() each, distinct.
    """
    lf_cols = [c for c in matrix.columns if c != id_col]
    stacked = matrix.unpivot(
        ids=[id_col], values=lf_cols, variableColumnName="lf_name",
        valueColumnName="raw",
    )
    raw = F.coalesce(F.col("raw"), F.lit("N"))
    surfaces = F.when(raw == "N", F.array().cast("array<string>")).otherwise(
        F.array_distinct(
            F.transform(
                F.split(F.regexp_replace(raw, " ", "|"), r"\|"),
                lambda x: F.lower(preprocess(x)),
            )
        )
    )
    return stacked.select(id_col, "lf_name", surfaces.alias("surfaces"))


def model_result_votes(token_view: DataFrame, lf_long: DataFrame,
                       anti: bool = True, weight: float = 1.0) -> DataFrame:
    """J4 NERModelResultDetector (labeling_functions.py:102-115): token votes
    where lower(tok.text) ∈ the row's model-result surface set; label NOT_NAME
    when anti else PERSON_NAME. Empty result lists produce no votes
    (reference `if self.model_result == []: return`)."""
    label = "NOT_NAME" if anti else "PERSON_NAME"
    joined = token_view.join(lf_long, "row_id", "inner")
    return (
        joined.where(F.array_contains(F.col("surfaces"), F.lower(F.col("tok"))))
        .select(
            "row_id",
            F.col("pos").cast("int").alias("pos"),
            F.concat(F.col("lf_name"), F.lit("_model")).alias("lf_name"),
            F.lit(label).alias("label"),
            F.lit(weight).alias("weight"),
            "tok",
        )
    )


def mentions_to_votes_direct(mentions: DataFrame, weight: float = 1.0) -> DataFrame:
    """Position-faithful vote projection (for LFs that vote at their own span:
    caps detectors + frequency already emit per-position votes; single-token
    mentions map begin -> pos)."""
    return mentions.where(F.col("end") == F.col("begin") + 1).select(
        "row_id",
        F.col("begin").alias("pos"),
        "lf_name",
        "label",
        F.lit(weight).alias("weight"),
        F.col("surface").alias("tok"),
    )


def _argmax_label(df: DataFrame, item_cols: list[str], weight_col: str,
                  label_col: str, out: str) -> DataFrame:
    """Per item: the label with the largest weight, smallest-label tie-break
    — a min(struct(-w, label)) AGGREGATION, never a per-item Window (no sort,
    no skew pile-up on items with many candidate labels)."""
    top = F.min(F.struct((-F.col(weight_col)).alias("neg"),
                         F.col(label_col).alias("lab")))
    return (df.groupBy(*item_cols)
            .agg(top.alias("_top"), F.sum(weight_col).alias("_total"))
            .select(*item_cols, F.col("_top.lab").alias(out),
                    (-F.col("_top.neg")).alias("_w_top"), "_total"))


def source_accuracy(votes: DataFrame, item_cols: list[str],
                    src_col: str = "src",
                    label_col: str = "label") -> DataFrame:
    """Round 1+2 of Dawid-Skene-lite source-reliability estimation (the
    weak-supervision aggregation the reference's dictionary+rule labeler
    stack needs once labelers disagree): estimate each labeling source's
    accuracy as its agreement rate with the per-item unweighted majority
    label (smallest-label tie-break).  Returns (src, n_votes, n_agree,
    accuracy).

    Shape at scale: one (item, label) count aggregate, one item argmax
    re-aggregate (min(struct)), one item-keyed equi-join back to the votes
    (both sides pre-partitioned on the same item key — AQE reuses the
    exchange), one source-keyed aggregate whose cardinality is |sources|."""
    # two consumers of the votes plan (counts + the majority join):
    # materialize once rather than re-run the upstream fixture per consumer
    return _source_accuracy(votes.localCheckpoint(), item_cols,
                            src_col, label_col)


def _source_accuracy(votes: DataFrame, item_cols: list[str],
                     src_col: str, label_col: str) -> DataFrame:
    """source_accuracy body over an already-materialized votes frame."""
    counts = (votes.groupBy(*item_cols, label_col)
              .agg(F.count("*").alias("n")))
    mv = _argmax_label(counts, item_cols, "n", label_col, "_mv") \
        .select(*item_cols, "_mv")
    return (votes.join(mv, item_cols)
            .groupBy(F.col(src_col).alias("src"))
            .agg(F.count("*").alias("n_votes"),
                 F.sum((F.col(label_col) == F.col("_mv")).cast("long"))
                 .alias("n_agree"))
            .select("src", F.col("n_votes").cast("long").alias("n_votes"),
                    F.col("n_agree").cast("long").alias("n_agree"),
                    F.round(F.col("n_agree") / F.col("n_votes"), 6)
                    .alias("accuracy")))


def fuse_labels(votes: DataFrame, item_cols: list[str],
                src_col: str = "src",
                label_col: str = "label") -> DataFrame:
    """Dawid-Skene-lite label fusion: majority vote -> source accuracies
    (source_accuracy) -> accuracy-weighted re-vote.  Returns one row per
    item: (*item_cols, label, score, n_sources) with score = the winning
    label's weight share of the item's total vote weight — the calibrated
    soft label downstream confidence thresholds (P8) consume.

    Two fixed rounds, not EM-to-convergence: the standard production
    trade-off (Snorkel's MajorityLabelVoter -> LabelModel step), keeping
    every pass a hash aggregate or a broadcast join — the accuracy table is
    |sources| rows and is BROADCAST onto the vote stream, so the second
    round adds zero shuffles beyond the final (item, label) aggregate."""
    # four consumers of the votes plan (round-1 counts, the majority join,
    # the weighted re-vote, n_sources): materialize once
    votes = votes.localCheckpoint()
    acc = _source_accuracy(votes, item_cols, src_col, label_col) \
        .select(F.col("src").alias(src_col), "accuracy")
    weighted = (votes.join(F.broadcast(acc), src_col)
                .groupBy(*item_cols, label_col)
                .agg(F.sum("accuracy").alias("w")))
    fused = _argmax_label(weighted, item_cols, "w", label_col, "label")
    n_src = (votes.groupBy(*item_cols)
             .agg(F.countDistinct(src_col).alias("n_sources")))
    return (fused.join(n_src, item_cols)
            .select(*item_cols, "label",
                    F.round(F.col("_w_top") / F.col("_total"), 6)
                    .alias("score"),
                    F.col("n_sources").cast("long").alias("n_sources")))
