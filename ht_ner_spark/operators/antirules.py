"""A1/W6: corpus-frequency antirules.

Reference (/root/reference/sweet/create_lfs.py:17-34 +
sweet/labeling_functions.py:135-143): Counter over all non-stop, non-punct
token texts; sort by count descending (Counter.most_common tie-break =
first-seen order); FrequencyDetector(threshold t) labels any token whose text
is in the top ``int(V * t)`` of that ranking as NOT_NAME, for
t in {0.01, 0.02, 0.03, 0.04, 0.05}.

Production shape (pipeline._frequency_inputs): word_frequency_agg_arrow
counts tokens per Arrow batch and merges the vocabulary-sized partials in
one hash-agg shuffle; the driver collects the top-k ordered by
(count DESC, first_seen ASC) — the deterministic stand-in for Counter's
insertion-order tie-break, replicated by the oracle — and the fused labeler
votes from that broadcast dict. When the top-k exceeds the broadcast
budget, the same aggregate is ranked distributed (rank.exact_global_rank)
and frequency_votes broadcast-joins the ranked vocabulary against
tokens.char_token_view, built on the labeler's own tokenizer
(fused_vec.tokenize_batch), so both shapes vote on the tokens the labeler
emits. word_frequency (exploded JVM-regex token view) is the composed
reference the tests diff the fused path against; the pipeline does not
run it.

spacy is_stop/is_punct are approximated with a fixed stopword set + an
all-punctuation regex (deviation shared with the oracle, SURVEY §7.0).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

THRESHOLDS = [0.01, 0.02, 0.03, 0.04, 0.05]


def frequency_cutoffs(vocab_size: int) -> list[tuple[str, int]]:
    """(lf_name, max_rank) per threshold LF: FrequencyDetector(t) votes on
    the top ``int(V * t)`` tokens of a V-token ranking."""
    return [(f"freq_{t}", int(vocab_size * t)) for t in THRESHOLDS]


# the non-stop, non-punct predicate — shared verbatim by the exploded-view
# aggregate (filter before agg) and the Arrow-partial aggregate (filter on
# the vocabulary-sized result; equivalent for a per-key predicate), so the
# JVM regex semantics are identical on both paths
def _freq_filter_expr():
    return ((~F.lower("tok").isin(list(STOPWORDS)))
            & (~F.col("tok").rlike(PUNCT_REGEX)))

# compact subset of spacy's English stop list — fixed so engine and oracle
# share it exactly (tests/oracle.py imports this).
STOPWORDS = {
    "a", "an", "and", "are", "as", "at", "be", "but", "by", "for", "from",
    "had", "has", "have", "he", "her", "his", "i", "in", "is", "it", "its",
    "me", "my", "no", "not", "of", "on", "or", "our", "she", "that", "the",
    "their", "them", "they", "this", "to", "was", "we", "were", "when",
    "which", "who", "will", "with", "you", "your", "after", "about", "all",
    "am", "been", "before", "between", "both", "can", "do", "does", "down",
    "during", "each", "few", "more", "most", "other", "out", "over", "own",
    "same", "so", "some", "such", "than", "then", "there", "these", "those",
    "through", "under", "until", "up", "very", "what", "where", "while",
    "why", "how", "if", "into", "just", "now", "only", "said", "say", "see",
}

PUNCT_REGEX = r"^[\p{P}\p{S}]+$"


def word_frequency_agg(token_view: DataFrame) -> DataFrame:
    """(tok, cnt, first_seen) — the frequency aggregation WITHOUT the global
    rank (one hash-agg shuffle) over the exploded token view. The pipeline
    scans with word_frequency_agg_arrow and ranks driver-side when the
    top-k fits its broadcast budget; word_frequency() below adds the
    distributed exact rank (the composed reference the tests use).

    ``first_seen`` is the lexicographic MIN of struct(row_id, pos) — the
    global first occurrence. A struct min (not an arithmetic encoding like
    ``row_id * 2^20 + pos``): multi-MB web/code documents exceed 2^20 tokens,
    and real corpus row_ids are xxhash64 values whose multiplication
    overflows a long (an error under Spark 4 ANSI mode, silent drift
    otherwise). Struct comparison is exact at any document length or id."""
    filtered = token_view.where(_freq_filter_expr())
    return filtered.groupBy("tok").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.min(
            F.struct(F.col("row_id").alias("r"),
                     F.col("pos").cast("long").alias("p"))
        ).alias("first_seen"),
    )


def word_frequency_agg_arrow(corpus: DataFrame) -> DataFrame:
    """The production frequency scan: word_frequency_agg's (tok, cnt,
    first_seen) computed from the corpus via an Arrow partial aggregation —
    one corpus scan, no 25x token explode through the JVM regex engine.

    It tokenizes with Python ``re`` through fused_vec.tokenize_batch, the
    tokenizer of the fused labeler, so the two stage-1 passes cannot drift
    from each other. That is Unicode ``\\w``/``\\s``, the semantics of the
    reference's nltk RegexpTokenizer. word_frequency_agg over token_view
    tokenizes with JVM regexp_extract_all (ASCII ``\\w``/``\\s``), so the
    two agree on ASCII text only: 'café' is one token here but ['caf', 'é']
    in the JVM, and NBSP separates tokens only here.
    tests/test_fused_vec.py pins both the ASCII parity and the non-ASCII
    divergence.

    Each Arrow batch emits ONE partial row per DISTINCT token:
    (tok, cnt, r, p) with (r, p) the VALUE-minimum (row_id, pos) — two
    np.minimum.at passes, not scan order, because row_ids are not sorted
    within a batch on a real corpus. The final groupBy sums counts and
    min-merges the structs; the stopword/punctuation filter then runs on
    the VOCABULARY-sized frame with the exact same Spark expressions as
    word_frequency_agg (filter-then-agg == agg-then-filter for a per-key
    predicate), so JVM regex semantics (\\p{P}\\p{S}) are preserved
    bit-for-bit. Measured at 2M rows: the s1_freq stage's scan cost drops
    ~3x against the exploded-view aggregate."""

    def partials(batches):
        import numpy as np
        import pandas as pd

        from .fused_vec import tokenize_batch

        for pdf in batches:
            rid_tok, pos, _n, _s, _e, _tok, codes, uniques = tokenize_batch(
                pdf["row_id"].to_numpy(), list(pdf["content"]))
            if len(codes) == 0:
                yield pd.DataFrame({"tok": pd.Series(dtype=object),
                                    "cnt": pd.Series(dtype="int64"),
                                    "r": pd.Series(dtype="int64"),
                                    "p": pd.Series(dtype="int64")})
                continue
            nu = len(uniques)
            cnt = np.bincount(codes, minlength=nu).astype("int64")
            # value-min of (row_id, pos) per unique: min row_id first,
            # then min pos among that token's occurrences in that row
            min_r = np.full(nu, np.iinfo(np.int64).max)
            np.minimum.at(min_r, codes, rid_tok)
            at_min = rid_tok == min_r[codes]
            min_p = np.full(nu, np.iinfo(np.int64).max)
            np.minimum.at(min_p, codes[at_min], pos[at_min])
            yield pd.DataFrame({"tok": np.asarray(uniques, dtype=object),
                                "cnt": cnt, "r": min_r, "p": min_p})

    part = corpus.select("row_id", "content").mapInPandas(
        partials, "tok string, cnt long, r long, p long")
    agg = part.groupBy("tok").agg(
        F.sum("cnt").alias("cnt"),
        F.min(F.struct(F.col("r"), F.col("p"))).alias("first_seen"),
    )
    return agg.where(_freq_filter_expr())


def word_frequency(token_view: DataFrame) -> DataFrame:
    """(tok, cnt, first_seen, rank) over non-stop, non-punct tokens.
    first_seen = min(struct(row_id, pos)) — global first occurrence for the
    Counter-insertion-order tie-break (exact at any document length).

    The rank is an EXACT global row_number but computed distributed
    (range-sort + partition prefix offsets, operators/rank.py): (cnt,
    first_seen) is duplicate-free — one corpus position holds one token — so
    no unpartitioned Window is needed, and a 10^9-token web-corpus vocabulary
    ranks across all executors instead of one."""
    from .rank import exact_global_rank

    return exact_global_rank(word_frequency_agg(token_view),
                             [F.desc("cnt"), F.asc("first_seen")], "rank")


def frequency_votes(token_view: DataFrame, freq: DataFrame,
                    cutoffs: list[tuple[str, int]]) -> DataFrame:
    """NOT_NAME votes for each threshold LF of ``cutoffs``
    (frequency_cutoffs over ``freq``'s vocabulary size). Membership is on
    the exact token text (reference `tok.text in self.common_words`), via
    broadcast join of the tiny ranked vocabulary."""
    max_k = max(k for _, k in cutoffs)
    # ONE broadcast join against the widest top-k, then one explode emitting
    # each threshold LF whose cutoff the token's rank clears — single corpus
    # pass for all five antirule LFs.
    top = freq.where(F.col("rank") <= max_k).select(
        F.col("tok").alias("common_tok"), "rank"
    )
    lf_hits = F.filter(
        F.array(*[F.when(F.col("rank") <= k, F.lit(lf)) for lf, k in cutoffs]),
        lambda x: x.isNotNull(),
    )
    return (
        token_view.join(F.broadcast(top), F.col("tok") == F.col("common_tok"), "inner")
        .select(
            "row_id",
            F.col("pos").cast("int").alias("pos"),
            F.explode(lf_hits).alias("lf_name"),
            F.lit("NOT_NAME").alias("label"),
            F.lit(1.0).alias("weight"),
            "tok",
        )
    )
