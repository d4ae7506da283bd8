"""Text analysis for training-data curation: language-ID, quality scoring,
token counting, document fingerprinting. All pure column expressions
(whole-stage codegen; zero Python)."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .antirules import STOPWORDS

# tiny per-language stopword profiles for the n-gram/stopword-hit heuristic.
LANG_PROFILES: dict[str, list[str]] = {
    "en": ["the", "and", "is", "of", "to", "in", "that", "for", "with", "a"],
    "es": ["el", "la", "de", "que", "y", "en", "los", "del", "se", "las"],
    "de": ["der", "die", "und", "das", "ist", "von", "mit", "den", "im", "ein"],
    "fr": ["le", "la", "les", "de", "et", "est", "des", "un", "une", "dans"],
}


def bpe_token_estimate(col: Column) -> Column:
    """BPE-ish token-count estimate: words + extra splits for long words
    (every 6 chars beyond the first 6) + punctuation runs — a deterministic
    stand-in for a real BPE vocab, good enough for budget accounting."""
    words = F.split(F.trim(col), r"\s+")
    word_cost = F.aggregate(
        words,
        F.lit(0),
        lambda acc, w: acc + 1 + F.floor(F.greatest(F.length(w) - 1, F.lit(0)) / 6).cast("int"),
    )
    punct = F.size(F.regexp_extract_all(col, F.lit(r"[\p{P}\p{S}]"), 0))
    return (word_cost + punct).cast("long")


def quality_stats(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id",
                  keep: dict[str, Column] | None = None) -> DataFrame:
    """(doc_id, n_chars, n_tokens, avg_token_len, stopword_ratio, punct_ratio,
    upper_ratio, digit_ratio, quality_score) — the usual corpus-quality
    heuristics (length/punct/stopword ratios). ``keep`` carries extra
    named columns through (so callers like source_profile stay one-pass
    instead of joining back on doc_id)."""
    c = F.col(text_col)
    toks = F.split(F.lower(F.trim(c)), r"\s+")
    n_toks = F.size(toks)
    sw = F.size(F.filter(toks, lambda t: t.isin(*sorted(STOPWORDS))))
    n_chars = F.length(c)
    punct = F.length(F.regexp_replace(c, r"[^\p{P}\p{S}]", ""))
    digits = F.length(F.regexp_replace(c, r"[^0-9]", ""))
    uppers = F.length(F.regexp_replace(c, r"[^A-Z]", ""))
    out = df.select(
        F.col(id_col).alias("doc_id"),
        *[v.alias(k) for k, v in (keep or {}).items()],
        n_chars.cast("long").alias("n_chars"),
        n_toks.cast("long").alias("n_tokens"),
        F.round(n_chars / F.greatest(n_toks, F.lit(1)), 4).alias("avg_token_len"),
        F.round(sw / F.greatest(n_toks, F.lit(1)), 4).alias("stopword_ratio"),
        F.round(punct / F.greatest(n_chars, F.lit(1)), 4).alias("punct_ratio"),
        F.round(uppers / F.greatest(n_chars, F.lit(1)), 4).alias("upper_ratio"),
        F.round(digits / F.greatest(n_chars, F.lit(1)), 4).alias("digit_ratio"),
    )
    score = (
        F.when(F.col("n_tokens") < 5, 0.0)
        .when(F.col("punct_ratio") > 0.3, 0.2)
        .otherwise(
            F.round(
                F.least(F.col("stopword_ratio") * 2, F.lit(1.0)) * 0.5
                + F.when((F.col("avg_token_len") >= 3) & (F.col("avg_token_len") <= 12), 0.5)
                .otherwise(0.2),
                4,
            )
        )
    )
    return out.withColumn("quality_score", score)


def language_id(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """(doc_id, pred_lang, hits): argmax over per-language stopword hit
    counts; ties broken by language code asc; no hits -> 'und'."""
    toks = F.split(F.lower(F.col(text_col)), r"\s+")
    scores = F.array(
        *[
            F.struct(
                F.size(F.filter(toks, lambda t: t.isin(*words))).alias("hits"),
                F.lit(lang).alias("lang"),
            )
            for lang, words in sorted(LANG_PROFILES.items())
        ]
    )
    best = F.array_sort(
        scores,
        lambda a, b: F.when(a["hits"] > b["hits"], -1)
        .when(a["hits"] < b["hits"], 1)
        .when(a["lang"] < b["lang"], -1)
        .when(a["lang"] > b["lang"], 1)
        .otherwise(0),
    )[0]
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("und")).alias("pred_lang"),
        best["hits"].cast("long").alias("hits"),
    )


def tfidf_topk(df: DataFrame, k: int = 3, text_col: str = "text",
               id_col: str = "doc_id") -> DataFrame:
    """(doc_id, term, tf, df, tfidf, rnk): per-document top-k terms by
    tf-idf (idf = ln(n_docs / df), raw tf, round 4dp; ties broken term asc).

    100 TB shape: one explode + (doc_id, term) partial-agg shuffle for tf,
    one vocabulary-sized agg for df that is BROADCAST back (a term dictionary
    is tiny relative to the corpus — web-crawl vocab is millions of rows,
    the corpus trillions), n_docs via a 1-row broadcast cross join (no
    driver-side count job), and the top-k window partitioned by doc_id —
    never a global window. Reference analog: word-frequency ranking feeding
    antirules (src/neat_extractors.py count/most_common), generalized to the
    curation-pipeline tf-idf feature."""
    toks = F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias("term")
    pairs = df.select(F.col(id_col).alias("doc_id"), toks).where(F.col("term") != "")
    tf = pairs.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = df.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .join(F.broadcast(n_docs))
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            "term",
            F.col("tf").cast("long").alias("tf"),
            F.col("df").cast("long").alias("df"),
            F.round(
                F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")), 4
            ).alias("tfidf"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("int"))
        .where(F.col("rnk") <= k)
    )


def term_cooccurrence(df: DataFrame, k: int = 100, min_df: int = 1,
                      max_df_ratio: float = 1.0, min_pairs: int = 1,
                      max_terms_per_doc: int | None = None,
                      text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(term_a, term_b, n_ab, n_a, n_b, pmi): top-k term-association pairs by
    pointwise mutual information over document co-occurrence
    (pmi = ln(n_docs * n_ab / (n_a * n_b)), doc-level presence counts,
    term_a < term_b, round 4dp; ties term_a, term_b asc).

    100 TB shape: the within-document pair fan-out is the hazard — it is
    quadratic in distinct terms per doc. Three guards: (a) the df band
    [min_df, max_df_ratio*n_docs] prunes both the head (stopword-like terms
    that pair with everything) and the tail (hapaxes that never reach
    min_pairs) BEFORE the self-join, via a broadcast of the vocabulary-sized
    band; (b) optional max_terms_per_doc caps the per-doc fan-out
    deterministically (alphabetic — reproducible in any engine, unlike a
    sample); (c) the final top-k is orderBy().limit() = TakeOrdered, a
    per-partition k-heap + driver merge, never a global sort. The pair join
    itself is doc_id-keyed — co-located, one shuffle."""
    dt = (
        df.select(
            F.col(id_col).cast("long").alias("doc_id"),
            F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias("term"),
        )
        .where(F.col("term") != "")
        .distinct()
    )
    n_docs = df.agg(F.count(F.lit(1)).alias("n_docs"))
    band = (
        dt.groupBy("term").agg(F.count(F.lit(1)).alias("n_t"))
        .join(F.broadcast(n_docs))
        .where((F.col("n_t") >= min_df)
               & (F.col("n_t") <= F.col("n_docs") * max_df_ratio))
        .select("term", "n_t")
    )
    dtb = dt.join(F.broadcast(band), "term").select("doc_id", "term")
    if max_terms_per_doc is not None:
        from pyspark.sql import Window

        w = Window.partitionBy("doc_id").orderBy("term")
        dtb = (dtb.withColumn("_r", F.row_number().over(w))
               .where(F.col("_r") <= max_terms_per_doc).drop("_r"))
    a, b = dtb.alias("a"), dtb.alias("b")
    pairs = (
        a.join(b, (F.col("a.doc_id") == F.col("b.doc_id"))
               & (F.col("a.term") < F.col("b.term")))
        .groupBy(F.col("a.term").alias("term_a"), F.col("b.term").alias("term_b"))
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .where(F.col("n_ab") >= min_pairs)
    )
    na = band.select(F.col("term").alias("term_a"), F.col("n_t").alias("n_a"))
    nb = band.select(F.col("term").alias("term_b"), F.col("n_t").alias("n_b"))
    return (
        pairs.join(F.broadcast(na), "term_a").join(F.broadcast(nb), "term_b")
        .join(F.broadcast(n_docs))
        .select(
            "term_a", "term_b",
            F.col("n_ab").cast("long").alias("n_ab"),
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            F.round(
                F.log(F.col("n_docs").cast("double") * F.col("n_ab")
                      / (F.col("n_a") * F.col("n_b"))), 4
            ).alias("pmi"),
        )
        .orderBy(F.desc("pmi"), F.asc("term_a"), F.asc("term_b"))
        .limit(k)
    )


def document_fingerprint(df: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id", stride: int = 5) -> DataFrame:
    """(doc_id, fingerprint): order-sensitive digest of every `stride`-th
    lower-cased token (winnowing-style sampled fingerprint, md5-portable)."""
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    sampled = F.filter(toks, lambda t, i: i % stride == 0)
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.md5(F.concat_ws("\x1f", sampled)).alias("fingerprint"),
    )


def word_ngrams(col: Column, n: int) -> Column:
    """array of ALL (non-distinct, order-preserving) n-word grams of
    lower(trim(col)) — the counting variant of dedup.word_shingles (which
    distincts for set semantics). Same let-binding trick: the regex split is
    bound once via F.aggregate over a 1-element array so Catalyst does not
    re-inline it per element (measured 2x+ on the minhash query)."""
    def grams(toks):
        return F.filter(
            F.transform(
                toks,
                lambda x, i: F.when(
                    i + n <= F.size(toks),
                    F.concat_ws(" ", F.slice(toks, i + 1, n)),
                ),
            ),
            lambda s: s.isNotNull(),
        )

    return F.aggregate(
        F.array(F.split(F.lower(F.trim(col)), r"\s+")),
        F.array().cast("array<string>"),
        lambda acc, toks: grams(toks),
    )


def repetition_stats(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """(doc_id, top_bigram, top_bigram_cnt, top_bigram_frac,
    dup_trigram_frac): the Gopher-style within-document repetition quality
    signals (Rae et al. 2021 §A1.1: "fraction of characters in the most
    common n-gram" / "fraction of duplicate n-grams") over word 2/3-grams —
    high values mark boilerplate/spam docs a curation pipeline drops.

    100 TB shape: ONE corpus scan builds both gram arrays row-side (pure
    HOFs, whole-stage codegen), one explode, then a (doc_id, n, gram)
    partial-aggregated shuffle and a doc_id-keyed rollup — map-side combine
    absorbs the within-doc repetition (the very thing being measured), and
    everything is keyed by doc_id so no global structure exists. The top
    bigram is a min(struct(-cnt, gram)) — deterministic tie-break (highest
    count, then gram asc), no per-doc sort. Docs with < 2 tokens have no
    bigram and are (documented) absent from the output."""
    g2 = word_ngrams(F.col(text_col), 2)
    g3 = word_ngrams(F.col(text_col), 3)
    tagged = F.concat(
        F.transform(g2, lambda g: F.struct(F.lit(2).alias("n"), g.alias("gram"))),
        F.transform(g3, lambda g: F.struct(F.lit(3).alias("n"), g.alias("gram"))),
    )
    counts = (
        df.select(F.col(id_col).alias("doc_id"), F.explode(tagged).alias("s"))
        .select("doc_id", F.col("s.n").alias("n"), F.col("s.gram").alias("gram"))
        .groupBy("doc_id", "n", "gram")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    two = F.col("n") == 2
    three = F.col("n") == 3
    per = counts.groupBy("doc_id").agg(
        F.sum(F.when(two, F.col("cnt"))).alias("n_bigrams"),
        F.min(F.when(two, F.struct((-F.col("cnt")).alias("neg"),
                                   F.col("gram").alias("gram")))).alias("top2"),
        F.sum(F.when(three, F.col("cnt"))).alias("n_trigrams"),
        F.sum(F.when(three & (F.col("cnt") > 1), F.col("cnt"))).alias("dup3"),
    )
    return per.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("top2.gram").alias("top_bigram"),
        (-F.col("top2.neg")).cast("long").alias("top_bigram_cnt"),
        F.round((-F.col("top2.neg")).cast("double")
                / F.greatest(F.col("n_bigrams"), F.lit(1)), 4).alias("top_bigram_frac"),
        F.round(F.coalesce(F.col("dup3"), F.lit(0)).cast("double")
                / F.greatest(F.col("n_trigrams"), F.lit(1)), 4).alias("dup_trigram_frac"),
    )


def decontaminate(corpus: DataFrame, eval_df: DataFrame, n: int = 4,
                  text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(doc_id, shared_grams, total_grams, contamination): benchmark
    decontamination — for every corpus document sharing at least one word
    n-gram with the eval/benchmark set, the count of its distinct n-grams
    seen in ANY eval doc and the contaminated fraction (the GPT-3/PaLM
    train-test-overlap check; production uses 13-grams — n is a parameter,
    pinned smaller here for the short synthetic docs).

    100 TB shape: the eval side is a benchmark — thousands of docs, not
    billions — so its distinct gram set is BROADCAST with a hit flag; the
    corpus side is ONE scan + explode + per-doc distinct, left-joined
    map-side, and both counters (total grams, shared grams) come out of a
    single doc_id-keyed aggregation — no second corpus scan and no
    doc-level join (a shared⋈totals join would tempt Catalyst into
    broadcasting the corpus-sized totals side at small SF). Clean docs
    drop at the final filter, so the output is contamination-sized."""
    c_grams = (
        corpus.select(F.col(id_col).alias("doc_id"),
                      F.explode(F.array_distinct(word_ngrams(F.col(text_col), n)))
                      .alias("gram"))
    )
    e_grams = (
        eval_df.select(F.explode(F.array_distinct(word_ngrams(F.col(text_col), n)))
                       .alias("gram"))
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    return (
        c_grams.join(F.broadcast(e_grams), "gram", "left")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("total_grams"),
             F.count("_hit").alias("shared_grams"))
        .where(F.col("shared_grams") > 0)
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.col("shared_grams").cast("long").alias("shared_grams"),
            F.col("total_grams").cast("long").alias("total_grams"),
            F.round(F.col("shared_grams").cast("double") / F.col("total_grams"), 4)
            .alias("contamination"),
        )
    )


def lm_perplexity(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """(doc_id, n_tokens, avg_nll, ppl): per-document perplexity under an
    add-one-smoothed unigram LM fit on the corpus itself — the CCNet-style
    LM quality gate (CCNet buckets docs by LM perplexity; Wenzek et al.
    2020). A production deploy swaps the unigram scorer for a KenLM binary
    inside mapInPandas with no change to the surrounding plan; the unigram
    twin keeps the whole pass relational and cross-engine checkable.

    100 TB shape: fit = ONE token-keyed agg (the LM is |vocab| rows, not
    |corpus|); score = explode + same-key join (AQE reuses the agg's
    partitioning) + doc-keyed agg; totals ride a 1-row broadcast. Float
    discipline: each token's ln p is rounded on a 1e-6 grid and summed as
    LONGS, so the doc sum is order-of-summation-proof; avg_nll/ppl derive
    from that integer."""
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias("w"),
    ).where(F.col("w") != "")
    lm = toks.groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))
    tot = lm.agg(F.sum("cnt").alias("T"), F.count(F.lit(1)).alias("V"))
    scored = (
        toks.join(lm, "w")
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            F.round(
                F.log((F.col("cnt") + 1.0) / (F.col("T") + F.col("V"))) * 1e6
            ).cast("long").alias("l6"),
        )
    )
    n = F.count(F.lit(1))
    avg_nll = -F.col("s") / (F.col("n") * F.lit(1e6))
    return (
        scored.groupBy("doc_id")
        .agg(F.sum("l6").alias("s"), n.alias("n"))
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.col("n").cast("long").alias("n_tokens"),
            F.round(avg_nll, 4).alias("avg_nll"),
            F.round(F.exp(avg_nll), 4).alias("ppl"),
        )
    )


def dsir_weights(corpus: DataFrame, target: DataFrame,
                 text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(doc_id, n_tokens, llr, avg_llr): DSIR-style importance weights
    (Xie et al. 2023, "Data Selection for Language Models via Importance
    Resampling") — per-doc log p_target(x) - p_source(x) under two add-one
    unigram LMs (target = the domain you want more of, source = the raw
    corpus being scored). Resampling keeps docs ∝ exp(llr); the published
    method uses hashed-bigram models — swap the token expression for a
    hashed n-gram and nothing else changes.

    100 TB shape: BOTH LMs are token-keyed aggs (vocab-sized); the corpus
    explodes once and pays one dictionary join against the joined LM table
    (source LM left-joined with target counts; unseen-in-target tokens get
    the add-one floor); totals ride a 1-row broadcast; one doc-keyed agg.
    Same 1e-6-grid long-sum float discipline as lm_perplexity."""
    def toks(df):
        return df.select(
            F.col(id_col).alias("doc_id"),
            F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+"))
            .alias("w"),
        ).where(F.col("w") != "")

    src_toks = toks(corpus)
    src_lm = src_toks.groupBy("w").agg(F.count(F.lit(1)).alias("cnt_s"))
    tgt_lm = toks(target).groupBy("w").agg(F.count(F.lit(1)).alias("cnt_t"))
    # smoothing denominators share the JOINT vocab so the two LMs are
    # comparable; V = |union of vocabularies| (here tgt ⊆ src when target is
    # a corpus slice, but the union form is the general contract)
    lm = src_lm.join(tgt_lm, "w", "full").select(
        "w",
        F.coalesce("cnt_s", F.lit(0)).alias("cnt_s"),
        F.coalesce("cnt_t", F.lit(0)).alias("cnt_t"),
    )
    tot = lm.agg(
        F.sum("cnt_s").alias("Ts"), F.sum("cnt_t").alias("Tt"),
        F.count(F.lit(1)).alias("V"),
    )
    scored = (
        src_toks.join(lm, "w")
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            F.round(
                (F.log((F.col("cnt_t") + 1.0) / (F.col("Tt") + F.col("V")))
                 - F.log((F.col("cnt_s") + 1.0) / (F.col("Ts") + F.col("V"))))
                * 1e6
            ).cast("long").alias("l6"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(F.sum("l6").alias("s"), F.count(F.lit(1)).alias("n"))
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.col("n").cast("long").alias("n_tokens"),
            F.round(F.col("s") / 1e6, 4).alias("llr"),
            F.round(F.col("s") / (F.col("n") * F.lit(1e6)), 4).alias("avg_llr"),
        )
    )


def source_profile(df: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id", source_col: str = "source",
                   lang_col: str = "lang") -> DataFrame:
    """(source, n_docs, n_langs, total_tokens, n_dup_docs, avg_quality):
    per-source curation dashboard — the per-domain view a web-pipeline
    operator reads before deciding crawl weights (docs, language spread,
    token volume, exact-dup rate, mean quality).

    100 TB shape: ONE corpus scan (quality heuristics + content md5 computed
    row-side via quality_stats(keep=...) — no doc_id join-back), then one
    source-keyed aggregation; countDistinct expands to the standard two-phase
    plan. avg_quality is integer-exact: per-doc scores (a 1e-4 grid) are
    scaled to longs BEFORE summing, so the mean is a ratio of two integers —
    order-of-summation-proof across engines, the repo's float convention."""
    qs = quality_stats(
        df, text_col=text_col, id_col=id_col,
        keep={
            "source": F.col(source_col),
            "lang": F.col(lang_col),
            "content_md5": F.md5(F.col(text_col)),
        },
    )
    n = F.count(F.lit(1))
    return qs.groupBy("source").agg(
        n.cast("long").alias("n_docs"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        (n - F.countDistinct("content_md5")).cast("long").alias("n_dup_docs"),
        F.round(
            F.sum(F.round(F.col("quality_score") * 10000).cast("long"))
            / (n * F.lit(10000.0)), 6
        ).alias("avg_quality"),
    )


def quality_deciles(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", source_col: str = "source",
                    buckets: int = 10) -> DataFrame:
    """(source, decile, n_docs, min_score, max_score): per-source quality
    decile cutoffs — the table a curation run reads to set "keep top-X% of
    each source" thresholds (per-source, because a single global cutoff
    just deletes the weakest source wholesale). Score = the quality_score
    composite already used by quality_stats; ties broken by doc_id so the
    bucketing is deterministic and engine-portable.

    100 TB shape: one narrow scoring pass, one source-partitioned Window
    (ntile + deterministic order), one (source, decile) agg that reuses
    the Window's partitioning. Sources are few; if one source dominates
    the corpus its window partition is a single task — the documented
    mitigation is pre-splitting by salted source and merging cutoffs,
    which this table's (min, max, n) contents make associative."""
    from pyspark.sql import Window

    scored = quality_stats(
        df, text_col=text_col, id_col=id_col,
        keep={"source": F.col(source_col)},
    ).select("source", F.col("doc_id").cast("long").alias("doc_id"),
             F.col("quality_score").alias("score"))
    w = Window.partitionBy("source").orderBy("score", "doc_id")
    return (
        scored.withColumn("decile", F.ntile(buckets).over(w))
        .groupBy("source", "decile")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.min("score").alias("min_score"),
             F.max("score").alias("max_score"))
        .select("source", F.col("decile").cast("int").alias("decile"),
                F.col("n_docs").cast("long").alias("n_docs"),
                F.round("min_score", 4).alias("min_score"),
                F.round("max_score", 4).alias("max_score"))
    )


def winnow_selected(df: DataFrame, k: int = 3, w: int = 4,
                    text_col: str = "text", id_col: str = "doc_id"
                    ) -> DataFrame:
    """(doc_id, n_grams, sel) — the winnowing-selected fingerprint ARRAY per
    doc (sorted, distinct md5 strings). The narrow per-row core shared by
    winnow_fingerprint (which collapses sel to one hash) and
    code.clone_pairs (which explodes sel to find documents sharing
    fingerprints). Zero shuffles, zero Python."""
    toks = F.filter(
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+"),
        lambda t: t != "",
    )
    base = df.select(
        F.col(id_col).cast("long").alias("doc_id"), toks.alias("toks")
    ).where(F.size("toks") >= k + w - 1)
    grams = F.transform(
        F.sequence(F.lit(0), F.size("toks") - k),
        lambda i: F.md5(F.concat_ws("\x1f", F.slice("toks", i + 1, k))),
    )
    g = base.select("doc_id", grams.alias("gh"))
    sels = F.transform(
        F.sequence(F.lit(0), F.size("gh") - w),
        lambda i: F.array_min(F.slice("gh", i + 1, w)),
    )
    return g.select(
        "doc_id",
        F.size("gh").cast("long").alias("n_grams"),
        F.array_sort(F.array_distinct(sels)).alias("sel"),
    )


def winnow_fingerprint(df: DataFrame, k: int = 3, w: int = 4,
                       text_col: str = "text", id_col: str = "doc_id"
                       ) -> DataFrame:
    """(doc_id, n_grams, n_selected, fp_hash): winnowing fingerprints
    (Schleimer, Wilkerson & Aiken 2003 — the MOSS local document
    fingerprinting scheme): hash every k-gram, slide a w-hash window, keep
    each window's minimum; the selected set is position-independent and
    guarantees any shared run of >= k + w - 1 tokens shares a fingerprint.
    The "hash" is the gram's md5 STRING and the window minimum is
    lexicographic — portable across engines, no integer-conversion drift.
    Docs too short for one window (n_tokens < k + w - 1) are filtered (no
    gram window exists; the caller's short-doc path is exact dedup).

    100 TB shape: ENTIRELY narrow — per-row array transforms (grams, md5s,
    window mins, distinct, sort) fused into the scan; output is one row
    per doc. Zero shuffles, zero Python."""
    return winnow_selected(df, k, w, text_col, id_col).select(
        "doc_id", "n_grams",
        F.size("sel").cast("long").alias("n_selected"),
        F.md5(F.concat_ws(",", F.col("sel"))).alias("fp_hash"),
    )


# HyperLogLog on a deterministic md5 hash domain: the sketch the task's
# "novel sketch" slot asks for, built so ANY engine computes bit-identical
# registers (Spark's approx_count_distinct and DuckDB's approx sketches are
# engine-private and cannot be cross-checked; this one can).
HLL_P = 8                                   # 2^8 = 256 registers
HLL_M = 1 << HLL_P
HLL_ALPHA = 0.7213 / (1 + 1.079 / HLL_M)    # Flajolet et al. 2007
_HEX = "0123456789abcdef"


def _hexval(c: Column) -> Column:
    """hex digit -> 0..15 via instr on a literal alphabet — the same
    construction the DuckDB oracle uses (strpos), so no conv()/parsing
    semantics can drift between engines."""
    return F.instr(F.lit(_HEX), c) - 1


def hll_distinct(df: DataFrame, group_col: str, value_col: str) -> DataFrame:
    """(group, exact_distinct, hll_estimate, rel_err): per-group distinct
    count, exact AND via a deterministic HyperLogLog (p=8, md5 hash domain,
    Flajolet-Fuster-Gandouet-Meunier 2007 with the small-range linear-
    counting correction). Exact is co-computed so the sketch's error is
    REPORTED next to it — at 100 TB the exact branch is dropped and the
    sketch is the product.

    100 TB shape: one (group, bucket) max-agg — 256 rows per group
    regardless of cardinality, the whole point — then one group-keyed
    fold. The exact branch is the expensive distinct (one extra shuffle)
    and exists here for the error report / oracle check."""
    h = F.md5(F.col(value_col).cast("string"))
    bucket = (_hexval(F.substring(h, 1, 1)) * 16
              + _hexval(F.substring(h, 2, 1)))
    rest = F.substring(h, 3, 30)
    zlen = F.length(F.regexp_extract(rest, "^(0*)", 1))
    first = _hexval(F.substring(
        F.concat(rest, F.lit("f")), zlen + 1, 1))  # pad: all-zero rest
    lead_in_digit = (
        F.when(first >= 8, 0).when(first >= 4, 1).when(first >= 2, 2)
        .otherwise(3)
    )
    rho = (zlen * 4 + lead_in_digit + 1).alias("rho")
    base = df.select(F.col(group_col).alias("grp"),
                     F.col(value_col).alias("v"),
                     bucket.alias("bucket"), rho)
    regs = base.groupBy("grp", "bucket").agg(F.max("rho").alias("mr"))
    folded = regs.groupBy("grp").agg(
        F.sum(F.pow(F.lit(2.0), -F.col("mr"))).alias("s_present"),
        F.count(F.lit(1)).alias("present"),
    )
    m = float(HLL_M)
    s = F.col("s_present") + (F.lit(m) - F.col("present"))
    e_raw = F.lit(HLL_ALPHA * m * m) / s
    zeros = F.lit(m) - F.col("present")
    est = F.when(
        (e_raw <= 2.5 * m) & (zeros > 0),
        F.lit(m) * F.log(F.lit(m) / zeros),
    ).otherwise(e_raw)
    sketch = folded.select("grp", F.round(est, 2).alias("hll_estimate"))
    exact = base.groupBy("grp").agg(
        F.count_distinct("v").alias("exact_distinct"))
    return (
        exact.join(sketch, "grp")
        .select(
            F.col("grp").alias(group_col),
            F.col("exact_distinct").cast("long").alias("exact_distinct"),
            "hll_estimate",
            F.round(F.abs(F.col("hll_estimate") - F.col("exact_distinct"))
                    / F.col("exact_distinct"), 4).alias("rel_err"),
        )
    )


CMS_W = 256      # columns per row (2 hex chars of the salted md5)
CMS_D = 4        # hash rows


def cms_heavy_hitters(df: DataFrame, value_col: str, k: int = 10
                      ) -> DataFrame:
    """(v, exact_n, cms_est, over): Count-Min Sketch frequency estimates
    (Cormode & Muthukrishnan 2005; d=4 salted md5 rows x w=256 columns)
    for the exact top-``k`` heavy hitters, with the exact count and the
    overestimate co-reported. CMS never underestimates (min over rows of
    a sum that includes the true count) — the invariant the test pins.
    Everything is INTEGER math on a deterministic hash domain: the sketch
    is bit-identical in any engine, no float drift possible.

    100 TB shape: sketch state is d*w = 1024 cells total regardless of
    cardinality — one (row, col) sum-agg over the stream (map-side
    combine does almost all of it; 1024 groups). The exact branch (top-k
    + counts) exists for the error report; a 100 TB deployment keeps only
    the cell agg and probes it."""
    from .rank import exact_global_rank

    def col_for(r: int) -> Column:
        h = F.md5(F.concat_ws("\x1f", F.lit(str(r)), F.col("v")))
        return (_hexval(F.substring(h, 1, 1)) * 16
                + _hexval(F.substring(h, 2, 1)))

    vals = df.select(F.col(value_col).alias("v"))
    cells = (
        vals.select(F.explode(F.array(*[
            F.struct(F.lit(r).alias("r"), col_for(r).alias("c"))
            for r in range(CMS_D)
        ])).alias("rc"))
        .select("rc.r", "rc.c")
        .groupBy("r", "c").agg(F.count(F.lit(1)).alias("n"))
    )
    exact = vals.groupBy("v").agg(F.count(F.lit(1)).alias("exact_n"))
    probes = (
        exact_global_rank(exact, [F.desc("exact_n"), F.asc("v")], "rank")
        .where(F.col("rank") <= k).drop("rank")
    )
    probe_cells = probes.select(
        "v", "exact_n",
        F.explode(F.array(*[
            F.struct(F.lit(r).alias("r"), col_for(r).alias("c"))
            for r in range(CMS_D)
        ])).alias("rc"),
    ).select("v", "exact_n", "rc.r", "rc.c")
    return (
        probe_cells.join(F.broadcast(cells), ["r", "c"])
        .groupBy("v", "exact_n")
        .agg(F.min("n").alias("cms_est"))
        .select(
            "v", F.col("exact_n").cast("long").alias("exact_n"),
            F.col("cms_est").cast("long").alias("cms_est"),
            (F.col("cms_est") - F.col("exact_n")).cast("long").alias("over"),
        )
    )


BLOOM_M = 2048   # bits
BLOOM_K = 4      # hash functions (salted md5, 3 hex chars mod m)


def bloom_screen(corpus: DataFrame, eval_set: DataFrame, n: int = 4,
                 text_col: str = "text", id_col: str = "doc_id"
                 ) -> DataFrame:
    """(doc_id, n_grams, bloom_hits, true_hits, false_pos): Bloom-filter
    decontamination screen — the eval set's n-grams are folded into an
    m=2048-bit / k=4 Bloom filter (Bloom 1970) on the salted-md5 domain;
    every corpus doc's distinct n-grams are probed. ``true_hits`` is the
    exact membership count (co-computed), so the filter's false-positive
    count is REPORTED per doc, and the Bloom guarantee (no false
    negatives: bloom_hits >= true_hits) is testable. Integer/string math
    only — the filter is bit-identical in any engine.

    100 TB shape: the filter is <= m rows (bit positions) however large
    the eval set — broadcast to every probe task; the corpus is scanned
    once for grams and pays one doc-keyed agg. The exact branch adds the
    broadcast eval-gram join the plain decontam query uses; a production
    screen drops it and keeps only the O(m) state."""
    def grams(df):
        toks = F.filter(
            F.split(F.lower(F.trim(F.col(text_col))), r"\s+"),
            lambda t: t != "",
        )
        g = F.transform(
            F.sequence(F.lit(0), F.size("toks") - n),
            lambda i: F.concat_ws(" ", F.slice("toks", i + 1, n)),
        )
        return (
            df.select(F.col(id_col).alias("doc_id"), toks.alias("toks"))
            .where(F.size("toks") >= n)
            .select("doc_id", F.explode(g).alias("v")).distinct()
        )

    def positions(col):
        # k salted positions, each from 3 hex chars (4096) mod m
        return F.array(*[
            (
                (_hexval(F.substring(F.md5(F.concat_ws("\x1f", F.lit(str(r)), col)), 1, 1)) * 256
                 + _hexval(F.substring(F.md5(F.concat_ws("\x1f", F.lit(str(r)), col)), 2, 1)) * 16
                 + _hexval(F.substring(F.md5(F.concat_ws("\x1f", F.lit(str(r)), col)), 3, 1)))
                % BLOOM_M
            ).alias(f"p{r}")
            for r in range(BLOOM_K)
        ])

    ev_grams = grams(eval_set).select("v").distinct()
    bits = (
        ev_grams.select(F.explode(positions(F.col("v"))).alias("pos"))
        .distinct()
    )
    cg = grams(corpus)
    probe = cg.select(
        "doc_id", "v", F.posexplode(positions(F.col("v"))).alias("r", "pos")
    )
    hit_counts = (
        probe.join(F.broadcast(bits), "pos", "semi")
        .groupBy("doc_id", "v").agg(F.count(F.lit(1)).alias("set_bits"))
    )
    bloom = (
        hit_counts.where(F.col("set_bits") == BLOOM_K)
        .groupBy("doc_id").agg(F.count(F.lit(1)).alias("bloom_hits"))
    )
    true_hits = (
        cg.join(F.broadcast(ev_grams), "v", "semi")
        .groupBy("doc_id").agg(F.count(F.lit(1)).alias("true_hits"))
    )
    totals = cg.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    return (
        totals.join(bloom, "doc_id", "left").join(true_hits, "doc_id", "left")
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.col("n_grams").cast("long").alias("n_grams"),
            F.coalesce("bloom_hits", F.lit(0)).cast("long").alias("bloom_hits"),
            F.coalesce("true_hits", F.lit(0)).cast("long").alias("true_hits"),
            (F.coalesce("bloom_hits", F.lit(0))
             - F.coalesce("true_hits", F.lit(0))).cast("long").alias("false_pos"),
        )
    )


BM25_K1 = 1.2
BM25_B = 0.75


def bm25_topk(df: DataFrame, query_terms: list[str], k: int = 10,
              text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(doc_id, score, rank): Okapi BM25 (Robertson et al.; Lucene idf
    form ln((N - df + 0.5)/(df + 0.5) + 1)) top-``k`` documents for a
    fixed term set — the lexical retrieval scorer next to the ANN path.
    Per-term contributions land on the 1e-6 long grid before the doc sum
    (order-proof, the repo's float convention).

    100 TB shape: the corpus pays one tokenize scan; tf is a (doc, term)
    agg over the QUERY TERMS ONLY (the filter pushes before the explode's
    shuffle, so the agg input is corpus-sparse); df/avgdl/N ride 1-row or
    |terms|-row broadcasts; top-k via the distributed exact rank."""
    toks = F.explode(
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias("term")
    pairs = df.select(F.col(id_col).cast("long").alias("doc_id"), toks)
    dl = df.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.size(F.filter(
            F.split(F.lower(F.trim(F.col(text_col))), r"\s+"),
            lambda t: t != "")).alias("dl"),
    )
    stats = dl.agg(F.count(F.lit(1)).alias("n_docs"),
                   F.avg("dl").alias("avgdl"))
    qt = pairs.where(F.col("term").isin(*query_terms))
    tf = qt.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            F.round(
                F.log((F.col("n_docs") - F.col("df") + 0.5)
                      / (F.col("df") + 0.5) + 1.0)
                * (F.col("tf") * (BM25_K1 + 1))
                / (F.col("tf") + BM25_K1
                   * (1 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl")))
                * 1e6
            ).cast("long").alias("s6"),
        )
    )
    from .rank import exact_global_rank

    per_doc = scored.groupBy("doc_id").agg(
        F.round(F.sum("s6") / 1e6, 4).alias("score"))
    return (
        exact_global_rank(per_doc, [F.desc("score"), F.asc("doc_id")], "rank")
        .where(F.col("rank") <= k)
        .select("doc_id", "score", F.col("rank").cast("long").alias("rank"))
    )


def rrf_fusion(df: DataFrame, query_terms: list[str], k: int = 10,
               pool: int = 50, c: int = 60,
               text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(doc_id, bm25_rank, tf_rank, rrf, rank): reciprocal-rank fusion
    (Cormack, Clarke & Buettcher 2009) of two retrieval rankings — BM25
    and raw query-term frequency — rrf = sum over lists of 1/(c + rank),
    missing-from-list contributes 0. RRF is THE standard way to fuse the
    lexical and ANN legs of a retrieval stack; the two lexical legs here
    keep the query oracle-pairable end-to-end (the fusion math is
    identical when one leg is the ANN ranking).

    100 TB shape: both legs end in pool-sized frames (exact top-``pool``),
    so the fusion join/sort is constant-sized whatever the corpus."""
    bm = bm25_topk(df, query_terms, k=pool, text_col=text_col,
                   id_col=id_col).select(
        "doc_id", F.col("rank").alias("bm25_rank"))
    toks = F.explode(
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias("term")
    qtf = (
        df.select(F.col(id_col).cast("long").alias("doc_id"), toks)
        .where(F.col("term").isin(*query_terms))
        .groupBy("doc_id").agg(F.count(F.lit(1)).alias("tf"))
    )
    from .rank import exact_global_rank

    tfr = (
        exact_global_rank(qtf, [F.desc("tf"), F.asc("doc_id")], "rank")
        .where(F.col("rank") <= pool)
        .select("doc_id", F.col("rank").alias("tf_rank"))
    )
    fused = bm.join(tfr, "doc_id", "full").select(
        "doc_id", "bm25_rank", "tf_rank",
        F.round(
            F.coalesce(1.0 / (F.col("bm25_rank") + c), F.lit(0.0))
            + F.coalesce(1.0 / (F.col("tf_rank") + c), F.lit(0.0)), 6,
        ).alias("rrf"),
    )
    return (
        exact_global_rank(fused, [F.desc("rrf"), F.asc("doc_id")], "rank")
        .where(F.col("rank") <= k)
        .select("doc_id",
                F.col("bm25_rank").cast("long").alias("bm25_rank"),
                F.col("tf_rank").cast("long").alias("tf_rank"),
                "rrf", F.col("rank").cast("long").alias("rank"))
    )
