"""The 4-stage KG-construction pipeline with keyed resume.

stage 1  mentions   corpus -> MENTIONS + entities   (gazetteer + rules + caps
                                                     + frequency antirules,
                                                     weighted vote)
stage 2  linking    mentions -> alias edges          (MinHash/LSH + Jaccard)
stage 3  cc         edges -> COMPONENTS              (iterative min-label)
stage 4  triples    corpus ⋈ entities ⋈ components -> TRIPLES partitioned by pred

Every stage writes its output table atomically (overwrite) to the warehouse
and appends per-partition checkpoint rows; ``run()`` skips stages already
recorded for the same run_id (resume = restart with the same run_id).

Stage 1 is one labeler pass and one table, ``s1_combined``, partitioned by
kind. The weighted vote is row-local, so on the default path (aggregator
'vote', frequency top-k within MAX_BROADCAST_VOCAB) the labeler folds each
row's votes into one kind='e' entity row and writes no votes; ``s1b`` is
then a narrow projection of those rows. The hmm aggregator (corpus-global
EM) and the oversized-vocabulary fallback (votes from a separate pass)
write kind='v' vote rows, and ``s1b`` aggregates them. Which of the two a
stage 1 stored is recorded on its checkpoint rows (FOLDED_VOTE), so a
resumed ``s1b`` takes the right path, and an hmm resume of a folded stage 1
is refused rather than decoded over no votes.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .corpus import DEFAULT_GAZETTEER
from .operators import antirules as ar
from .operators.aggregate import predicted_entities, weighted_vote
from .operators.components import connected_components
from .operators.linking import link_surfaces
from .operators.tokens import char_token_view
from .operators.triples import build_triples, dedup_triples, sha_invariant_audit
from .storage import catalog as cat
from .storage import checkpoint as ck


@dataclass
class PipelineConfig:
    warehouse: str
    run_id: str = "run0"
    gazetteer: dict[str, float] = field(default_factory=lambda: dict(DEFAULT_GAZETTEER))
    # vote aggregator: 'vote' = weighted majority (single groupBy);
    # 'hmm' = distributed Baum-Welch EM (SURVEY §2.4 A3), the reference's
    # skweak HMM analog (run_sweet.py:60-65).
    aggregator: str = "vote"
    # Known corpus row count, when the caller has one (bench/submit generate
    # the corpus and know it; a resume re-run can read it from the s1
    # checkpoint). When set and <= AUDIT_BROADCAST_MAX_ROWS, the stage-4 sha
    # audit broadcasts the distinct corpus-sha side and probes the written
    # triples raw — identical result set, zero exchange on the triples side
    # (see sha_invariant_audit). None (default) keeps the shuffle plan: the
    # only shape that survives a corpus whose distinct shas exceed one
    # executor's memory, so the scale-safe path needs no hint.
    corpus_rows_hint: int | None = None


# Broadcast the audit's corpus-sha set only when the corpus is known to be
# small enough that the collected set is a few hundred MB at worst (4M shas
# x ~100 B ≈ 400 MB against the bench's 4 GB/core heaps). Above the cutoff —
# and whenever the size is unknown — the audit keeps its shuffle plan.
AUDIT_BROADCAST_MAX_ROWS = 4_000_000

# Frequency top-k lists up to this many tokens are collected and broadcast
# as a dict into the fused labeler (reference vocabularies are 10k-30k
# entries); larger ones are ranked distributed and voted by a broadcast
# join (_frequency_inputs).
MAX_BROADCAST_VOCAB = 1_000_000

# Counter on the s1 checkpoint rows: 1 when the labeler folded the vote
# into kind='e' entity rows and stored no votes.
FOLDED_VOTE = "folded_vote"


def _frequency_inputs(corpus: DataFrame):
    """Corpus-global frequency pass (the reference's own two-pass barrier,
    sweet/create_lfs.py:17-34): one Arrow partial-count scan + hash agg
    shuffle, tokenized by the fused labeler's own tokenizer. Returns
    (common_ranks dict | None, cutoffs, fallback_votes DataFrame | None):
    the dict when the top-k fits the broadcast budget, else the NOT_NAME
    votes of the relational broadcast-join fallback. Both shapes rank the
    same aggregate and see the same tokens, so they yield the same votes.

    Serial-floor discipline (this block was the scaling bottleneck the
    per-stage bench decomposition exposed — s1_freq efficiency 0.40):
    the root cause is AQE partition coalescing — a vocabulary-sized
    aggregate output (~tens of MB) sits under the advisory partition
    size, so AQE collapses the FINAL aggregation to one partition and
    every downstream step (cache build, count, sort, collect) runs as a
    single task at any core count.  So: coalescing is disabled around
    this block only (the vocab agg is the one frame in the pipeline
    small enough to trigger it yet hot enough to matter), the aggregate
    is cached COLUMNAR (MEMORY_AND_DISK — an oversized vocabulary spills
    to local disk instead of OOMing, so no pre-probe is needed), its
    exact size comes from a parallel count that also materializes the
    cache, and only the top ``max(THRESHOLDS)`` fraction — the only part
    ever ranked — is collected, ordered by TakeOrderedAndProject over
    the cached multi-partition frame (per-partition bounded top-k,
    driver merge; no full-vocab single task and no driver-side Python
    sort). The (-cnt, first_seen) order is total — one token per
    (row, pos) — so the collected prefix is deterministic. Above the
    budget the same cached aggregate is ranked by the distributed exact
    rank (operators/rank.py): correct at 10^9 tokens."""
    from pyspark import StorageLevel

    from .operators.rank import exact_global_rank

    spark = corpus.sparkSession
    coalesce_key = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(coalesce_key, "true")
    spark.conf.set(coalesce_key, "false")
    # Arrow partial-count scan: same C tokenizer as the fused labeler, one
    # vocab-sized partial per batch — no 25x JVM-regex token explode
    agg = ar.word_frequency_agg_arrow(corpus).persist(
        StorageLevel.MEMORY_AND_DISK)
    try:
        vocab_size = agg.count()
        cutoffs = ar.frequency_cutoffs(vocab_size)
        max_k = max(k for _, k in cutoffs)
        order = [F.desc("cnt"), F.asc("first_seen")]
        if max_k <= MAX_BROADCAST_VOCAB:
            head = agg.orderBy(*order).limit(max_k).collect()
            ranks = {r["tok"]: i + 1 for i, r in enumerate(head)}
            return ranks, cutoffs, None
        # exact_global_rank materializes its input (localCheckpoint), so the
        # ranked frame outlives the cached aggregate
        freq = exact_global_rank(agg, order, "rank")
    finally:
        agg.unpersist()
        spark.conf.set(coalesce_key, prev)
    return None, cutoffs, ar.frequency_votes(char_token_view(corpus), freq,
                                             cutoffs)


def stage1_combined(corpus: DataFrame, gazetteer: dict[str, float],
                    freq_inputs: tuple | None = None,
                    entities: bool = False) -> DataFrame:
    """Fused stage 1 -> the S1_COMBINED frame. With ``entities`` and the
    frequency top-k inside the broadcast budget, the labeler folds the votes
    into kind='e' entity rows. Otherwise it emits kind='v' vote rows; when
    the top-k exceeds the budget, the relational fallback's votes are
    unioned in as more kind='v' rows, so stage 1 is one table either way.
    ``freq_inputs`` lets the caller pre-run (and sub-time) the frequency
    pass."""
    from .operators import fused

    ranks, cutoffs, fallback_votes = (
        freq_inputs if freq_inputs is not None else _frequency_inputs(corpus))
    # through the module attribute, so a wrapped fused_stage1 is the one run
    combined = fused.fused_stage1(
        corpus, gazetteer, common_ranks=ranks, freq_cutoffs=cutoffs,
        entities=entities and fallback_votes is None)
    if fallback_votes is not None:
        combined = combined.unionByName(
            fused.votes_as_combined(fallback_votes))
    return combined


def stage1_mentions(corpus: DataFrame, gazetteer: dict[str, float]
                    ) -> tuple[DataFrame, DataFrame]:
    """-> (mentions, votes): corpus-global frequency agg (pass 1) -> ONE
    Arrow pass emitting all mentions + votes (pass 2), split by kind."""
    from .operators.fused import split_mentions, split_votes

    combined = stage1_combined(corpus, gazetteer)
    return split_mentions(combined), split_votes(combined)


def _read_mentions(spark: SparkSession, wh: str) -> DataFrame:
    """Stage-1 mentions: a kind-filtered projection of the stored combined
    table (parquet pushdown)."""
    from .operators.fused import split_mentions

    return split_mentions(cat.read_table(spark, wh, "s1_combined"))


def _observed_count(df: DataFrame, name: str):
    """Attach an Observation so the write action itself yields the row count —
    no separate count() job (one fewer corpus-scale pass per stage)."""
    from pyspark.sql import Observation

    obs = Observation(name)
    return df.observe(obs, F.count(F.lit(1)).alias("n")), obs


@contextmanager
def _timed(timings: dict | None, key: str):
    """Record a stage block's wall time into ``timings`` (no-op when None).
    Stage blocks end in an action (table write / checkpoint record), so the
    block wall IS the stage wall — used by the bench to decompose end-to-end
    scaling into per-stage scaling (BASELINE.md protocol)."""
    t0 = time.monotonic()
    try:
        yield
    finally:
        if timings is not None:
            timings[key] = round(time.monotonic() - t0, 3)


def run(spark: SparkSession, corpus: DataFrame, cfg: PipelineConfig,
        timings: dict | None = None) -> DataFrame:
    """Execute (or resume) the full pipeline; returns the triples DataFrame
    read back from the warehouse.

    Job-count discipline (local overhead AND cluster scheduler load): stage
    row counts ride the write actions via ``df.observe`` instead of separate
    count() jobs; completed stages are read once per run, not per stage.
    """
    if cfg.aggregator not in ("vote", "hmm"):
        raise ValueError(f"unknown aggregator {cfg.aggregator!r}: "
                         "expected 'vote' or 'hmm'")
    wh = cfg.warehouse
    os.makedirs(wh, exist_ok=True)
    done = ck.completed_stages(wh, cfg.run_id)

    # ---- stage 1
    mentions = None
    if "s1" not in done:
        with _timed(timings, "s1"):
            # sub-time the corpus-global frequency pass (pass 1 of 2) so
            # the committed stage decomposition separates it from the
            # labeling pass + write: it is a full corpus scan with its own
            # shuffle and scales differently.
            with _timed(timings, "s1_freq"):
                freq_inputs = _frequency_inputs(corpus)
            # ONE corpus pass, ONE write: the combined frame (mentions plus
            # entity rows, or vote rows for hmm and the vocabulary fallback)
            # IS the stage-1 table; s2 and s1b read kind-filtered
            # projections of the stored copy. partitionBy(kind) prunes those
            # reads at directory level (no repartition — each task writes
            # every kind dir, write parallelism intact). NOTE: a
            # localCheckpoint of this frame was tried and is 4x SLOWER — 26M
            # rows pinned as deserialized JVM objects blow the heap; the
            # columnar zstd round-trip through the stored table is the
            # cheap path.
            corpus_in, in_obs = _observed_count(corpus, "s1_in")
            # the labeler folds the vote unless hmm needs the votes or the
            # vocabulary fallback's votes come from a separate pass
            folded = cfg.aggregator == "vote" and freq_inputs[2] is None
            combined = stage1_combined(corpus_in, cfg.gazetteer,
                                       freq_inputs=freq_inputs,
                                       entities=folded)
            cat.write_table(combined, wh, "s1_combined", partition_by=["kind"])
            rows_in = int(in_obs.get["n"])
            mentions = _read_mentions(spark, wh)
            # per-partition lineage from the written files' parquet footers —
            # driver-side metadata read, NO table re-scan job (mentions = the
            # kind=m partition of the combined table).
            pstats_rows = ck.partition_stats_files(
                os.path.join(wh, "s1_combined", "kind=m"))
            rows_out = sum(n for _, n in pstats_rows)
            ck.record_stage(spark, wh, cfg.run_id, "s1",
                            partition_rows=pstats_rows, rows_in=rows_in,
                            rows_out=rows_out,
                            counters={**ck.LINEAGE_SOURCE_FILES,
                                      FOLDED_VOTE: int(folded)})
    if mentions is None:
        mentions = _read_mentions(spark, wh)

    # ---- per-row entities (part of stage 1 output contract)
    entities = None
    if "s1b" not in done:
        with _timed(timings, "s1b"):
            from .operators.fused import split_entities, split_votes

            s1 = cat.read_table(spark, wh, "s1_combined")
            # which rows stage 1 holds is recorded with its checkpoint, not
            # probed in the table: the check costs no Spark job and holds
            # under any catalog
            folded = ck.stage_counters(wh, cfg.run_id, "s1").get(FOLDED_VOTE)
            if cfg.aggregator == "hmm":
                from .operators.hmm import hmm_decode, hmm_fit

                if folded:
                    raise ValueError(
                        f"run {cfg.run_id!r}: stage 1 was written by the "
                        "'vote' aggregator, which folds the votes into "
                        "entity rows; re-run stage 1 with a new run_id")
                votes = split_votes(s1)
                # token counts from the labeler's own tokenizer, which
                # its vote positions come from (not the JVM regex)
                doc_lens = char_token_view(corpus).groupBy("row_id").agg(
                    F.count("*").cast("int").alias("n_toks"))
                params = hmm_fit(votes, doc_lens)
                ents = predicted_entities(hmm_decode(votes, doc_lens, params))
            elif folded:
                # the labeler folded the vote: a narrow projection
                ents = split_entities(s1)
            else:
                # the vocabulary fallback's votes, or a stage 1 the hmm
                # aggregator wrote; votes carry tok: no corpus re-join
                ents = predicted_entities(weighted_vote(split_votes(s1)))
            ents, obs = _observed_count(ents, "s1b")
            cat.write_table(ents, wh, "entities")
            ck.record_stage(spark, wh, cfg.run_id, "s1b", rows_out=obs.get["n"],
                            counters={"aggregator_hmm": 1 if cfg.aggregator == "hmm" else 0})
    if entities is None:
        entities = cat.read_table(spark, wh, "entities")

    # ---- stage 2
    if "s2" not in done:
        with _timed(timings, "s2"):
            edges, dropped_blocks = link_surfaces(mentions)
            edges, obs = _observed_count(edges, "s2")
            cat.write_table(edges, wh, "edges")
            n_edges = obs.get["n"]
            ck.record_stage(spark, wh, cfg.run_id, "s2", rows_out=n_edges,
                            counters={"dropped_blocks":
                                      dropped_blocks(n_edges)})
    edges = cat.read_table(spark, wh, "edges")

    # ---- stage 3
    if "s3" not in done:
        with _timed(timings, "s3"):
            comps = connected_components(edges)
            comps, obs = _observed_count(comps, "s3")
            cat.write_table(comps, wh, "components")
            ck.record_stage(spark, wh, cfg.run_id, "s3", rows_out=obs.get["n"])
    comps = cat.read_table(spark, wh, "components")

    # ---- stage 4
    if "s4" not in done:
        with _timed(timings, "s4"):
            triples = dedup_triples(build_triples(corpus, entities, comps))
            # write straight off the dedup agg: its hash exchange on
            # (subj, pred, obj) already spreads rows uniformly across all
            # tasks (every core writes; each task emits at most |preds|
            # files under partitionBy), so the former
            # repartition(n, "pred", "subj") was a second full-table
            # shuffle buying nothing — a repartition on pred ALONE would
            # collapse to |preds| tasks, which is why it hashed (pred,
            # subj), but the agg's (subj, pred, obj) hash subsumes that.
            # AQE's coalescing keeps >= defaultParallelism partitions
            # (coalescePartitions.parallelismFirst=true default), so the
            # encode stays parallel at small sizes too.
            with _timed(timings, "s4_write"):
                cat.write_table(triples, wh, "triples", partition_by=["pred"])
            # audit the WRITTEN table (what consumers will read): auditing the
            # lazy frame before the write executed the whole stage-4 plan twice;
            # the read-back scan prunes to the single lineage.sha column.
            with _timed(timings, "s4_audit"):
                audit = sha_invariant_audit(
                    corpus, cat.read_table(spark, wh, "triples"),
                    broadcast_src=(
                        cfg.corpus_rows_hint is not None
                        and cfg.corpus_rows_hint <= AUDIT_BROADCAST_MAX_ROWS))
                sha_ok = audit.limit(1).count() == 0
            # lineage from the written files' footers (no re-scan job)
            pstats_rows = ck.partition_stats_files(os.path.join(wh, "triples"))
            rows_out = sum(n for _, n in pstats_rows)
            ck.record_stage(spark, wh, cfg.run_id, "s4",
                            partition_rows=pstats_rows, rows_out=rows_out,
                            sha_ok=sha_ok,
                            counters=ck.LINEAGE_SOURCE_FILES)
    return cat.read_table(spark, wh, "triples")
