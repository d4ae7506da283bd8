"""The 4-stage KG-construction pipeline with keyed resume.

stage 1  mentions   corpus -> MENTIONS + VOTES      (gazetteer + rules + caps
                                                     + frequency antirules)
stage 2  linking    mentions -> alias edges          (MinHash/LSH + Jaccard)
stage 3  cc         edges -> COMPONENTS              (iterative min-label)
stage 4  triples    corpus ⋈ entities ⋈ components -> TRIPLES partitioned by pred

Every stage writes its output table atomically (overwrite) to the warehouse
and appends per-partition checkpoint rows; ``run()`` skips stages already
recorded for the same run_id (resume = restart with the same run_id).
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
from .operators.tokens import token_view, with_tokens
from .operators.triples import build_triples, dedup_triples, sha_invariant_audit
from .storage import catalog as cat
from .storage import checkpoint as ck


@dataclass
class PipelineConfig:
    warehouse: str
    run_id: str = "run0"
    gazetteer: dict[str, float] = field(default_factory=lambda: dict(DEFAULT_GAZETTEER))
    vote_threshold: float = 0.0
    lsh_bands: int = 8
    lsh_min_jaccard: float = 0.5
    lsh_max_block: int = 50
    frequency_antirules: bool = True
    # frequency top-k lists larger than this fall back from the fused
    # broadcast-dict path to the relational broadcast-join path.
    max_broadcast_vocab: int = 1_000_000
    cc_max_iter: int = 20
    # vote aggregator: 'vote' = weighted majority (single groupBy);
    # 'hmm' = distributed Baum-Welch EM (SURVEY §2.4 A3), the reference's
    # skweak HMM analog (run_sweet.py:60-65).
    aggregator: str = "vote"
    hmm_iter: int = 5
    # >0 -> co-located stage-4 join: corpus and entities are ALSO written as
    # row_id-bucketed tables (this many buckets), so the corpus ⋈ entities
    # join runs with NO Exchange on either side (the write-side distribution
    # replaces the join-time shuffle — the 100 TB pattern for a table joined
    # on the same key every run). The parquet stage tables remain the durable
    # resume format (the session catalog is in-memory without a metastore);
    # on Iceberg the bucketing is a bucket(n, row_id) partition transform on
    # the table itself — one write, not two.
    bucket_buckets: int = 0
    # Known corpus row count, when the caller has one (bench/submit generate
    # the corpus and know it; a resume re-run can read it from the s1
    # checkpoint). When set and <= AUDIT_BROADCAST_MAX_ROWS, the stage-4 sha
    # audit broadcasts the distinct corpus-sha side and probes the written
    # triples raw — identical result set, zero exchange on the triples side
    # (see sha_invariant_audit). None (default) keeps the shuffle plan: the
    # only shape that survives a corpus whose distinct shas exceed one
    # executor's memory, so the scale-safe path needs no hint.
    corpus_rows_hint: int | None = None
    # 'write-fast' (default): triples land in the dedup agg's arrival order
    # — zero extra work on the write path. 'read-optimized': one
    # repartitionByRange(pred, subj) + sortWithinPartitions(subj, obj)
    # before the write lays each pred directory out as near-disjoint subj
    # ranges per file, so entity point-lookups (WHERE subj = ...) skip
    # whole files/row-groups on parquet min/max stats. Costs one extra
    # full-table range shuffle inside the write — the standard layout
    # investment for a KG written once and read many times (on Iceberg this
    # is the table's sort order; here it is the write-side distribution).
    triples_layout: str = "write-fast"


# Broadcast the audit's corpus-sha set only when the corpus is known to be
# small enough that the collected set is a few hundred MB at worst (4M shas
# x ~100 B ≈ 400 MB against the bench's 4 GB/core heaps). Above the cutoff —
# and whenever the size is unknown — the audit keeps its shuffle plan.
AUDIT_BROADCAST_MAX_ROWS = 4_000_000


def _frequency_inputs(corpus: DataFrame, cfg: PipelineConfig):
    """Corpus-global frequency pass (the reference's own two-pass barrier,
    sweet/create_lfs.py:17-34): one Arrow partial-count scan + hash agg
    shuffle. Returns (common_ranks dict | None, cutoffs, freq DataFrame |
    None, tview | None): dict when the top-k fits the broadcast budget,
    else the relational fallback inputs.

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
    (row, pos) — so the collected prefix is deterministic. The
    distributed exact rank (operators/rank.py) remains the
    oversized-vocabulary fallback: correct at 10^9 tokens."""
    from pyspark import StorageLevel

    spark = corpus.sparkSession
    budget = cfg.max_broadcast_vocab
    coalesce_key = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(coalesce_key, "true")
    spark.conf.set(coalesce_key, "false")
    # Arrow partial-count scan: same C tokenizer as the fused labeler, one
    # vocab-sized partial per batch — no 25x JVM-regex token explode
    agg = ar.word_frequency_agg_arrow(corpus).persist(
        StorageLevel.MEMORY_AND_DISK)
    try:
        vocab_size = agg.count()
        if vocab_size <= budget:
            max_k = max(int(vocab_size * t) for t in ar.THRESHOLDS)
            cutoffs = [(f"freq_{t}", int(vocab_size * t))
                       for t in ar.THRESHOLDS]
            head = (agg.orderBy(F.desc("cnt"), F.asc("first_seen"))
                    .limit(max_k).collect())
            ranks = {r["tok"]: i + 1 for i, r in enumerate(head)}
            return ranks, cutoffs, None, None
    finally:
        agg.unpersist()
        spark.conf.set(coalesce_key, prev)
    # oversized vocabulary: relational fallback (distributed exact rank)
    tview = token_view(with_tokens(corpus))
    freq = ar.word_frequency(tview).cache()
    vocab_size = freq.count()
    max_k = max(int(vocab_size * t) for t in ar.THRESHOLDS)
    cutoffs = [(f"freq_{t}", int(vocab_size * t)) for t in ar.THRESHOLDS]
    if max_k <= cfg.max_broadcast_vocab:
        ranks = {r["tok"]: r["rank"]
                 for r in freq.where(F.col("rank") <= max_k).collect()}
        freq.unpersist()
        return ranks, cutoffs, None, None
    return None, cutoffs, freq, tview


def stage1_combined(corpus: DataFrame, cfg: PipelineConfig,
                    freq_inputs: tuple | None = None
                    ) -> tuple[DataFrame, DataFrame | None]:
    """Fused stage 1 -> (combined S1_COMBINED frame, extra relational votes
    or None). extra votes appear only when the frequency vocabulary exceeds
    the broadcast budget (relational join fallback). ``freq_inputs`` lets the
    caller pre-run (and sub-time) the frequency pass."""
    from .operators.fused import fused_stage1

    ranks, cutoffs, freq, tview = (None, [], None, None)
    if cfg.frequency_antirules:
        ranks, cutoffs, freq, tview = (
            freq_inputs if freq_inputs is not None
            else _frequency_inputs(corpus, cfg))
    combined = fused_stage1(
        corpus, cfg.gazetteer,
        common_ranks=ranks, freq_cutoffs=cutoffs if ranks else [],
    )
    extra = None
    if cfg.frequency_antirules and ranks is None:
        # vocabulary too large to broadcast as a dict: relational
        # broadcast-join fallback (one extra tokenize scan).
        extra = ar.frequency_votes(tview, freq)
    return combined, extra


def stage1_mentions(corpus: DataFrame, cfg: PipelineConfig) -> tuple[DataFrame, DataFrame]:
    """-> (mentions, votes): corpus-global frequency agg (pass 1) -> ONE
    Arrow pass emitting all mentions + votes (pass 2), split by kind."""
    from .operators.fused import split_mentions, split_votes

    combined, extra_votes = stage1_combined(corpus, cfg)
    votes = split_votes(combined)
    if extra_votes is not None:
        votes = votes.unionByName(extra_votes)
    return split_mentions(combined), votes


def _read_mentions(spark: SparkSession, wh: str) -> DataFrame:
    """Stage-1 mentions: a kind-filtered projection of the stored combined
    table (parquet pushdown)."""
    from .operators.fused import split_mentions

    return split_mentions(cat.read_table(spark, wh, "s1_combined"))


def _read_votes(spark: SparkSession, wh: str) -> DataFrame:
    from .operators.fused import split_votes

    votes = split_votes(cat.read_table(spark, wh, "s1_combined"))
    if cat.table_exists(spark, wh, "votes_extra"):
        votes = votes.unionByName(cat.read_table(spark, wh, "votes_extra"))
    return votes


def _bucket_table_name(warehouse: str, run_id: str, table: str) -> str:
    """Session-catalog name for a run's bucketed stage-4 input. Sanitizing
    alone collides ('a-b' and 'a.b' both -> 'a_b'), and run_ids repeat across
    warehouses, so a short hash of (warehouse, run_id) disambiguates."""
    import hashlib
    import re

    tag = hashlib.sha256(f"{warehouse}\0{run_id}".encode()).hexdigest()[:10]
    return re.sub(r"[^0-9a-zA-Z_]", "_", f"b_{run_id}") + f"_{tag}_{table}"


def _bucketed_stage4_inputs(spark: SparkSession, corpus: DataFrame,
                            entities: DataFrame, cfg: PipelineConfig
                            ) -> tuple[DataFrame, DataFrame]:
    """Write corpus + entities as row_id-bucketed tables and return bucketed
    readers: the stage-4 row_id join then needs no Exchange on either side
    (asserted by tests/test_bucketing.py).

    The write is UNCONDITIONAL overwrite: an exists-skip keyed on table name
    silently joined stage 4 against a stale bucketed corpus when a later
    run() in the same session reused a run_id with a different input. Stage
    4 itself is already resume-gated ('s4' in completed stages), so a true
    resume never reaches this code path twice."""
    n = cfg.bucket_buckets
    ct = _bucket_table_name(cfg.warehouse, cfg.run_id, "corpus")
    et = _bucket_table_name(cfg.warehouse, cfg.run_id, "entities")
    cat.write_bucketed(corpus, ct, ["row_id"], n, sort_cols=["row_id"])
    cat.write_bucketed(entities, et, ["row_id"], n, sort_cols=["row_id"])
    return cat.read_bucketed(spark, ct), cat.read_bucketed(spark, et)


def _observed_count(df: DataFrame, name: str):
    """Attach an Observation so the write action itself yields the row count —
    no separate count() job (one fewer corpus-scale pass per stage)."""
    from pyspark.sql import Observation

    obs = Observation(name)
    return df.observe(obs, F.count(F.lit(1)).alias("n")), obs


def near_dup_run(spark: SparkSession, docs: DataFrame, cfg: PipelineConfig,
                 text_col: str = "text", id_col: str = "doc_id", k: int = 3,
                 num_bands: int = 8, min_shared_bands: int = 2,
                 max_block: int = 500) -> DataFrame:
    """Checkpointed MinHash near-duplicate pass over a documents frame.

    The standalone operator RETURNS (pairs, dropped_blocks); run as a
    pipeline entry the dropped-block count is also durably RECORDED in the
    run's checkpoint counters — a 100 TB dedup whose hub-skew guard silently
    discards blocks is unauditable. Resume-gated like the KG stages."""
    from .operators import dedup as dd

    wh = cfg.warehouse
    os.makedirs(wh, exist_ok=True)
    if "dedup" not in ck.completed_stages(spark, wh, cfg.run_id):
        sigs = dd.doc_minhash(docs, text_col=text_col, id_col=id_col, k=k,
                              num_bands=num_bands)
        pairs, dropped = dd.minhash_dupe_pairs(
            sigs, min_shared_bands=min_shared_bands, max_block=max_block)
        pairs, obs = _observed_count(pairs, "dedup")
        cat.write_table(pairs, wh, "dup_pairs")
        ck.record_stage(spark, wh, cfg.run_id, "dedup", rows_out=obs.get["n"],
                        counters={"dropped_blocks": dropped.count(),
                                  "max_block": max_block})
    return cat.read_table(spark, wh, "dup_pairs")


def embedding_dedup_run(spark: SparkSession, vectors: DataFrame,
                        cfg: PipelineConfig, min_cosine: float = 0.95,
                        bits: int = 6, max_block: int = 1000) -> DataFrame:
    """Checkpointed embedding near-duplicate pass (sign-bucket blocking +
    exact cosine verify); dropped oversized buckets land in checkpoint
    counters, same contract as near_dup_run."""
    from .operators.similarity import embedding_near_dupes

    wh = cfg.warehouse
    os.makedirs(wh, exist_ok=True)
    if "embdedup" not in ck.completed_stages(spark, wh, cfg.run_id):
        pairs, dropped = embedding_near_dupes(
            vectors, min_cosine=min_cosine, bits=bits, max_block=max_block)
        pairs, obs = _observed_count(pairs, "embdedup")
        cat.write_table(pairs, wh, "emb_dup_pairs")
        ck.record_stage(spark, wh, cfg.run_id, "embdedup",
                        rows_out=obs.get["n"],
                        counters={"dropped_blocks": dropped.count(),
                                  "max_block": max_block})
    return cat.read_table(spark, wh, "emb_dup_pairs")


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
    wh = cfg.warehouse
    os.makedirs(wh, exist_ok=True)
    done = ck.completed_stages(spark, wh, cfg.run_id)

    # ---- stage 1
    mentions = votes = None
    if "s1" not in done:
        with _timed(timings, "s1"):
            freq_inputs = None
            if cfg.frequency_antirules:
                # sub-time the corpus-global frequency pass (pass 1 of 2)
                # so the committed stage decomposition separates it from
                # the labeling pass + write: it is a full corpus scan with
                # its own shuffle and scales differently.
                with _timed(timings, "s1_freq"):
                    freq_inputs = _frequency_inputs(corpus, cfg)
            # ONE corpus pass, ONE write: the combined mention+vote frame IS
            # the stage-1 table; mentions/votes are kind-filtered projections
            # of the stored copy. partitionBy(kind) prunes those reads at
            # directory level (no repartition — each task writes both kind
            # dirs, write parallelism intact). NOTE: a localCheckpoint of
            # this frame was tried and is 4x SLOWER — 26M rows pinned as
            # deserialized JVM objects blow the heap; the columnar zstd
            # round-trip through the stored table is the cheap path.
            corpus_in, in_obs = _observed_count(corpus, "s1_in")
            combined, extra_votes = stage1_combined(corpus_in, cfg,
                                                    freq_inputs=freq_inputs)
            cat.write_table(combined, wh, "s1_combined", partition_by=["kind"])
            rows_in = int(in_obs.get["n"])
            if extra_votes is not None:
                cat.write_table(extra_votes, wh, "votes_extra")
            mentions = _read_mentions(spark, wh)
            votes = _read_votes(spark, wh)
            # per-partition lineage from the written files' parquet footers —
            # driver-side metadata read, NO table re-scan job (mentions = the
            # kind=m partition of the combined table).
            pstats_rows = ck.partition_stats_files(
                os.path.join(wh, "s1_combined", "kind=m"))
            rows_out = sum(n for _, n in pstats_rows)
            ck.record_stage(spark, wh, cfg.run_id, "s1",
                            partition_rows=pstats_rows, rows_in=rows_in,
                            rows_out=rows_out, counters=ck.LINEAGE_SOURCE_FILES)
    if mentions is None:
        mentions = _read_mentions(spark, wh)
        votes = _read_votes(spark, wh)

    # ---- aggregate votes -> per-row entities (part of stage 1 output contract)
    entities = None
    if "s1b" not in done:
        with _timed(timings, "s1b"):
            if cfg.aggregator == "hmm":
                from .operators.hmm import hmm_decode, hmm_fit

                doc_lens = with_tokens(corpus).select(
                    "row_id", F.size("tokens").alias("n_toks")
                )
                params = hmm_fit(votes, doc_lens, n_iter=cfg.hmm_iter)
                agg = hmm_decode(votes, doc_lens, params)
            else:
                agg = weighted_vote(votes, threshold=cfg.vote_threshold)
            ents = predicted_entities(agg)  # votes carry tok: no corpus re-join
            ents, obs = _observed_count(ents, "s1b")
            cat.write_table(ents, wh, "entities")
            ck.record_stage(spark, wh, cfg.run_id, "s1b", rows_out=obs.get["n"],
                            counters={"aggregator_hmm": 1 if cfg.aggregator == "hmm" else 0})
    if entities is None:
        entities = cat.read_table(spark, wh, "entities")

    # ---- stage 2
    if "s2" not in done:
        with _timed(timings, "s2"):
            edges, dropped = link_surfaces(
                mentions, num_bands=cfg.lsh_bands,
                min_jaccard=cfg.lsh_min_jaccard, max_block=cfg.lsh_max_block,
            )
            edges, obs = _observed_count(edges, "s2")
            cat.write_table(edges, wh, "edges")
            n_dropped = dropped.count()
            ck.record_stage(spark, wh, cfg.run_id, "s2",
                            rows_out=obs.get["n"],
                            counters={"dropped_blocks": n_dropped})
    edges = cat.read_table(spark, wh, "edges")

    # ---- stage 3
    if "s3" not in done:
        with _timed(timings, "s3"):
            comps = connected_components(
                edges.where(F.col("sim") >= cfg.lsh_min_jaccard), max_iter=cfg.cc_max_iter
            )
            comps, obs = _observed_count(comps, "s3")
            cat.write_table(comps, wh, "components")
            ck.record_stage(spark, wh, cfg.run_id, "s3", rows_out=obs.get["n"])
    comps = cat.read_table(spark, wh, "components")

    # ---- stage 4
    if "s4" not in done:
        with _timed(timings, "s4"):
            corpus4, entities4 = corpus, entities
            if cfg.bucket_buckets > 0:
                corpus4, entities4 = _bucketed_stage4_inputs(
                    spark, corpus, entities, cfg
                )
            triples = dedup_triples(build_triples(corpus4, entities4, comps))
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
            if cfg.triples_layout == "read-optimized":
                # opt-in layout shuffle (see PipelineConfig.triples_layout):
                # near-disjoint subj ranges per file -> min/max skipping for
                # entity point-lookups on the written KG
                triples = (
                    triples.repartitionByRange("pred", "subj")
                    .sortWithinPartitions("subj", "obj")
                )
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
                            counters={"bucket_buckets": cfg.bucket_buckets,
                                      **ck.LINEAGE_SOURCE_FILES})
    return cat.read_table(spark, wh, "triples")
