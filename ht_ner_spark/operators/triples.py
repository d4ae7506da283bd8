"""Stage 4 — triple materialization (A9 + lineage + sha invariant audit).

Emitted predicates:
* (doc_uri, 'mentions', canonical_entity)   — doc_uri = repo/path@commit
* (alias_surface, 'alias_of', canonical)    — from stage-3 components
* (canonical_entity, 'appears_in', repo)    — repo-level rollup

Write discipline (north_rule): dropDuplicates on (subj,pred,obj) (partial+
final hash agg), written straight off the agg with partitionBy('pred') by
pipeline.run's stage 4. Lineage struct carries (repo, path, commit,
content_sha256, stage versions, LF provenance — an empty array).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..schemas import STAGE_VERSIONS


def doc_uri():
    return F.concat_ws("", F.col("repo"), F.lit("/"), F.col("path"),
                       F.lit("@"), F.col("commit"))


def build_triples(corpus: DataFrame, entities: DataFrame,
                  components: DataFrame | None = None) -> DataFrame:
    """corpus ⋈ per-row predicted entities (row_id, entities:array) ⋈ optional
    canonical components -> TRIPLES rows."""
    ex = entities.select("row_id", F.explode("entities").alias("entity"))
    if components is not None:
        # broadcast if the alias table is small; AQE will also switch at runtime
        comp = components.withColumnRenamed("entity_id", "entity")
        ex = (
            ex.join(F.broadcast(comp), "entity", "left")
            .select(
                "row_id",
                "entity",
                F.coalesce("component_id", F.col("entity")).alias("canonical"),
            )
        )
    else:
        ex = ex.withColumn("canonical", F.col("entity"))

    joined = ex.join(corpus, "row_id", "inner")
    lineage = F.struct(
        F.col("repo"), F.col("path"), F.col("commit"), F.col("content_sha256"),
        F.array(*[F.lit(s) for s in STAGE_VERSIONS]).cast("array<string>")
        .alias("stage_versions"),
        F.array().cast("array<string>").alias("lf_provenance"),
    )

    mentions_t = joined.select(
        doc_uri().alias("subj"),
        F.lit("mentions").alias("pred"),
        F.col("canonical").alias("obj"),
        F.lit(1.0).alias("conf"),
        lineage.alias("lineage"),
    )
    alias_t = joined.where(F.col("entity") != F.col("canonical")).select(
        F.col("entity").alias("subj"),
        F.lit("alias_of").alias("pred"),
        F.col("canonical").alias("obj"),
        F.lit(1.0).alias("conf"),
        lineage.alias("lineage"),
    )
    appears_t = joined.select(
        F.col("canonical").alias("subj"),
        F.lit("appears_in").alias("pred"),
        F.col("repo").alias("obj"),
        F.lit(1.0).alias("conf"),
        lineage.alias("lineage"),
    )
    return mentions_t.unionByName(alias_t).unionByName(appears_t)


def dedup_triples(triples: DataFrame) -> DataFrame:
    """A9: distinct (subj,pred,obj) keeping one lineage witness (min doc uri
    ordering via max conf is irrelevant — lineage rows are equal per key up to
    provenance; first() is deterministic after the sort-free hash agg only in
    value, so we take min by subj lineage sha for determinism)."""
    return (
        triples.groupBy("subj", "pred", "obj")
        .agg(
            F.max("conf").alias("conf"),
            F.min_by("lineage", F.col("lineage.content_sha256")).alias("lineage"),
        )
    )


def upsert_triples(existing: DataFrame, delta: DataFrame) -> DataFrame:
    """Incremental KG maintenance: merge a delta triple batch into an
    existing graph. Returns (subj, pred, obj, conf, status) where conf is
    the max over both inputs (A9's merge rule) and status is the CDC tag a
    downstream consumer keys on: 'new' (key only in delta), 'updated'
    (delta raised the key's conf), 'unchanged' otherwise.

    Shape at scale: both sides pre-aggregate to one row per key (map-side
    combine), then ONE full-outer shuffle join on (subj, pred, obj) — the
    engine-neutral relational form of MERGE INTO. Under the Iceberg catalog
    (storage/catalog.py) the same delta feeds overwritePartitions /
    MERGE INTO instead; pred-partitioned output keeps the rewrite pruned to
    touched predicates. Reference analog: the reference regenerates its
    triple CSV from scratch each run (no incremental path) — this is the
    operator a continuously-crawled corpus needs instead.
    """
    key = ["subj", "pred", "obj"]
    ek = existing.groupBy(*key).agg(F.max("conf").alias("e_conf"))
    dk = delta.groupBy(*key).agg(F.max("conf").alias("d_conf"))
    return ek.join(dk, key, "full_outer").select(
        *key,
        F.greatest(
            F.coalesce("e_conf", "d_conf"), F.coalesce("d_conf", "e_conf")
        ).alias("conf"),
        F.when(F.col("e_conf").isNull(), F.lit("new"))
        .when(
            F.col("d_conf").isNotNull() & (F.col("d_conf") > F.col("e_conf")),
            F.lit("updated"),
        )
        .otherwise(F.lit("unchanged"))
        .alias("status"),
    )


def diff_triples(old: DataFrame, new: DataFrame,
                 weight_col: str = "n_witnesses") -> DataFrame:
    """Snapshot diff between two KG materializations: (subj, pred, obj,
    old_w, new_w, status) with status ∈ added | removed | changed |
    unchanged.  The audit/lifecycle twin of upsert_triples: where upsert
    MERGES a delta forward, diff EXPLAINS what changed between two full
    snapshots (e.g. two crawl epochs of the source corpus) — the op a
    continuously-rebuilt KG needs for regression detection and for
    emitting CDC streams to downstream consumers.

    Shape at scale: both sides pre-aggregate to one row per key (map-side
    combine), then ONE full-outer shuffle join on (subj, pred, obj); both
    inputs hash-partition on the same key, so AQE coalesces the exchanges
    and nothing is re-shuffled.  Removed facts are exactly the rows only
    the old side produces — the case MERGE-style upsert cannot see."""
    key = ["subj", "pred", "obj"]
    # presence flags, not weight NULL-ness, drive the status: a nullable
    # weight column summing to NULL must not read as an absent key
    o = (old.groupBy(*key).agg(F.sum(weight_col).alias("old_w"))
         .withColumn("_in_old", F.lit(True)))
    n = (new.groupBy(*key).agg(F.sum(weight_col).alias("new_w"))
         .withColumn("_in_new", F.lit(True)))
    return o.join(n, key, "full_outer").select(
        *key, "old_w", "new_w",
        F.when(F.col("_in_old").isNull(), F.lit("added"))
        .when(F.col("_in_new").isNull(), F.lit("removed"))
        .when(~F.col("old_w").eqNullSafe(F.col("new_w")), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
        .alias("status"),
    )


def pred_profile(triples: DataFrame) -> DataFrame:
    """Per-predicate ontology profile: (pred, n_facts, n_subjects,
    n_objects, max_fanout, avg_fanout, is_functional) — the schema-audit
    pass a continuously-built KG runs after every materialization.
    ``is_functional`` flags predicates where no subject has more than one
    object, i.e. candidates for a functional-property constraint; a later
    epoch breaking that flag (via diff on this profile) is a data-quality
    regression signal.

    Shape at scale: one (pred, subj) aggregate whose partial (map-side)
    combine collapses duplicate facts before the shuffle, re-aggregated by
    pred; the distinct-object count is a second two-phase aggregate Spark
    plans as (pred, obj)-keyed partials, so neither pass shuffles on the
    low-cardinality pred key alone.  Output is |preds| rows — tiny."""
    per_subj = triples.groupBy("pred", "subj").agg(
        F.countDistinct("obj").alias("fanout"))
    prof = per_subj.groupBy("pred").agg(
        F.sum("fanout").alias("n_facts"),
        F.count("*").alias("n_subjects"),
        F.max("fanout").alias("max_fanout"),
        F.round(F.avg("fanout"), 4).alias("avg_fanout"),
    ).withColumn("is_functional", F.col("max_fanout") == 1)
    n_obj = triples.groupBy("pred").agg(
        F.countDistinct("obj").alias("n_objects"))
    return prof.join(n_obj, "pred").select(
        "pred", "n_facts", "n_subjects", "n_objects",
        "max_fanout", "avg_fanout", "is_functional")


def dangling_refs(triples: DataFrame, ref_pred: str = "imports",
                  def_pred: str = "defines") -> DataFrame:
    """Referential-integrity audit: for every object referenced through
    ``ref_pred``, is it defined anywhere through ``def_pred``?  Returns
    (obj, n_refs, resolved) — n_refs = distinct referencing subjects,
    resolved = the object also appears as a ``def_pred`` object.  Over the
    code KG this is the unresolved-external-dependency report (modules
    imported but defined in no crawled repo); over an entity KG it is the
    dangling-node audit that gates an embedding-training export.

    Shape at scale: the reference side pre-aggregates to one row per obj
    (map-side combine), the definition side reduces to a distinct obj
    dimension, then ONE left join keyed on obj — AQE broadcasts the
    definition set when it is small and falls back to a co-partitioned
    hash join when it is corpus-sized."""
    refs = (triples.where(F.col("pred") == ref_pred)
            .groupBy("obj").agg(F.countDistinct("subj").alias("n_refs")))
    defs = (triples.where(F.col("pred") == def_pred)
            .select("obj").distinct().withColumn("resolved", F.lit(True)))
    return refs.join(defs, "obj", "left").select(
        "obj", "n_refs",
        F.coalesce(F.col("resolved"), F.lit(False)).alias("resolved"))


def sha_invariant_audit(corpus: DataFrame, triples: DataFrame,
                        broadcast_src: bool = False) -> DataFrame:
    """Final invariant check: every triple lineage sha must exist in the
    source corpus (anti-join must be empty).

    ``broadcast_src=True`` keeps the identical result SET but swaps the plan:
    the distinct corpus-sha side is broadcast and the triples side is probed
    raw (distinct applied AFTER the anti-join, on the normally-empty
    violation set) — zero exchange on the triples side instead of a
    distinct shuffle plus a sort-merge join. Callers gate it on a known
    corpus size (pipeline: ``corpus_rows_hint``); the default keeps the
    shuffle plan, which is the only shape that survives a corpus whose
    distinct shas cannot sit in one executor's memory."""
    if broadcast_src:
        # two costs the shuffle plan pays that a broadcast probe need not:
        # (1) distinct on the build side — an anti-join only tests existence,
        # so the broadcast hash relation dedups for free; dropping distinct
        # removes a full corpus-wide shuffle. (2) hex-string keys — sha2()
        # emits 64-char hex; unhex() both sides to 33-byte tagged binary,
        # roughly halving the broadcast and the hash-relation build. A bare
        # unhex() is NOT total — it yields null on non-hex input, and null
        # join keys never match, which turned every row of a non-hex-keyed
        # corpus into a false violation — so non-hex keys fall back to
        # their utf-8 bytes and a 1-byte tag keeps the two ranges disjoint
        # (injective for ANY string; result set identical to the shuffle
        # plan). The probe side keeps the original string for reporting.
        def _key(col):
            return F.when(
                col.rlike("^([0-9a-fA-F]{2})+$"),
                F.concat(F.lit(b"\x00"), F.unhex(col)),
            ).otherwise(F.concat(F.lit(b"\x01"), F.encode(col, "UTF-8")))

        src = corpus.select(_key(F.col("content_sha256")).alias("sha_bin"))
        probe = triples.select(
            F.col("lineage.content_sha256").alias("sha"),
            _key(F.col("lineage.content_sha256")).alias("sha_bin"))
        return (probe.join(F.broadcast(src), "sha_bin", "left_anti")
                .select("sha").distinct())
    src = corpus.select(F.col("content_sha256").alias("sha")).distinct()
    probe = triples.select(F.col("lineage.content_sha256").alias("sha"))
    return probe.distinct().join(src, "sha", "left_anti")


def negative_sample(triples: DataFrame) -> DataFrame:
    """(subj, pred, obj, neg_obj): one deterministic corrupted-object
    negative per triple — the standard KG-embedding training-data op
    (TransE-family corrupt-one-side sampling, Bordes et al. 2013), made
    reproducible: the replacement is vocab[md5(subj:pred:obj) mod |vocab|]
    over the alphabetically-indexed object vocabulary, so any engine
    (the DuckDB oracle included) derives the identical negatives. Triples
    whose draw lands on their own object are dropped (standard filtered
    sampling) rather than re-drawn — also deterministic.

    100 TB shape: the object vocabulary of a KG is entity-sized (millions),
    orders of magnitude under the triple count, so it is indexed once with
    exact_global_rank (range-partitioned row_number — no single-partition
    Window; rank.py) and BROADCAST; each triple computes its draw row-side
    (md5 + mod, whole-stage codegen) and map-side-joins the vocab. Zero
    shuffle of the triple stream."""
    from .rank import exact_global_rank

    vocab = exact_global_rank(
        triples.select(F.col("obj").alias("cand")).distinct(),
        [F.asc("cand")], "idx",
    )
    n_cand = vocab.agg(F.max("idx").alias("n_cand"))
    draw = (
        F.conv(F.substring(F.md5(F.concat_ws(":", "subj", "pred", "obj")), 1, 8),
               16, 10).cast("long") % F.col("n_cand") + 1
    )
    return (
        triples.select("subj", "pred", "obj")
        .join(F.broadcast(n_cand))
        .withColumn("idx", draw)
        .join(F.broadcast(vocab), "idx")
        .where(F.col("cand") != F.col("obj"))
        .select("subj", "pred", "obj", F.col("cand").alias("neg_obj"))
    )


def infer_entity_types(triples: DataFrame,
                       weight_col: str | None = None) -> DataFrame:
    """Entity typing from the predicate profile: each object entity gets the
    type of the predicate that most often asserts facts about it — the
    standard schema-free typing pass a KG-construction pipeline runs after
    stage 4 (an entity overwhelmingly seen as the object of ``imports`` IS a
    module; of ``defines``, a symbol).  Majority vote with a deterministic
    lexicographic tie-break; ``confidence`` = top-predicate weight over the
    entity's total fact weight, the usual soft-label the downstream
    type-constrained link-prediction loss consumes.

    Returns (entity, entity_type, n_top, n_total, confidence).

    Shape at scale: one (obj, pred) hash aggregate (map-side combine folds
    duplicate facts before the shuffle), then one obj-keyed re-aggregate
    where the argmax is a ``min(struct(-n, pred))`` — an aggregation, not a
    per-entity Window, so there is no sort and no skew pile-up on hub
    entities; both shuffles are on keys whose cardinality only shrinks."""
    w = F.col(weight_col) if weight_col else F.lit(1)
    per = (triples.groupBy("obj", "pred")
           .agg(F.sum(w).alias("n")))
    top = F.min(F.struct((-F.col("n")).alias("neg_n"), F.col("pred")))
    return (per.groupBy("obj")
            .agg(top.alias("top"), F.sum("n").alias("n_total"))
            .select(F.col("obj").alias("entity"),
                    F.col("top.pred").alias("entity_type"),
                    (-F.col("top.neg_n")).cast("long").alias("n_top"),
                    F.col("n_total").cast("long").alias("n_total"),
                    F.round((-F.col("top.neg_n")) / F.col("n_total"), 4)
                    .alias("confidence")))


def induce_schema(triples: DataFrame, types: DataFrame) -> DataFrame:
    """Schema/ontology induction: collapse the instance-level KG to its
    (subj_type, pred, obj_type) type graph with fact and participant
    counts — the structural summary a KG-construction pipeline publishes
    so consumers can discover what relations exist between which entity
    classes without scanning instances.  ``types`` is an (entity,
    entity_type) table (infer_entity_types output); entities absent from
    it report as '<untyped>' — a data-quality signal in itself.

    Returns (subj_type, pred, obj_type, n_facts, n_subjects, n_objects).

    Shape at scale: two equi-joins of the triple stream against the
    entity-sized type dimension (AQE broadcasts it when small, hash-joins
    co-partitioned otherwise), then one aggregate whose key cardinality is
    |types|^2 * |preds| — tiny — with distinct counts planned as two-phase
    partials.  No self-joins, no windows."""
    st = types.select(F.col("entity").alias("subj"),
                      F.col("entity_type").alias("subj_type"))
    ot = types.select(F.col("entity").alias("obj"),
                      F.col("entity_type").alias("obj_type"))
    return (triples.select("subj", "pred", "obj")
            .join(st, "subj", "left").join(ot, "obj", "left")
            .groupBy(F.coalesce("subj_type", F.lit("<untyped>"))
                     .alias("subj_type"),
                     "pred",
                     F.coalesce("obj_type", F.lit("<untyped>"))
                     .alias("obj_type"))
            .agg(F.count("*").alias("n_facts"),
                 F.countDistinct("subj").alias("n_subjects"),
                 F.countDistinct("obj").alias("n_objects"))
            .select("subj_type", "pred", "obj_type",
                    F.col("n_facts").cast("long").alias("n_facts"),
                    F.col("n_subjects").cast("long").alias("n_subjects"),
                    F.col("n_objects").cast("long").alias("n_objects")))


def export_property_graph(triples: DataFrame,
                          id_hex_digits: int = 15) -> DataFrame:
    """Embedding-training export: the deduplicated triple set as an integer
    edge list (src_id, rel_id, dst_id, subj, pred, obj) — the input format
    of every TransE-family trainer.  Node ids are md5-derived 60-bit ints
    (hash-portable: any engine recomputes the identical id from the entity
    name, so incremental epochs never need an id-assignment table and two
    exports of overlapping KGs agree on shared nodes).  Relation ids are
    contiguous 1..|preds| — predicates number in the dozens, and trainers
    want a dense relation-embedding matrix.

    Shape at scale: dedup is one (subj, pred, obj) hash aggregate; node ids
    are computed row-side (md5 + conv, whole-stage codegen, zero shuffle —
    the reason to hash rather than row_number the node set); the relation
    dimension is |preds| rows, ranked without an unpartitioned Window
    (rank.py) and BROADCAST back onto the edge stream.  Collision bound:
    60-bit ids give ~2^-16 collision odds at 10^9 nodes (birthday); raise
    ``id_hex_digits`` to 16 only if negative ids are acceptable."""
    from .rank import exact_global_rank

    def nid(c: str):
        return F.conv(F.substring(F.md5(F.col(c)), 1, id_hex_digits),
                      16, 10).cast("long")

    edges = triples.select("subj", "pred", "obj").distinct()
    rels = exact_global_rank(
        edges.select("pred").distinct(), [F.asc("pred")], "rel_id")
    return (edges.join(F.broadcast(rels), "pred")
            .select(nid("subj").alias("src_id"),
                    F.col("rel_id").cast("long").alias("rel_id"),
                    nid("obj").alias("dst_id"),
                    "subj", "pred", "obj"))
