"""Stage 2 — entity linking: blocked candidate generation + link scoring (J8/M5).

Reference analog: the dictionary/rule surface matching (J1/J5) links mentions
to gazetteer entries by exact lower-cased surface. At 10^12-file scale exact
match misses alias variants, so the north_star prescribes MinHash/LSH blocking
over mention-surface character n-grams plus a vectorized scorer.

Design (hand-rolled, pure DataFrame — no ml.Vector detour, SURVEY §7.2.6):

1. distinct surfaces (tiny vs corpus: one distinct shuffle);
2. char 3-gram explode;
3. per (surface, band) minhash: for band b, the signature is
   min(xxhash64(gram, seed=b)) over the surface's grams — groupBy partial agg;
4. candidates = the surface pairs within each (band, signature) bucket;
   **skew guard**: buckets larger than ``max_block`` are dropped with a
   logged counter (standard LSH practice; "no silent caps");
5. verify: exact n-gram Jaccard >= ``min_jaccard`` via within-pair set ops;
6. plus exact lower()-equality edges (the reference's own linking semantics).

The deterministic md5-based variant (`minhash_signatures(use_md5=True)`) is
bit-identical to the DuckDB oracle; the fast path uses xxhash64 (JVM,
whole-stage codegen).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F


def _grams_expr(col, n: int = 3):
    # let-bind the padded string through a 1-element F.aggregate: inlining
    # `padded` into the transform lambda re-evaluates the concat per gram
    # (no CSE across lambda boundaries) — O(len^2) bytes per surface
    def grams(padded):
        return F.array_distinct(
            F.transform(
                F.sequence(F.lit(1),
                           F.greatest(F.length(padded) - (n - 1), F.lit(1))),
                lambda i: padded.substr(i, F.lit(n)),
            )
        )

    return F.aggregate(
        F.array(F.concat(F.lit("^"), F.lower(col), F.lit("$"))),
        F.array().cast("array<string>"),
        lambda acc, padded: grams(padded),
    )


def surface_grams(surfaces: DataFrame, col: str = "surface", n: int = 3) -> DataFrame:
    """(surface, gram) exploded distinct char n-grams."""
    base = surfaces.withColumnRenamed(col, "surface") if col != "surface" else surfaces
    return base.select(
        "surface", F.explode(_grams_expr(F.col("surface"), n)).alias("gram")
    )


def minhash_signatures(grams: DataFrame, num_bands: int = 8,
                       use_md5: bool = False) -> DataFrame:
    """(surface, band, sig): sig = min over grams of h(gram, band).

    use_md5=True -> h = md5(band || ':' || gram) (string min — identical in
    DuckDB, used by the correctness oracle); default xxhash64 (fast path)."""
    # ONE hash-agg shuffle keyed by surface (num_bands min-aggregates per
    # group) instead of exploding num_bands× rows through the shuffle; the
    # (band, sig) pairs are unpacked within-row afterwards (narrow).
    def h(b: int):
        if use_md5:
            return F.md5(F.concat_ws(":", F.lit(b), F.col("gram")))
        # keep the sig LONG on the fast path: min(long) aggregates in a
        # HashAggregate; casting to string demotes the whole agg to
        # SortAggregate (string min needs an immutable buffer), inserting a
        # full sort of the exploded grams on both sides of the shuffle
        return F.xxhash64(F.lit(b), F.col("gram"))

    agg = grams.groupBy("surface").agg(
        *[F.min(h(b)).alias(f"_sig{b}") for b in range(num_bands)]
    )
    pairs = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(b).cast("int").alias("band"),
                    F.col(f"_sig{b}").alias("sig"),
                )
                for b in range(num_bands)
            ]
        )
    ).alias("bs")
    return agg.select("surface", pairs).select(
        "surface", F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig")
    )


def _sized_blocks(signatures: DataFrame) -> DataFrame:
    """(surface, band, sig, block_size): each signature row with the size
    of its (band, sig) block."""
    return signatures.withColumn(
        "block_size", F.count(F.lit(1)).over(Window.partitionBy("band", "sig"))
    )


def _block_pairs(sized: DataFrame, max_block: int) -> DataFrame:
    """Distinct (src, dst) surface pairs, src < dst, that share a block of
    at most ``max_block`` rows.

    Pairs come from each block's sorted member list, not from a self-join
    on (band, sig): the list's groupBy needs no shuffle after the window
    and, like everything down to the distinct's shuffle write, reads all
    of its input, so an Observation on ``sized`` sees every row (a
    sort-merge join stops reading one side once the other runs out)."""
    members = (
        sized.where(F.col("block_size") <= max_block)
        .groupBy("band", "sig")
        .agg(F.sort_array(F.collect_list("surface")).alias("m"))
    )
    m = F.col("m")
    pair = F.explode(F.flatten(F.transform(
        m, lambda x, i: F.transform(
            F.slice(m, i + 2, F.size(m)),
            lambda y: F.struct(x.alias("src"), y.alias("dst"))))))
    return (
        members.select(pair.alias("p"))
        .select(F.col("p.src").alias("src"), F.col("p.dst").alias("dst"))
        .where(F.col("src") < F.col("dst"))
        .distinct()
    )


def lsh_candidates(signatures: DataFrame, max_block: int = 50) -> tuple[DataFrame, DataFrame]:
    """Bucket on (band, sig) -> candidate pairs (src < dst).

    Returns (pairs, dropped_blocks) — blocks larger than max_block are the
    hub-surface skew guard; they are excluded and REPORTED, never silently
    capped (SURVEY §7.3.3)."""
    sized = _sized_blocks(signatures)
    dropped = (
        sized.where(F.col("block_size") > max_block)
        .groupBy("band", "sig")
        .agg(F.max("block_size").alias("block_size"))
    )
    return _block_pairs(sized, max_block), dropped


def jaccard_verify(pairs: DataFrame, n: int = 3, min_jaccard: float = 0.4) -> DataFrame:
    """Exact n-gram Jaccard on candidate pairs (within-row array ops — no
    further shuffle) -> CANDIDATES (src, dst, sim)."""
    g1 = _grams_expr(F.col("src"), n)
    g2 = _grams_expr(F.col("dst"), n)
    inter = F.size(F.array_intersect(g1, g2))
    union = F.size(F.array_union(g1, g2))
    sim = (inter / union).alias("sim")
    return (
        pairs.select("src", "dst", sim)
        .where(F.col("sim") >= min_jaccard)
    )


def link_surfaces(mentions: DataFrame, num_bands: int = 8,
                  min_jaccard: float = 0.5, max_block: int = 50
                  ) -> tuple[DataFrame, Callable[[int], int]]:
    """mentions -> (edges(src,dst,sim), dropped_blocks). Edges connect
    alias surface variants (lower-cased) over char 3-grams with the
    xxhash64 signatures; exact-equality duplicates collapse in the initial
    distinct.

    ``dropped_blocks(n_edges)``, called once the edges are computed with
    their row count, is the number of blocks over ``max_block``
    (``lsh_candidates``' dropped frame). The job that computes the edges
    counts them in an Observation: each row of such a block adds
    1/block_size. When no candidate pair reaches the edges' shuffle, AQE
    replaces that empty stage, and the observation under it, with an
    empty relation; with no edges the blocks are counted by a job."""
    surfaces = mentions.select(F.lower(F.col("surface")).alias("surface")).distinct()
    grams = surface_grams(surfaces)
    sigs = minhash_signatures(grams, num_bands=num_bands)
    seen = Observation("s2_dropped_blocks")
    big = F.col("block_size") > max_block
    sized = _sized_blocks(sigs).observe(seen, F.round(F.coalesce(
        F.sum(F.when(big, 1.0 / F.col("block_size"))), F.lit(0.0))
    ).cast("long").alias("n"))
    edges = jaccard_verify(_block_pairs(sized, max_block),
                           min_jaccard=min_jaccard)

    def dropped_blocks(n_edges: int) -> int:
        if n_edges:
            return seen.get["n"]
        return lsh_candidates(sigs, max_block=max_block)[1].count()

    return edges, dropped_blocks


def blocking_quality(cand_pairs: DataFrame, grams: DataFrame,
                     min_jaccard: float = 0.5) -> DataFrame:
    """ER blocking evaluation (Christen 2012's standard pair): how much of
    the quadratic pair space did the LSH blocker prune (reduction ratio),
    and what fraction of the TRUE match pairs survived the blocking (pairs
    completeness)?  One row: (n_entities, n_cand, n_gold, n_found,
    reduction_ratio, pairs_completeness).  This is the recall audit that
    gates any change to the blocking parameters (bands, gram size, block
    cap) before a production linking run — VERDICT r3's ANN-recall concern,
    applied to the string-similarity blocker.

    Gold = exact n-gram Jaccard >= min_jaccard, computed by a gram-inverted-
    index pair join (only pairs sharing >= 1 gram can have J > 0 — the
    standard exact similarity-join prune), NEVER all-pairs.  Shape at scale:
    the gram self-join is the dominant cost and inherits LSH's skew
    exposure on hub grams; the production mitigation is prefix filtering
    (order grams by global frequency, join only on each surface's rarest
    ceil(|g|*(1-t)/(1+t)) grams — documented, not needed at eval scale
    because the audit runs on a SAMPLE of the entity universe anyway).
    Final metrics are four broadcast-joined scalar aggregates."""
    # grams feeds four consumers (sizes, both sides of the inverted-index
    # self-join, n_entities) and cand two (n_cand, n_found): materialize
    # each once instead of re-running the upstream scan per consumer
    grams = grams.localCheckpoint()
    cand = cand_pairs.select("src", "dst").distinct().localCheckpoint()
    sizes = grams.groupBy("surface").agg(F.count("*").alias("sz"))
    a = grams.alias("a").join(grams.alias("b"), "gram").where(
        F.col("a.surface") < F.col("b.surface"))
    inter = (a.groupBy(F.col("a.surface").alias("src"),
                       F.col("b.surface").alias("dst"))
             .agg(F.count("*").alias("inter")))
    gold = (inter
            .join(sizes.withColumnRenamed("surface", "src")
                  .withColumnRenamed("sz", "sz_a"), "src")
            .join(sizes.withColumnRenamed("surface", "dst")
                  .withColumnRenamed("sz", "sz_b"), "dst")
            .where(F.col("inter") / (F.col("sz_a") + F.col("sz_b")
                                     - F.col("inter")) >= min_jaccard)
            .select("src", "dst"))
    gold = gold.localCheckpoint()  # two consumers: n_gold and n_found

    n_ent = sizes.agg(F.count("*").alias("n_entities"))
    n_cand = cand.agg(F.count("*").alias("n_cand"))
    n_gold = gold.agg(F.count("*").alias("n_gold"))
    n_found = gold.join(cand, ["src", "dst"]).agg(
        F.count("*").alias("n_found"))
    # exact integer C(n,2): double division would round past 2^53 pairs
    total = F.shiftright(F.col("n_entities") * (F.col("n_entities") - 1), 1)
    return (n_ent.join(F.broadcast(n_cand))
            .join(F.broadcast(n_gold)).join(F.broadcast(n_found))
            .select(
                F.col("n_entities").cast("long").alias("n_entities"),
                F.col("n_cand").cast("long").alias("n_cand"),
                F.col("n_gold").cast("long").alias("n_gold"),
                F.col("n_found").cast("long").alias("n_found"),
                F.when(total > 0,
                       F.round(1 - F.col("n_cand") / total, 6))
                .alias("reduction_ratio"),
                F.when(F.col("n_gold") > 0,
                       F.round(F.col("n_found") / F.col("n_gold"), 6))
                .alias("pairs_completeness")))
