"""Stage 2 LSH linking + stage 3 connected components correctness."""

import itertools

import pytest
from pyspark.sql import functions as F

from ht_ner_spark.operators.components import connected_components
from ht_ner_spark.operators.linking import (
    _grams_expr,
    jaccard_verify,
    link_surfaces,
    lsh_candidates,
    minhash_signatures,
    surface_grams,
)

from . import oracle

MENTION_SCHEMA = (
    "row_id long, lf_name string, begin int, end int, surface string, "
    "label string, base_conf double, confidence double"
)

SURFACES = ["alice", "Alice", "ALICE", "alicia", "bob", "bobby", "carol",
            "karol", "mary ann", "maryann", "completely-different"]


def _py_grams(s, n=3):
    p = f"^{s.lower()}$"
    return {p[i:i + n] for i in range(max(len(p) - n + 1, 1))}


def _mentions_df(spark):
    rows = [(i, "dictionary", 0, 1, s, "PERSON_NAME", 0.5, 0.5)
            for i, s in enumerate(SURFACES)]
    return spark.createDataFrame(rows, MENTION_SCHEMA)


def test_jaccard_verify_exact(spark):
    pairs = spark.createDataFrame(
        [("alice", "alicia"), ("bob", "carol")], "src string, dst string"
    )
    got = {(r["src"], r["dst"]): r["sim"] for r in jaccard_verify(pairs, min_jaccard=0.0).collect()}
    for (a, b), sim in got.items():
        ga, gb = _py_grams(a), _py_grams(b)
        assert abs(sim - len(ga & gb) / len(ga | gb)) < 1e-12


def test_lsh_recall_vs_bruteforce(spark):
    """With enough bands the banded join must recover every pair whose true
    Jaccard clears the verify threshold (pinned fixture, deterministic)."""
    m = _mentions_df(spark)
    edges, dropped_blocks = link_surfaces(m, num_bands=24, min_jaccard=0.4,
                                          max_block=50)
    got = {(r["src"], r["dst"]) for r in edges.collect()}
    # brute force over distinct lowered surfaces
    low = sorted({s.lower() for s in SURFACES})
    want = set()
    for a, b in itertools.combinations(low, 2):
        ga, gb = _py_grams(a), _py_grams(b)
        if len(ga & gb) / len(ga | gb) >= 0.4:
            want.add((min(a, b), max(a, b)))
    assert want == got
    assert ("carol", "karol") in got and ("mary ann", "maryann") in got
    assert dropped_blocks(len(got)) == 0


@pytest.mark.parametrize("max_block", [1, 2])
def test_link_surfaces_counts_dropped_blocks(spark, max_block):
    """The dropped-block count equals lsh_candidates' dropped frame both
    when edges exist (observed on the edges job) and when the cap leaves
    no candidate pair (AQE drops the empty stage with its observation)."""
    # six near-identical surfaces: blocks of up to 6 rows in most bands
    rows = [(i, "dictionary", 0, 1, s, "PERSON_NAME", 0.5, 0.5)
            for i, s in enumerate(SURFACES + [f"bartholomewx{c}"
                                              for c in "abcdef"])]
    m = spark.createDataFrame(rows, MENTION_SCHEMA)
    edges, dropped_blocks = link_surfaces(m, num_bands=24, min_jaccard=0.4,
                                          max_block=max_block)
    n_edges = len(edges.collect())
    assert (n_edges > 0) == (max_block > 1)
    surfaces = m.select(F.lower("surface").alias("surface")).distinct()
    sigs = minhash_signatures(surface_grams(surfaces), num_bands=24)
    want = lsh_candidates(sigs, max_block=max_block)[1].count()
    assert want > 0
    assert dropped_blocks(n_edges) == want


def test_lsh_max_block_drops_and_reports(spark):
    # 60 identical surfaces -> one huge bucket > max_block -> dropped+reported
    rows = [(i, "dictionary", 0, 1, f"same{i % 2}", "PERSON_NAME", 0.5, 0.5)
            for i in range(60)]
    m = spark.createDataFrame(rows, MENTION_SCHEMA)
    # distinct surfaces = 2 -> small; instead test via signatures directly
    sigs = spark.createDataFrame(
        [(f"s{i}", 0, "xx") for i in range(60)] + [("a", 1, "y"), ("b", 1, "y")],
        "surface string, band int, sig string",
    )
    pairs, dropped = lsh_candidates(sigs, max_block=50)
    assert dropped.count() == 1  # the size-60 block reported
    assert {(r["src"], r["dst"]) for r in pairs.collect()} == {("a", "b")}


def test_connected_components_vs_union_find(spark):
    edges = [
        ("a", "b"), ("b", "c"), ("d", "e"), ("f", "f"),
        ("g", "h"), ("h", "i"), ("i", "j"), ("j", "g"),  # cycle
        ("k", "l"), ("l", "m"), ("m", "n"), ("n", "o"), ("o", "p"),  # path
    ]
    df = spark.createDataFrame(edges, "src string, dst string")
    want = oracle.union_find_components(edges)
    # both the small-graph driver funnel and the distributed loop
    for budget in (200_000, 0):
        got = {
            r["entity_id"]: r["component_id"]
            for r in connected_components(
                df, max_iter=30, driver_budget=budget).collect()
        }
        assert got == want, f"driver_budget={budget}"


def test_connected_components_random_graphs(spark):
    import random

    rng = random.Random(7)
    nodes = [f"n{i:03d}" for i in range(80)]
    edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(100)]
    df = spark.createDataFrame(edges, "src string, dst string")
    want = oracle.union_find_components(edges)
    for budget in (200_000, 0):
        got = {
            r["entity_id"]: r["component_id"]
            for r in connected_components(
                df, max_iter=30, driver_budget=budget).collect()
        }
        assert got == want, f"driver_budget={budget}"


def test_connected_components_budget_boundary(spark):
    # exactly at the budget the driver path runs; one over, distributed
    edges = [(f"a{i}", f"a{i+1}") for i in range(10)]
    df = spark.createDataFrame(edges, "src string, dst string")
    want = oracle.union_find_components(edges)
    for budget in (10, 9):  # len(edges) == 10
        got = {
            r["entity_id"]: r["component_id"]
            for r in connected_components(
                df, max_iter=30, driver_budget=budget).collect()
        }
        assert got == want, f"driver_budget={budget}"


def test_blocking_quality_counts(spark):
    from ht_ner_spark.operators.linking import blocking_quality

    # universe of 4 surfaces; grams chosen so exact-Jaccard gold at 0.5 is
    # {(a,b), (c,d)}: a∩b = {x,y} of union {x,y,z} (J=2/3), c∩d = {p,q} of
    # {p,q} (J=1); a-c etc. share nothing.
    grams = spark.createDataFrame(
        [("a", "x"), ("a", "y"), ("a", "z"),
         ("b", "x"), ("b", "y"),
         ("c", "p"), ("c", "q"),
         ("d", "p"), ("d", "q")], "surface string, gram string")
    # blocker produced (a,b) and a false candidate (a,c); missed (c,d)
    cand = spark.createDataFrame([("a", "b"), ("a", "c")],
                                 "src string, dst string")
    r = blocking_quality(cand, grams, min_jaccard=0.5).collect()[0]
    assert (r["n_entities"], r["n_cand"], r["n_gold"], r["n_found"]) \
        == (4, 2, 2, 1)
    assert r["reduction_ratio"] == round(1 - 2 / 6, 6)
    assert r["pairs_completeness"] == 0.5


def test_blocking_quality_empty_gold_is_null(spark):
    from ht_ner_spark.operators.linking import blocking_quality

    grams = spark.createDataFrame([("a", "x"), ("b", "y")],
                                  "surface string, gram string")
    cand = spark.createDataFrame([], "src string, dst string")
    r = blocking_quality(cand, grams, min_jaccard=0.5).collect()[0]
    assert r["n_gold"] == 0 and r["pairs_completeness"] is None
    assert r["reduction_ratio"] == 1.0


def _cc_sorted(df):
    return sorted((r["entity_id"], r["component_id"]) for r in df.collect())


def test_incremental_components_equals_full_recompute(spark):
    from ht_ner_spark.operators.components import (connected_components,
                                                   incremental_components)

    old = spark.createDataFrame(
        [("b", "a"), ("c", "b"), ("e", "d"), ("g", "f")],
        "src string, dst string")
    # delta: bridges two old components (c-d), attaches a new node (h-g),
    # adds a new-nodes-only component (x-y), and a no-op edge (a-b)
    delta = spark.createDataFrame(
        [("c", "d"), ("h", "g"), ("x", "y"), ("a", "b")],
        "src string, dst string")
    assign = connected_components(old)
    inc = incremental_components(assign, delta)
    full = connected_components(old.union(delta))
    assert _cc_sorted(inc) == _cc_sorted(full)


def test_incremental_components_distributed_paths_agree(spark):
    from ht_ner_spark.operators.components import (connected_components,
                                                   incremental_components)

    old = spark.createDataFrame(
        [(f"n{i:02d}", f"n{i + 1:02d}") for i in range(0, 20, 2)],
        "src string, dst string")
    delta = spark.createDataFrame(
        [(f"n{i:02d}", f"n{i + 1:02d}") for i in range(1, 19, 2)],
        "src string, dst string")   # chains everything into one component
    assign = connected_components(old)
    # force the distributed loop inside the incremental merge too
    inc = incremental_components(assign, delta, driver_budget=0)
    full = connected_components(old.union(delta))
    assert _cc_sorted(inc) == _cc_sorted(full)
    # single chain -> everything labeled n00
    assert {c for _, c in _cc_sorted(inc)} == {"n00"}


def test_incremental_components_empty_delta(spark):
    from ht_ner_spark.operators.components import (connected_components,
                                                   incremental_components)

    old = spark.createDataFrame([("b", "a")], "src string, dst string")
    assign = connected_components(old)
    delta = spark.createDataFrame([], "src string, dst string")
    assert _cc_sorted(incremental_components(assign, delta)) \
        == _cc_sorted(assign)
