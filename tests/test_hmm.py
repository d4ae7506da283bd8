"""A3 distributed HMM aggregator (operators/hmm.py).

Strategy (SURVEY §5.4): the forward-backward core is unit-tested against a
hand-computable example; the DISTRIBUTED fit is validated against a local
driver-side EM using the exact same per-doc math (proves the Spark
aggregation path — groupBy/applyInPandas/sum — introduces no drift); decode
quality is gated against the planted synthetic entities.
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from ht_ner_spark.corpus import DEFAULT_GAZETTEER, synthetic_corpus
from ht_ner_spark.operators.aggregate import predicted_entities
from ht_ner_spark.operators.hmm import (
    HMMParams,
    _doc_stats,
    _forward_backward,
    hmm_decode,
    hmm_fit,
)
from ht_ner_spark.operators.tokens import with_tokens
from ht_ner_spark.pipeline import PipelineConfig, run, stage1_mentions
from ht_ner_spark.storage import catalog as cat
from ht_ner_spark.storage.checkpoint import read_checkpoints

from .test_fused import UNICODE_ROWS, edge_rows_corpus

N_ROWS = 80


def test_forward_backward_two_token_chain():
    p = HMMParams(["lf1"])
    p.start = [0.5, 0.5]
    p.trans = [[0.5, 0.5], [0.5, 0.5]]
    p.emit = {"lf1": [0.1, 0.9]}
    # token0: lf1 votes PERSON; token1: silent
    gamma, _, _ = _forward_backward(p, [{"lf1": 1}, {}])
    # posterior at t0: 0.9/(0.9+0.1) = 0.9; t1 uniform (no evidence)
    assert abs(gamma[0][1] - 0.9) < 1e-9
    assert abs(gamma[1][1] - 0.5) < 1e-9


def test_doc_stats_mass_conservation():
    p = HMMParams(["a", "b"])
    obs = [{"a": 1}, {}, {"b": -1}, {"a": 1, "b": 1}]
    rows = _doc_stats(p, obs)
    start_mass = sum(r[4] for r in rows if r[0] == "start")
    assert abs(start_mass - 1.0) < 1e-9
    # transition exposure sums to (n-1)
    trans_mass = sum(r[4] for r in rows if r[0] == "trans")
    assert abs(trans_mass - 3.0) < 1e-6


def _local_fit(votes_rows, lens, lfs, n_iter):
    """Driver-side EM with identical per-doc math — the distributed oracle."""
    params = HMMParams(lfs)
    by_row: dict[int, list] = {}
    for r in votes_rows:
        by_row.setdefault(r["row_id"], []).append(r)
    for _ in range(n_iter):
        agg: dict[tuple, list[float]] = {}
        for row_id, vs in by_row.items():
            obs = [{} for _ in range(lens[row_id])]
            for v in vs:
                if 0 <= v["pos"] < lens[row_id]:
                    obs[v["pos"]][v["lf_name"]] = (
                        1 if v["label"] == "PERSON_NAME" else -1
                    )
            for kind, lf, s, u, w, n in _doc_stats(params, obs):
                k = (kind, lf, s, u)
                cur = agg.setdefault(k, [0.0, 0.0])
                cur[0] += w
                cur[1] += n
        start = [1e-6, 1e-6]
        trans_w = [[1e-6] * 2 for _ in range(2)]
        trans_n = [1e-6, 1e-6]
        emit_w = {lf: [1e-6, 1e-6] for lf in lfs}
        emit_n = {lf: [2e-6, 2e-6] for lf in lfs}
        for (kind, lf, s, u), (w, n) in agg.items():
            if kind == "start":
                start[s] += w
            elif kind == "trans":
                trans_w[s][u] += w
                trans_n[s] += w
            else:
                emit_w[lf][s] += w
                emit_n[lf][s] += n
        z = sum(start)
        params.start = [x / z for x in start]
        params.trans = [[trans_w[s][u] / trans_n[s] for u in range(2)] for s in range(2)]
        params.emit = {
            lf: [min(max(emit_w[lf][s] / emit_n[lf][s], 1e-6), 1 - 1e-6)
                 for s in range(2)]
            for lf in lfs
        }
    return params


def test_distributed_fit_matches_local(spark):
    c = synthetic_corpus(spark, N_ROWS).cache()
    _, votes = stage1_mentions(c, DEFAULT_GAZETTEER)
    votes = votes.cache()
    doc_lens = with_tokens(c).select("row_id", F.size("tokens").alias("n_toks"))
    lfs = sorted(r["lf_name"] for r in votes.select("lf_name").distinct().collect())

    dist = hmm_fit(votes, doc_lens, lfs=lfs, n_iter=2)
    local = _local_fit(
        [r.asDict() for r in votes.collect()],
        {r["row_id"]: r["n_toks"] for r in doc_lens.collect()},
        lfs, n_iter=2,
    )
    assert dist.start == pytest.approx(local.start, rel=1e-6)
    for s in range(2):
        assert dist.trans[s] == pytest.approx(local.trans[s], rel=1e-6)
    for lf in lfs:
        assert dist.emit[lf] == pytest.approx(local.emit[lf], rel=1e-6)


def test_hmm_decode_recovers_planted_entities(spark):
    from ht_ner_spark.corpus import gold_entities

    c = synthetic_corpus(spark, N_ROWS).cache()
    _, votes = stage1_mentions(c, DEFAULT_GAZETTEER)
    doc_lens = with_tokens(c).select("row_id", F.size("tokens").alias("n_toks"))
    params = hmm_fit(votes, doc_lens, n_iter=3)
    decoded = hmm_decode(votes, doc_lens, params)
    ents = predicted_entities(decoded)
    got = {r["row_id"]: set(r["entities"]) for r in ents.collect()}
    gold = gold_entities(N_ROWS)
    eps = 1e-7
    tp = fp = fn = eps
    for rid in gold:
        p, t = got.get(rid, set()), gold[rid]
        tp += len(p & t)
        fp += len(p - t)
        fn += len(t - p)
    recall = tp / (tp + fn)
    assert recall >= 0.85, (tp, fp, fn)


def test_batched_kernels_match_perdoc_oracle():
    """The doc-batched vectorized kernels (padded masked forward-backward,
    partition pre-agg) must reproduce the per-doc reference math exactly,
    including the quirks: duplicate (pos, lf) votes collapse to the LAST
    occurrence, out-of-range positions and unknown LFs are dropped, len-1
    docs contribute start/emit but no transitions."""
    import numpy as np

    from ht_ner_spark.operators.hmm import (
        _batched_chunk_decode,
        _batched_chunk_stats,
        _obs_from_arrays,
    )

    rng = np.random.RandomState(7)
    lfs = ["gaz", "rule", "freq_0.1"]
    p = HMMParams(lfs)
    p.start = [0.7, 0.3]
    p.trans = [[0.8, 0.2], [0.4, 0.6]]
    p.emit = {"gaz": [0.05, 0.85], "rule": [0.1, 0.7], "freq_0.1": [0.5, 0.04]}

    rows = []
    lens = {}
    for d in range(40):
        row_id = 1000 + d
        n_toks = int(rng.randint(1, 12))
        lens[row_id] = n_toks
        for _ in range(int(rng.randint(1, 14))):
            pos = int(rng.randint(-1, n_toks + 2))       # incl. out-of-range
            lf = str(rng.choice(lfs + ["unknown_lf"]))
            label = str(rng.choice(["PERSON_NAME", "NOT_NAME"]))
            rows.append((row_id, pos, lf, label, n_toks, f"t{pos}"))
    chunk = pd.DataFrame(
        rows, columns=["row_id", "pos", "lf_name", "label", "n_toks", "tok"]
    ).sort_values("row_id", kind="stable").reset_index(drop=True)

    # ---- per-doc oracle stats
    want: dict = {}
    pos_a = chunk["pos"].values
    lf_a = chunk["lf_name"].values
    lab_a = chunk["label"].values
    ids = chunk["row_id"].values
    bounds = [0] + [i for i in range(1, len(ids)) if ids[i] != ids[i - 1]] + [len(ids)]
    for s, e in zip(bounds[:-1], bounds[1:]):
        obs = _obs_from_arrays(pos_a, lf_a, lab_a, s, e,
                               lens[int(ids[s])], frozenset(lfs))
        for kind, lfn, st, nx, w, n in _doc_stats(p, obs):
            cell = want.setdefault((kind, lfn, st, nx), [0.0, 0.0])
            cell[0] += w
            cell[1] += n

    got: dict = {}
    _batched_chunk_stats(p, chunk, got)
    assert set(got) == set(want)
    for k in want:
        assert got[k][0] == pytest.approx(want[k][0], rel=1e-9, abs=1e-12), k
        assert got[k][1] == pytest.approx(want[k][1], rel=1e-9, abs=1e-12), k

    # ---- decode: same posteriors at every observed position
    dec = _batched_chunk_decode(p, chunk)
    dec_map = {(int(r.row_id), int(r.pos)): (r.label, r.score)
               for r in dec.itertuples()}
    n_obs_positions = 0
    for s, e in zip(bounds[:-1], bounds[1:]):
        row_id = int(ids[s])
        obs = _obs_from_arrays(pos_a, lf_a, lab_a, s, e,
                               lens[row_id], frozenset(lfs))
        gamma, _, _ = _forward_backward(p, obs)
        for t, votes in enumerate(obs):
            if votes:
                n_obs_positions += 1
                label, score = dec_map[(row_id, t)]
                assert score == pytest.approx(float(gamma[t][1]), rel=1e-9)
                assert label == ("PERSON_NAME" if gamma[t][1] > 0.5
                                 else "NOT_NAME")
    assert len(dec) == n_obs_positions > 0


def test_pipeline_hmm_aggregator_end_to_end(spark, tmp_path):
    """run(aggregator='hmm') through all four stages on cased ASCII and
    non-ASCII rows. The HMM's document lengths count the labeler's tokens:
    the JVM regex reads "é. Bob" as 2 tokens where the labeler reads 3, so
    a length from the JVM drops the vote on "Bob" at position 2."""
    c = synthetic_corpus(spark, N_ROWS).unionByName(
        edge_rows_corpus(spark, UNICODE_ROWS)).cache()
    wh = str(tmp_path)
    assert run(spark, c, PipelineConfig(warehouse=wh, aggregator="hmm")).count() > 0
    ck = read_checkpoints(spark, wh)
    s1b = ck.where(F.col("stage") == "s1b").first()
    assert s1b["counters"]["aggregator_hmm"] == 1
    assert ck.where(F.col("stage") == "s4").first()["sha_ok"]
    ents = {r["row_id"]: set(r["entities"])
            for r in cat.read_table(spark, wh, "entities").collect()}
    assert any(ents.values())
    bob_row = next(rid for rid, t in UNICODE_ROWS if t == "é. Bob")
    assert "bob" in ents.get(bob_row, set())
    c.unpersist()
