"""Columnar (batch-vectorized) fused stage-1 labeler — the one stage-1
implementation; operators/fused.py wraps it as a Spark operator.

A per-token Python loop spends its time three ways at bench shape
(23-token rows): per-row regex `finditer` iteration (~43%), the per-token
label loop (~28%), and the list-of-tuples -> pd.DataFrame conversion of the
output (~29%).  This module removes all three from the per-token path:

- ONE regex pass over the whole Arrow batch: rows are joined with a
  newline separator (TOKEN_PATTERN's alternatives are all non-whitespace
  runs that together tile every maximal non-whitespace run, so no token
  can cross the separator and the match set over the joined text is
  exactly the union of the per-row match sets); spans are reconstructed
  arithmetically from the token lengths and assigned back to rows by
  `np.searchsorted` against the row char offsets.
- Per-UNIQUE-token property computation: `pd.factorize` compresses the
  batch's token stream to its vocabulary (Zipf: vocab << tokens), every
  per-token predicate (isupper/len/first-char for the caps detectors,
  trie-root membership for the gazetteer, trigger membership for the rule
  patterns, rank lookup for the frequency antirules) is computed once per
  unique and broadcast back by numpy integer gather.
- Columnar emission: each LF family builds typed numpy column arrays
  directly (no per-mention tuple, no astype pass); the only remaining
  Python loops iterate over *hits* (trigger tokens, multi-word trie
  roots), not tokens.
- The J2 span re-projection quirk (labeling_functions.py:27-54) becomes a
  pandas hash join: (row, surface, lf) triples extracted this batch are
  merged against the token stream on (row, exact token text).

- The weighted vote folds in per batch on the pipeline's default path
  (``entities=True``): every vote is indexed by flat token position, so a
  token's score is a ``np.bincount`` over each family's positions, and the
  labeler emits one kind='e' row per corpus row with its PERSON_NAME
  tokens instead of the vote rows.

The one entry point is run_arrow_batches, the mapInArrow body of the
fused pass: RecordBatches in, one RecordBatch per LF family (and one of
entity rows) out.
tests/test_fused_vec.py feeds it 2,048-row RecordBatches, the size the
session's Arrow conf produces, and holds its output row-multiset
identical to the per-row reference in tests/oracle.py on adversarial
Unicode, caps, trigger, embedded-newline and fuzz corpora, and its entity
rows equal the oracle's weighted vote over the oracle's votes;
tests/test_fused.py diffs the Spark path against the composed relational
operators (ASCII text: those tokenize with the JVM regex engine).
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
from pyspark.sql.pandas.types import to_arrow_schema

from ..functions.text import TOKEN_PATTERN
from .fused import _TRIG_MAP, S1_COMBINED

_TOKEN_RE = re.compile(TOKEN_PATTERN)
_WS_RE = re.compile(r"\s")

_RANK_MISSING = 1 << 62

# emission dtypes (match S1_COMBINED exactly)
_I32 = np.int32
_I64 = np.int64
_F64 = np.float64

# the emitted RecordBatches' schema: S1_COMBINED in Arrow terms
_ARROW_SCHEMA = to_arrow_schema(S1_COMBINED)


def _part(kind, rid, lf, begin, end, surface, label, base, conf, weight,
          bc, ec, n) -> dict:
    """One LF family's emission as a dict of typed numpy column arrays.
    Scalar args are broadcast; n is the row count (callers pass arrays of
    that length). Kept as raw arrays so run_arrow_batches can build
    RecordBatches without pandas-block introspection (measured ~0.4 s per
    220k-row batch in pa.Table.from_pandas)."""

    def arr(v, dtype):
        if isinstance(v, np.ndarray):
            return v.astype(dtype, copy=False)
        return np.full(n, v, dtype=dtype)

    def obj(v):
        if isinstance(v, (np.ndarray, list)):
            return np.asarray(v, dtype=object)
        return np.full(n, v, dtype=object)

    return {
        "kind": obj(kind),
        "row_id": arr(rid, _I64),
        "lf_name": obj(lf),
        "begin": arr(begin, _I32),
        "end": arr(end, _I32),
        "surface": obj(surface),
        "label": obj(label),
        "base_conf": arr(base, _F64),
        "confidence": arr(conf, _F64),
        "weight": arr(weight, _F64),
        "begin_char": arr(bc, _I32),
        "end_char": arr(ec, _I32),
    }


def tokenize_batch(row_ids, texts):
    """One C-level TOKEN_PATTERN pass over the joined batch -> flat token
    arrays.

    `findall` (C loop) extracts the token strings; char spans are
    reconstructed ARITHMETICALLY instead of via per-match Python
    `m.span()` calls: TOKEN_PATTERN's three alternatives (\\w+ runs,
    $-number runs, rest-of-\\S-run) exactly tile every maximal
    non-whitespace run and never match whitespace, so a token's global
    start is its cumulative non-whitespace offset re-based into its run
    (run boundaries come from a vectorized whitespace mask over the
    codepoint array).  A mismatch of the two char totals would mean the
    tiling premise broke; it raises instead of emitting wrong spans.

    Returns (rid_tok, pos, n_tok, start, end, toks_obj, codes, uniques):
    per-token row id, within-row index, row token count, within-row char
    span, token text (object ndarray via unique gather), factorize codes
    and the unique token list.  All int arrays are int64.
    """
    txts = [t if isinstance(t, str) else ("" if t is None else str(t))
            for t in texts]
    nrows = len(txts)
    big = "\n".join(txts)
    toks = _TOKEN_RE.findall(big)
    if not toks:
        z = np.zeros(0, dtype=_I64)
        return z, z, z, z, z, np.zeros(0, dtype=object), z, []
    codes, uniq = pd.factorize(np.asarray(toks, dtype=object))
    codes = codes.astype(_I64, copy=False)
    uniques = list(uniq)
    u_len = np.fromiter(map(len, uniques), dtype=_I64, count=len(uniques))
    tok_lens = u_len[codes]

    # vectorized whitespace mask over the codepoint array: classify only
    # the codepoints actually present (re's \s semantics, not str.isspace)
    arr = np.frombuffer(big.encode("utf-32-le"), dtype=np.uint32)
    ucp = np.unique(arr)
    ws_present = np.asarray(
        [c for c in ucp.tolist() if _WS_RE.match(chr(c))], dtype=np.uint32)
    table = np.zeros(int(ucp[-1]) + 1, dtype=np.bool_)
    if ws_present.size:
        table[ws_present] = True
    ns = ~table[arr]
    run_start_idx = np.nonzero(ns & ~np.concatenate(([False], ns[:-1])))[0]
    run_end_idx = np.nonzero(ns & ~np.concatenate((ns[1:], [False])))[0] + 1
    run_lens = run_end_idx - run_start_idx
    run_cum = np.cumsum(run_lens)
    run_cum0 = run_cum - run_lens
    cum = np.cumsum(tok_lens)
    if run_cum.size == 0 or cum[-1] != run_cum[-1]:
        raise RuntimeError(
            f"tokens cover {int(cum[-1])} chars but the batch has "
            f"{int(run_cum[-1]) if run_cum.size else 0} non-whitespace "
            "chars: TOKEN_PATTERN no longer tiles the \\S runs")
    start_in_concat = cum - tok_lens
    runi = np.searchsorted(run_cum, start_in_concat, side="right")
    gs = run_start_idx[runi] + (start_in_concat - run_cum0[runi])
    ge = gs + tok_lens

    # char offset of each row's first character inside `big`
    lens = np.fromiter((len(t) for t in txts), dtype=_I64, count=nrows)
    row_char0 = np.concatenate(([0], np.cumsum(lens[:-1] + 1)))
    ridx = np.searchsorted(row_char0, gs, side="right") - 1
    start = gs - row_char0[ridx]
    end = ge - row_char0[ridx]
    row_len = np.bincount(ridx, minlength=nrows).astype(_I64)
    rid_arr = np.asarray(row_ids, dtype=_I64)
    rid_tok = rid_arr[ridx]
    n_tok = row_len[ridx]
    row_first = np.concatenate(([0], np.cumsum(row_len[:-1])))
    pos = np.arange(len(toks), dtype=_I64) - row_first[ridx]
    tok_obj = np.asarray(uniq, dtype=object)[codes]
    return rid_tok, pos, n_tok, start, end, tok_obj, codes, uniques


def _entity_part(rid_tok, codes, uniques, hit) -> dict:
    """kind='e' rows from the flat positions ``hit`` voted PERSON_NAME: one
    row per corpus row, its distinct original-case tokens space-joined in
    first-seen order (no token contains U+0020: every TOKEN_PATTERN
    alternative is a non-whitespace run). A row's tokens are contiguous in
    the flat stream, so a run of equal row ids is one corpus row."""
    rows: list[int] = []
    toks: list[dict] = []
    prev = None
    for r, c in zip(rid_tok[hit].tolist(), codes[hit].tolist()):
        if r != prev:
            prev = r
            rows.append(r)
            toks.append({})
        toks[-1][c] = None
    surf = [" ".join(uniques[c] for c in d) for d in toks]
    return _part("e", np.asarray(rows, dtype=_I64), "weighted_vote", 0, 0,
                 surf, "PERSON_NAME", 0.0, 0.0, 0.0, 0, 0, len(rows))


def _label_parts(row_ids, texts, trie, common_ranks, freq_cutoffs,
                 entities: bool = False) -> list[dict]:
    """Columnar stage-1 labeling of one batch -> list of per-LF-family
    column-array dicts (see _part). ``trie`` is gazetteer.build_trie's
    dict trie. The votes become kind='v' rows, or with ``entities`` are
    folded here into kind='e' rows: a token is PERSON_NAME iff the sum of
    its ±1.0 votes is > 0.0, aggregate.weighted_vote's rule, and a row
    with no such token gets no row, as in aggregate.predicted_entities."""
    (rid_tok, pos, n_tok, start, end, tok_obj, codes,
     uniques) = tokenize_batch(row_ids, texts)
    if len(codes) == 0:
        return []

    nu = len(uniques)
    u_low = [t.lower() for t in uniques]
    u_len = np.fromiter(map(len, uniques), dtype=_I64, count=nu)
    u_isup = np.fromiter((t.isupper() for t in uniques), dtype=np.bool_,
                         count=nu)
    u_first = np.fromiter(
        ((t[0].isupper() and t[0].isalpha()) if t else False
         for t in uniques),
        dtype=np.bool_, count=nu)

    parts: list[dict] = []
    # vote families: (flat token positions, lf name(s), label); every vote
    # weighs 1.0
    votes: list[tuple[np.ndarray, object, str]] = []
    # (rid, surface, lf) triples feeding the J2 re-projection vote pass.
    # Bulk emitters append ARRAY parts (deduped later by drop_duplicates:
    # one vote per (row, token, lf) however many extractions share the
    # surface); the small loops (rules, multi-word trie walks) append to
    # j2_small.
    j2_rids: list[np.ndarray] = []
    j2_surfs: list[np.ndarray] = []
    j2_lfs: list[np.ndarray] = []
    j2_small: set[tuple[int, str, str]] = set()

    # ---- gazetteer (PhraseMatcher(LOWER): all matches at all positions,
    #      sweet/neat_extractors.py:159-183)
    u_entry = np.zeros(nu, dtype=np.bool_)
    u_w = np.zeros(nu, dtype=_F64)
    u_children = np.zeros(nu, dtype=np.bool_)
    tget = trie.get
    for ui, lw in enumerate(u_low):
        node = tget(lw)
        if node is None:
            continue
        w = node.get("\0")
        if w is not None:
            u_entry[ui] = True
            u_w[ui] = w
        if len(node) > (1 if w is not None else 0):
            u_children[ui] = True
    # single-token entries: fully columnar
    idx1 = np.nonzero(u_entry[codes])[0]
    if idx1.size:
        w1 = u_w[codes[idx1]]
        s1 = tok_obj[idx1]
        parts.append(_part("m", rid_tok[idx1], "dictionary",
                           pos[idx1], pos[idx1] + 1, s1, "PERSON_NAME",
                           w1, w1, 0.0, start[idx1], end[idx1],
                           idx1.size))
        j2_rids.append(rid_tok[idx1])
        j2_surfs.append(s1)
        j2_lfs.append(np.full(idx1.size, "dictionary", dtype=object))
    # multi-token matches: walk only roots that have children
    hits2 = np.nonzero(u_children[codes])[0].tolist()
    if hits2:
        gf: list[int] = []
        gj: list[int] = []
        gw: list[float] = []
        gsurf: list[str] = []
        pos_l = pos.tolist()
        n_l = n_tok.tolist()
        codes_l = codes.tolist()
        for f in hits2:
            n_end = f - pos_l[f] + n_l[f]
            node = trie[u_low[codes_l[f]]]
            j = f + 1
            while j < n_end:
                node = node.get(u_low[codes_l[j]])
                if node is None:
                    break
                j += 1
                w = node.get("\0")
                if w is not None:
                    gf.append(f)
                    gj.append(j)
                    gw.append(w)
                    gsurf.append(" ".join(
                        uniques[codes_l[x]] for x in range(f, j)))
        if gf:
            gfa = np.asarray(gf, dtype=_I64)
            gja = np.asarray(gj, dtype=_I64)
            parts.append(_part("m", rid_tok[gfa], "dictionary",
                               pos[gfa], pos[gfa] + (gja - gfa), gsurf,
                               "PERSON_NAME", np.asarray(gw, _F64),
                               np.asarray(gw, _F64), 0.0,
                               start[gfa], end[gja - 1], len(gf)))
            for f, s in zip(gfa.tolist(), gsurf):
                j2_small.add((int(rid_tok[f]), s, "dictionary"))

    # ---- 27 rule patterns (neat_extractors.py:26-116): loop over trigger
    #      hits only; every per-token predicate is a per-unique gather
    trig_lists = [_TRIG_MAP.get(lw) for lw in u_low]
    u_has_trig = np.fromiter((x is not None for x in trig_lists),
                             dtype=np.bool_, count=nu)
    hits = np.nonzero(u_has_trig[codes])[0].tolist()
    if hits:
        rf: list[int] = []
        rlf: list[str] = []
        rconf: list[float] = []
        codes_l2 = codes.tolist()
        pos_l2 = pos.tolist()
        n_l2 = n_tok.tolist()
        rids_l2 = rid_tok.tolist()
        for f in hits:
            i = pos_l2[f]
            n = n_l2[f]
            for lf, trig, conf in trig_lists[codes_l2[f]]:
                k = len(trig)
                if i + k >= n:
                    continue
                if k == 2 and u_low[codes_l2[f + 1]] != trig[1]:
                    continue
                cu = codes_l2[f + k]
                if u_first[cu]:
                    fn = f + k
                    rf.append(fn)
                    rlf.append(lf)
                    rconf.append(conf)
                    j2_small.add((rids_l2[f], uniques[cu], lf))
        if rf:
            rfa = np.asarray(rf, dtype=_I64)
            ca = np.asarray(rconf, dtype=_F64)
            parts.append(_part("m", rid_tok[rfa], rlf, pos[rfa],
                               pos[rfa] + 1, tok_obj[rfa], "PERSON_NAME",
                               ca, ca, 0.0, start[rfa], end[rfa], len(rf)))

    # ---- caps detectors (labeling_functions.py:76-97): fully columnar
    len_ok = u_len > 2
    ac_idx = np.nonzero((u_isup & len_ok)[codes] & (pos >= 1))[0]
    if ac_idx.size:
        n = ac_idx.size
        parts.append(_part("m", rid_tok[ac_idx], "all_caps", pos[ac_idx],
                           pos[ac_idx] + 1, tok_obj[ac_idx], "PERSON_NAME",
                           0.5, 0.5, 0.0, start[ac_idx], end[ac_idx], n))
        votes.append((ac_idx, "all_caps", "PERSON_NAME"))
    nc_idx = np.nonzero((len_ok & (u_len < 15) & u_first)[codes]
                        & (pos >= 1) & (pos < n_tok - 2))[0]
    if nc_idx.size:
        n = nc_idx.size
        parts.append(_part("m", rid_tok[nc_idx], "name_case", pos[nc_idx],
                           pos[nc_idx] + 1, tok_obj[nc_idx], "PERSON_NAME",
                           0.5, 0.5, 0.0, start[nc_idx], end[nc_idx], n))
        votes.append((nc_idx, "name_case", "PERSON_NAME"))

    # ---- J2 span re-projection (labeling_functions.py:27-54): hash join
    #      of the token stream vs this batch's extracted (row, surface, lf)
    if j2_small:
        j2_rids.append(np.fromiter((r for r, _, _ in j2_small),
                                   dtype=_I64, count=len(j2_small)))
        j2_surfs.append(np.array([s for _, s, _ in j2_small], dtype=object))
        j2_lfs.append(np.array([lf for _, _, lf in j2_small], dtype=object))
    if j2_rids:
        right = pd.DataFrame(
            {"rid": np.concatenate(j2_rids),
             "tok": np.concatenate(j2_surfs),
             "lf": np.concatenate(j2_lfs)}).drop_duplicates()
        surf_uniq = pd.unique(right["tok"].to_numpy())
        u_insurf = np.asarray(pd.Index(uniques).isin(surf_uniq))
        cand = np.nonzero(u_insurf[codes])[0]
        if cand.size:
            left = pd.DataFrame({"rid": rid_tok[cand],
                                 "tok": tok_obj[cand], "f": cand})
            mg = left.merge(right, on=["rid", "tok"], how="inner")
            if len(mg):
                votes.append((mg["f"].to_numpy(), mg["lf"].to_numpy(),
                              "PERSON_NAME"))

    # ---- frequency antirules (create_lfs.py:17-34 +
    #      labeling_functions.py:135-143): rank gather per unique token
    #      (looked up by original-case token text, as the reference's
    #      `tok.text in common_words`)
    if common_ranks and freq_cutoffs:
        rg = common_ranks.get
        u_rank = np.fromiter((rg(t, _RANK_MISSING) for t in uniques),
                             dtype=_I64, count=nu)
        rank_flat = u_rank[codes]
        for lf, max_rank in freq_cutoffs:
            fi = np.nonzero(rank_flat <= max_rank)[0]
            if fi.size:
                votes.append((fi, lf, "NOT_NAME"))

    if entities:
        # weighted vote per flat token position: one bincount per family
        score = np.zeros(len(codes), dtype=_I64)
        for idx, _, label in votes:
            tally = np.bincount(idx, minlength=len(codes))
            score += tally if label == "PERSON_NAME" else -tally
        hit = np.nonzero(score > 0)[0]
        if hit.size:
            parts.append(_entity_part(rid_tok, codes, uniques, hit))
        return parts
    for idx, lf, label in votes:
        parts.append(_part("v", rid_tok[idx], lf, pos[idx], pos[idx] + 1,
                           tok_obj[idx], label, 0.0, 0.0, 1.0, 0, 0,
                           idx.size))
    return parts


# Coalesce incoming Arrow batches up to this many rows before labeling.
# Two opposing forces, both MEASURED at 600k rows / 8 cores: (a) the
# columnar labeler amortizes per-batch fixed cost (factorize setup,
# per-unique property pass, J2 merge, emission concat) over batch size;
# (b) buffering breaks the produce/consume overlap between the Python
# worker and the JVM (while Python holds input batches without yielding,
# the JVM's writer idles) — a 65k buffer measured s1 at 19-31 s vs the
# pass-through path's 14-15 s. So the target only coalesces the session
# factory's deliberately small model-memory batches (2048 rows) up to the
# Spark default batch (10k); 10k-row input batches pass through 1:1 and
# keep streaming.
COALESCE_ROWS = 10_000


def _parts_to_record_batches(parts: list[dict]):
    """Per-LF-family column dicts -> pyarrow RecordBatches matching
    S1_COMBINED. Built column-by-column with pa.array over the typed numpy
    arrays: no pandas block manager in the path (pa.Table.from_pandas
    measured ~0.4 s per 220k-row batch — pure introspection overhead; the
    direct pa.array calls total ~0.1 s), and each family streams as its
    own batch, so there is no concat either."""
    import pyarrow as pa

    for p in parts:
        yield pa.RecordBatch.from_arrays(
            [pa.array(p[f.name], type=f.type) for f in _ARROW_SCHEMA],
            schema=_ARROW_SCHEMA)


def run_arrow_batches(batches, trie, common_ranks, freq_cutoffs,
                      entities: bool = False):
    """mapInArrow body of the fused pass: coalesce input RecordBatches
    (row_id, text) up to COALESCE_ROWS, label, stream one RecordBatch per
    LF family. ``entities`` folds the votes into kind='e' rows
    (_label_parts)."""

    def one(chunks: list) -> list[dict]:
        if len(chunks) == 1:
            rid, texts = chunks[0]
        else:
            rid = np.concatenate([c[0] for c in chunks])
            texts = []
            for c in chunks:
                texts.extend(c[1])
        return _label_parts(rid, texts, trie, common_ranks, freq_cutoffs,
                            entities)

    buf: list = []
    nbuf = 0
    for rb in batches:
        rid = rb.column(0).to_numpy(zero_copy_only=False)
        texts = rb.column(1).to_pylist()
        buf.append((rid, texts))
        nbuf += len(rid)
        if nbuf >= COALESCE_ROWS:
            yield from _parts_to_record_batches(one(buf))
            buf, nbuf = [], 0
    if buf:
        yield from _parts_to_record_batches(one(buf))
