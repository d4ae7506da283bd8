"""Single-node pure-Python oracle (SURVEY §5.1).

A small, faithful reimplementation of each reference operator — same regexes,
same thresholds, same quirks (J2 re-projection, dead patterns, Counter
tie-break) — sharing the documented deviations (regex tokenizer for spacy,
capitalized-token proxy for NNP). pytest compares Spark output to this oracle
row-set-wise; this stands in for "the reference's emitted triples" since the
reference's deps (spacy/skweak/torch/truecase) are absent in the sandbox.

Reference citations inline.
"""

from __future__ import annotations

import re
from collections import Counter

from ht_ner_spark.operators.antirules import PUNCT_REGEX, STOPWORDS, THRESHOLDS
from ht_ner_spark.operators.rules import RULE_PATTERNS

TOKEN_RE = re.compile(r"\w+|\$[\d\.]+|\S+")  # src/metrics.py:5
_PUNCT_RE = re.compile(r"^[^\w\s]+$")  # mirror of \p{P}\p{S} for ASCII fixtures


def tokenize(text: str) -> list[str]:
    return TOKEN_RE.findall(text or "")


# ---- gazetteer (sweet/neat_extractors.py:123-193) -------------------------

def gazetteer_mentions(tokens: list[str], weights: dict[str, float]):
    """All (begin, end, surface, weight) spans, PhraseMatcher(LOWER)
    semantics: every match at every position, weight by lower surface."""
    low = [t.lower() for t in tokens]
    phrases = {tuple(k.lower().split()): float(v) for k, v in weights.items()}
    out = []
    for i in range(len(tokens)):
        for ph, w in phrases.items():
            n = len(ph)
            if tuple(low[i : i + n]) == ph and i + n <= len(tokens):
                out.append((i, i + n, " ".join(tokens[i : i + n]), w))
    return out


# ---- rule patterns (sweet/neat_extractors.py:26-116) ----------------------

def rule_mentions(tokens: list[str]):
    """(lf_name, begin, end, surface, conf) per fired pattern; NNP proxy =
    first char uppercase letter."""
    low = [t.lower() for t in tokens]
    out = []
    for idx, (pname, trig, conf) in enumerate(RULE_PATTERNS):
        k = len(trig)
        for i in range(len(tokens) - k):
            if tuple(low[i : i + k]) == trig:
                nnp = tokens[i + k]
                if nnp and nnp[0].isupper() and nnp[0].isalpha():
                    out.append((f"rule{idx}", i + k, i + k + 1, nnp, conf))
    return out


# ---- caps detectors (sweet/labeling_functions.py:76-97) --------------------

def all_caps(tokens: list[str]):
    return [
        (i, tokens[i])
        for i in range(1, len(tokens))
        if tokens[i].isupper() and len(tokens[i]) > 2
    ]


def name_case(tokens: list[str]):
    # doc[1:-2] -> indices 1 .. len-3
    return [
        (i, tokens[i])
        for i in range(1, max(len(tokens) - 2, 1))
        if tokens[i][:1].isupper()
        and tokens[i][:1].isalpha()
        and 2 < len(tokens[i]) < 15
    ]


# ---- frequency antirules (sweet/create_lfs.py:17-34) ----------------------

def frequency_common_words(docs_tokens: list[list[str]]):
    """Counter over non-stop non-punct tokens, most_common ordering
    (count desc, first-seen asc)."""
    words = []
    for toks in docs_tokens:
        words += [
            t for t in toks
            if t.lower() not in STOPWORDS and not _PUNCT_RE.match(t)
        ]
    freq = Counter(words)
    return [w for w, _ in freq.most_common(len(freq))]


def frequency_votes(docs_tokens: dict[int, list[str]], thresholds=THRESHOLDS):
    ranked = frequency_common_words(
        [docs_tokens[k] for k in sorted(docs_tokens)]
    )
    votes = []
    for t in thresholds:
        common = set(ranked[: int(len(ranked) * t)])
        for row_id, toks in docs_tokens.items():
            for i, tok in enumerate(toks):
                if tok in common:
                    votes.append((row_id, i, f"freq_{t}", "NOT_NAME", 1.0))
    return votes


# ---- J2 projection (sweet/labeling_functions.py:27-54) --------------------

def project_to_votes(tokens: list[str], row_id: int, lf_name: str,
                     surfaces: set[str]):
    """Label every token whose exact text equals an extracted surface."""
    return [
        (row_id, i, lf_name, "PERSON_NAME", 1.0)
        for i, t in enumerate(tokens)
        if t in surfaces
    ]


# ---- weighted vote + entity projection -------------------------------------

def weighted_vote(votes, threshold: float = 0.0):
    """votes: (row_id, pos, lf_name, label, weight) -> {(row_id,pos): label}"""
    score: dict[tuple, float] = {}
    for row_id, pos, lf, label, w in votes:
        score[(row_id, pos)] = score.get((row_id, pos), 0.0) + (
            w if label == "PERSON_NAME" else -w
        )
    return {
        k: ("PERSON_NAME" if s > threshold else "NOT_NAME") for k, s in score.items()
    }


def predicted_entities(docs_tokens: dict[int, list[str]], labels) -> dict[int, set[str]]:
    out: dict[int, set[str]] = {}
    for (row_id, pos), lab in labels.items():
        if lab == "PERSON_NAME":
            out.setdefault(row_id, set()).add(docs_tokens[row_id][pos].lower())
    return out


# ---- end-to-end stage-1 oracle ---------------------------------------------

def stage1_entities(docs: dict[int, str], gazetteer: dict[str, float],
                    use_frequency: bool = True,
                    threshold: float = 0.0) -> dict[int, set[str]]:
    toks = {rid: tokenize(text) for rid, text in docs.items()}
    votes = []
    for rid, tokens in toks.items():
        gaz = gazetteer_mentions(tokens, gazetteer)
        votes += project_to_votes(tokens, rid, "dictionary",
                                  {s for _, _, s, _ in gaz})
        rules = rule_mentions(tokens)
        for lf in {r[0] for r in rules}:
            votes += project_to_votes(
                tokens, rid, lf, {r[3] for r in rules if r[0] == lf}
            )
        votes += [(rid, i, "all_caps", "PERSON_NAME", 1.0) for i, _ in all_caps(tokens)]
        votes += [(rid, i, "name_case", "PERSON_NAME", 1.0) for i, _ in name_case(tokens)]
    if use_frequency:
        votes += frequency_votes(toks)
    labels = weighted_vote(votes, threshold)
    return predicted_entities(toks, labels)


# ---- fused stage-1 rows (the S1_COMBINED shape of operators/fused.py) -----

def stage1_rows(rows, gazetteer: dict[str, float], ranks: dict[str, int],
                cutoffs: list[tuple[str, int]]) -> list[tuple]:
    """(row_id, text) pairs -> the fused labeler's combined mention ('m') and
    vote ('v') rows, one row at a time from the per-LF oracles above. Vote
    rows carry the token as surface and weight 1.0; frequency ranks and
    cutoffs are injected (corpus-global in the pipeline)."""
    out = []
    for rid, text in rows:
        ms = list(TOKEN_RE.finditer(text or ""))
        toks = [m.group(0) for m in ms]

        def mention(lf, b, e, surface, conf):
            out.append(("m", rid, lf, b, e, surface, "PERSON_NAME", conf,
                        conf, 0.0, ms[b].start(), ms[e - 1].end()))

        def vote(lf, i, label="PERSON_NAME"):
            out.append(("v", rid, lf, i, i + 1, toks[i], label,
                        0.0, 0.0, 1.0, 0, 0))

        span_surfaces: dict[str, set[str]] = {}
        for b, e, surface, w in gazetteer_mentions(toks, gazetteer):
            mention("dictionary", b, e, surface, w)
            span_surfaces.setdefault("dictionary", set()).add(surface)
        for lf, b, e, surface, conf in rule_mentions(toks):
            mention(lf, b, e, surface, conf)
            span_surfaces.setdefault(lf, set()).add(surface)
        for lf, surfaces in span_surfaces.items():
            for _row, i, *_ in project_to_votes(toks, rid, lf, surfaces):
                vote(lf, i)
        for lf, detector in (("all_caps", all_caps), ("name_case", name_case)):
            for i, t in detector(toks):
                mention(lf, i, i + 1, t, 0.5)
                vote(lf, i)
        for i, t in enumerate(toks):
            for lf, max_rank in cutoffs:
                if ranks.get(t, max_rank + 1) <= max_rank:
                    vote(lf, i, "NOT_NAME")
    return out


# ---- combiner (neat_extractors.py:224-302) ---------------------------------

def compute_combined(dict_res: dict, rule_res: dict) -> dict:
    """dict_res/rule_res: {(surface, begin): conf} -> {(surface, begin): base_conf}."""
    inter = set(dict_res) & set(rule_res)
    out = {}
    for k in inter:
        out[k] = 0.5 * dict_res[k] + 0.5 * rule_res[k]
    for k in set(dict_res) ^ set(rule_res):
        out[k] = 0.5 * (dict_res.get(k) if k in dict_res else rule_res[k])
    return out


# ---- metrics (src/metrics.py) ----------------------------------------------

def parse_entity_string(s) -> list[str]:
    if s is None or (isinstance(s, float)):
        s = ""
    s = re.sub(r"^N$", "", s)
    return [y.strip() for y in s.lower().split("|")]


def f1_reference(truth: list[str], pred: list[str], ignore_duplicates=True,
                 epsilon=1e-7):
    """Literal reimplementation of src/metrics.py:7-167 for one column pair."""
    etp = efp = efn = epsilon
    ttp = tfp = tfn = epsilon
    for t_raw, p_raw in zip(truth, pred):
        t_list = list(filter(None, parse_entity_string(t_raw)))
        p_list = list(filter(None, parse_entity_string(p_raw)))
        t_set, p_set = set(t_list), set(p_list)
        if ignore_duplicates:
            etp += len(p_set & t_set)
            efp += len(p_set - t_set)
            efn += len(t_set - p_set)
        else:
            for e in t_list:
                if e in p_set:
                    etp += 1
                else:
                    efn += 1
            for e in p_list:
                if e not in t_set:
                    efp += 1
        t_toks, p_toks = [], []
        for e in t_list:
            t_toks += tokenize(e)
        for e in p_list:
            p_toks += tokenize(e)
        t_list2, p_list2 = list(filter(None, t_toks)), list(filter(None, p_toks))
        t_set2, p_set2 = set(t_list2), set(p_list2)
        if ignore_duplicates:
            ttp += len(p_set2 & t_set2)
            tfp += len(p_set2 - t_set2)
            tfn += len(t_set2 - p_set2)
        else:
            for e in t_list2:
                if e in p_set2:
                    ttp += 1
                else:
                    tfn += 1
            for e in p_list2:
                if e not in t_set2:
                    tfp += 1
    out = {}
    for lvl, (tp, fp, fn) in {"entity": (etp, efp, efn), "token": (ttp, tfp, tfn)}.items():
        p = tp / (tp + fp)
        r = tp / (tp + fn)
        out[f"{lvl}_precision"] = p
        out[f"{lvl}_recall"] = r
        out[f"{lvl}_f1"] = 2 * p * r / (p + r)
    return out


# ---- union-find (CC ground truth) ------------------------------------------

def union_find_components(edges: list[tuple[str, str]]) -> dict[str, str]:
    parent: dict[str, str] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in list(parent)}
