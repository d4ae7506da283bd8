"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed: the same seed gives the same
rows, files and gold labels. The program under test receives only the written
parquet files; the gold sets stay with the benchmark.

Gold follows the pipeline's own output contract: the ``entities`` table holds
lower-cased *tokens* voted PERSON_NAME per row, so batch gold is the
lower-cased token set of the name planted in each row, plus the hub name.
Streamed facts are ``(repo, lower(surface))``; they are compared on the same
token basis, as ``(repo, token)`` pairs.
"""

from __future__ import annotations

import hashlib
import os
import random
import re
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

from ht_ner_spark.corpus import DEFAULT_GAZETTEER
from ht_ner_spark.functions.text import TOKEN_PATTERN

CORPUS_SCHEMA = pa.schema([
    ("row_id", pa.int64()), ("repo", pa.string()), ("path", pa.string()),
    ("commit", pa.string()), ("lang", pa.string()), ("content", pa.string()),
])

_LANGS = ["python", "java", "go", "js", "md"]
_EXT = {"python": "py", "java": "java", "go": "go", "js": "js", "md": "md"}
_FILLER = ("def load parse main loop value result index token stream buffer "
           "return import class self data args max val key").split()
_RULE_TEMPLATES = [
    "please call me {NAME} after the build",
    "my name is {NAME} and i wrote this module",
    "ask for {NAME} when the test fails",
    "aka {NAME} in the commit log",
    "reviewed by miss {NAME} yesterday",
    "it is {NAME} who owns this file",
]
_CAPS_TEMPLATES = [
    "handoff to {NAME} for review",
    "ping {NAME} about the flaky test",
]
_NO_NAME_BODY = "call the main function with max val and return"
_HUB = " Alice said ok"

_TOKEN_RE = re.compile(TOKEN_PATTERN)


@dataclass
class Corpus:
    """Rows of one workload plus the gold the benchmark checks against."""
    rows: list[tuple]
    gold: dict[int, set[str]]
    planted: dict[int, str]  # row_id -> planted surface variant


def _row(rng: random.Random, i: int, seed: int, body: str, hub: str) -> tuple:
    lang = _LANGS[i % len(_LANGS)]
    repo = f"org{i % 7}/proj{i % 13}"
    path = f"src/mod{i % 23}/file{i}.{_EXT[lang]}"
    commit = hashlib.sha1(f"{seed}:commit:{i}".encode()).hexdigest()
    pre = " ".join(rng.choice(_FILLER) for _ in range(8))
    post = " ".join(rng.choice(_FILLER) for _ in range(8))
    return (i, repo, path, commit, lang, f"{pre} {body}{hub} {post}")


def _name_body(rng: random.Random, variant: str) -> str:
    templates = (_RULE_TEMPLATES if rng.random() < 0.75 else _CAPS_TEMPLATES)
    return rng.choice(templates).format(NAME=variant)


def _variants(name: str) -> list[str]:
    cap = " ".join(w.capitalize() for w in name.split())
    out = [cap, name.upper()]
    if len(name) > 4:
        out.append(cap[:4])
    return out


def kg_names(seed: int, n_rows: int, start: int = 0) -> Corpus:
    """Rows shaped like ``corpus.synthetic_corpus``: code filler, a rule or
    caps template around one of the default gazetteer's person names in 8 of
    10 rows, and an "Alice" hub in about 1 of 9 rows."""
    rng = random.Random(f"kg_names:{seed}:{start}")
    names = sorted(n for n, w in DEFAULT_GAZETTEER.items() if w >= 0.5)
    rows, gold, planted = [], {}, {}
    for i in range(start, start + n_rows):
        ents: set[str] = set()
        if rng.random() < 0.8:
            variant = rng.choice(_variants(rng.choice(names)))
            body = _name_body(rng, variant)
            planted[i] = variant
            ents.update(t.lower() for t in variant.split())
        else:
            body = _NO_NAME_BODY
        hub = ""
        if rng.random() < 1 / 9:
            hub = _HUB
            ents.add("alice")
        rows.append(_row(rng, i, seed, body, hub))
        gold[i] = ents
    return Corpus(rows, gold, planted)


def stream_appends(seed: int, n_appends: int, rows_per_append: int
                   ) -> list[Corpus]:
    """A fixed sequence of small appends of ``kg_names``-shaped rows with
    disjoint row ids."""
    return [kg_names(seed, rows_per_append, start=k * rows_per_append)
            for k in range(n_appends)]


def describe(c: Corpus) -> dict:
    """Workload shape with its bases, so that ratios have denominators."""
    n_tok = 0
    vocab: set[str] = set()
    for r in c.rows:
        toks = _TOKEN_RE.findall(r[5])
        n_tok += len(toks)
        vocab.update(t.lower() for t in toks)
    return {
        "rows": len(c.rows),
        "tokens": n_tok,
        "vocabulary": len(vocab),
        "distinct_surfaces": len({v.lower() for v in c.planted.values()}),
        "gazetteer": len(DEFAULT_GAZETTEER),
        "rows_with_planted_name": len(c.planted),
        "planted_share": round(len(c.planted) / max(1, len(c.rows)), 4),
        "hub_rows": sum(1 for r in c.rows if _HUB in r[5]),
    }


def write_parquet(rows: list[tuple], directory: str, n_files: int,
                  prefix: str = "part") -> None:
    """Split rows into ``n_files`` parquet files; each lands under a hidden
    temporary name and is renamed into place, so a directory scan never sees
    a partial file."""
    os.makedirs(directory, exist_ok=True)
    step = -(-len(rows) // n_files)
    for k in range(n_files):
        chunk = rows[k * step:(k + 1) * step]
        if not chunk:
            continue
        cols = list(zip(*chunk))
        table = pa.table({f.name: pa.array(col, f.type)
                          for f, col in zip(CORPUS_SCHEMA, cols)},
                         schema=CORPUS_SCHEMA)
        final = os.path.join(directory, f"{prefix}-{k:05d}.parquet")
        tmp = os.path.join(directory, f".{prefix}-{k:05d}.parquet.tmp")
        pq.write_table(table, tmp)
        os.rename(tmp, final)
