"""W3 rule patterns + W5 capitalization detectors as relational operators.

Reference: 27 spacy Matcher patterns (/root/reference/sweet/neat_extractors.py:26-116)
— a 1- or 2-token lower-cased trigger followed by {"TAG": "NNP"}; the emitted
span is the NNP token (name_start = start + weights[0], :98-102), with
base_conf = weights[1].

Faithful quirks preserved:
* Several triggers contain uppercase in their LOWER attr ("Ms", "Miss.",
  "Ts", "Mrs", "Mz", "Mme", "Madame", "Mademoiselle") — spacy's LOWER is
  always lower-cased, so those patterns can never fire. We encode triggers
  verbatim and compare against lower(token): the dead patterns stay dead.
* spacy POS is unavailable in-sandbox; NNP uses the capitalized-token proxy
  (documented deviation, SURVEY.md §7.0) in BOTH engine and oracle.
* Dotted triggers ("ms.") are dead under the regex tokenizer (the dot is a
  separate token) — deviation shared with the oracle.

Caps detectors (/root/reference/sweet/labeling_functions.py:76-97):
* AllCapsDetector: doc[1:], tok.is_upper and len > 2.
* NameCaseStructureDetector: doc[1:-2], cur[0].isupper() and 2 < len < 15.

All implemented over the exploded (row_id, pos, tok) view with window
``lead``s — pure whole-stage-codegen predicates; the only shuffle is the
window's partition-by row_id, which reuses the corpus partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# (pattern name, trigger tokens, name_offset==len(trigger), base_conf)
# exactly /root/reference/sweet/neat_extractors.py:28-56 + weights :76-84.
RULE_PATTERNS: list[tuple[str, tuple[str, ...], float]] = [
    ("pattern0", ("call", "me"), 0.5),
    ("pattern1", ("name", "is"), 0.5),
    ("pattern2", ("i", "am"), 0.5),
    ("pattern3", ("it", "is"), 0.5),
    ("pattern4", ("ask", "for"), 0.5),
    ("pattern5", ("Ms",), 0.5),           # dead (LOWER can't be 'Ms')
    ("pattern6", ("ms.",), 0.5),          # dead under regex tokenizer
    ("pattern7", ("aka",), 0.5),
    ("pattern8", ("miss",), 0.5),
    ("pattern9", ("Miss.",), 0.5),        # dead
    ("pattern10", ("Ts",), 0.5),          # dead
    ("pattern11", ("Mrs",), 0.5),         # dead
    ("pattern12", ("mrs.",), 0.5),        # dead under regex tokenizer
    ("pattern13", ("Mz",), 0.5),          # dead
    ("pattern14", ("mz.",), 0.5),         # dead under regex tokenizer
    ("pattern15", ("named",), 0.5),
    ("pattern16", ("appelez", "moi"), 0.5),
    ("pattern17", ("appelle", "moi"), 0.5),
    ("pattern18", ("nom", "est"), 0.5),
    ("pattern19", ("m", "appelle"), 0.67),
    ("pattern20", ("c", "est"), 0.5),
    ("pattern21", ("demander",), 0.5),
    ("pattern22", ("Mme",), 0.5),         # dead
    ("pattern23", ("Madame",), 0.5),      # dead
    ("pattern24", ("Mademoiselle",), 0.5),  # dead
    ("pattern25", ("alias",), 0.5),
    ("pattern26", ("surnom",), 0.5),
]

# capitalized-token proxy for spacy {"TAG": "NNP"} (deviation, SURVEY §7.0)
NNP_REGEX = r"^\p{Lu}"


def rule_mentions(token_view: DataFrame, patterns=None,
                  lf_prefix: str = "rule") -> DataFrame:
    """All 27 patterns in ONE pass: two window leads + a CASE per pattern.

    Output MENTIONS rows; lf_name = f'{lf_prefix}{k}' per reference
    RuleAnnotator naming ('rule0_annotator' -> we use 'rule0').
    """
    patterns = patterns if patterns is not None else RULE_PATTERNS
    w = Window.partitionBy("row_id").orderBy("pos")
    df = token_view.withColumn("t1", F.lead("tok", 1).over(w)).withColumn(
        "t2", F.lead("tok", 2).over(w)
    )
    # ONE corpus pass: per token, an array with one struct per fired pattern,
    # then a single explode. (A per-pattern union would re-run the window 27x.)
    hits = []
    for idx, (pname, trig, conf) in enumerate(patterns):
        if len(trig) == 2:
            cond = (
                (F.lower(F.col("tok")) == trig[0])
                & (F.lower(F.col("t1")) == trig[1])
                & F.col("t2").rlike(NNP_REGEX)
            )
            name_col, off = F.col("t2"), 2
        else:
            cond = (F.lower(F.col("tok")) == trig[0]) & F.col("t1").rlike(NNP_REGEX)
            name_col, off = F.col("t1"), 1
        hits.append(
            F.when(
                cond,
                F.struct(
                    F.lit(f"{lf_prefix}{idx}").alias("lf_name"),
                    (F.col("pos") + off).cast("int").alias("begin"),
                    (F.col("pos") + off + 1).cast("int").alias("end"),
                    name_col.alias("surface"),
                    F.lit(conf).alias("base_conf"),
                ),
            )
        )
    exploded = (
        df.select(
            "row_id",
            F.explode(F.filter(F.array(*hits), lambda x: x.isNotNull())).alias("m"),
        )
    )
    return exploded.select(
        "row_id",
        F.col("m.lf_name").alias("lf_name"),
        F.col("m.begin").alias("begin"),
        F.col("m.end").alias("end"),
        F.col("m.surface").alias("surface"),
        F.lit("PERSON_NAME").alias("label"),
        F.col("m.base_conf").alias("base_conf"),
        F.col("m.base_conf").alias("confidence"),
    )


def rule_mentions_arrays(tokens_df: DataFrame, patterns=None,
                         lf_prefix: str = "rule") -> DataFrame:
    """`rule_mentions` on the (row_id, tokens) ARRAY frame: the trigger
    lookahead (tok, tok+1, tok+2) is a within-row computation, so the
    exploded-view variant's Window(row_id ORDER BY pos) shuffle+sort buys
    nothing — this one is a pure Project/Generate (zero shuffle, row-set
    identical; asserted by tests/test_bio_and_text.py)."""
    patterns = patterns if patterns is not None else RULE_PATTERNS
    toks = F.col("tokens")

    def elem_hits(x, i):
        # x = tokens[i]; 0-based get for the lookahead tokens: NULL past
        # the row end (element_at raises there under ANSI mode)
        t1 = F.get(toks, i + 1)
        t2 = F.get(toks, i + 2)
        hits = []
        for idx, (pname, trig, conf) in enumerate(patterns):
            if len(trig) == 2:
                cond = ((F.lower(x) == trig[0]) & (F.lower(t1) == trig[1])
                        & t2.rlike(NNP_REGEX))
                name_col, off = t2, 2
            else:
                cond = (F.lower(x) == trig[0]) & t1.rlike(NNP_REGEX)
                name_col, off = t1, 1
            hits.append(F.when(cond, F.struct(
                F.lit(f"{lf_prefix}{idx}").alias("lf_name"),
                (i + off).cast("int").alias("begin"),
                (i + off + 1).cast("int").alias("end"),
                name_col.alias("surface"),
                F.lit(conf).alias("base_conf"),
            )))
        return F.filter(F.array(*hits), lambda h: h.isNotNull())

    exploded = tokens_df.select(
        "row_id",
        F.explode(F.flatten(F.transform(toks, elem_hits))).alias("m"),
    )
    return exploded.select(
        "row_id",
        F.col("m.lf_name").alias("lf_name"),
        F.col("m.begin").alias("begin"),
        F.col("m.end").alias("end"),
        F.col("m.surface").alias("surface"),
        F.lit("PERSON_NAME").alias("label"),
        F.col("m.base_conf").alias("base_conf"),
        F.col("m.base_conf").alias("confidence"),
    )


def all_caps_mentions(token_view: DataFrame) -> DataFrame:
    """AllCapsDetector (labeling_functions.py:76-83): pos >= 1, is_upper,
    len > 2. Python str.isupper == (has a cased char) and (all cased are
    upper) == upper(t)==t and lower(t)!=t."""
    return token_view.where(
        (F.col("pos") >= 1)
        & (F.length("tok") > 2)
        & (F.upper("tok") == F.col("tok"))
        & (F.lower("tok") != F.col("tok"))
    ).select(
        "row_id",
        F.lit("all_caps").alias("lf_name"),
        F.col("pos").cast("int").alias("begin"),
        (F.col("pos") + 1).cast("int").alias("end"),
        F.col("tok").alias("surface"),
        F.lit("PERSON_NAME").alias("label"),
        F.lit(0.5).alias("base_conf"),
        F.lit(0.5).alias("confidence"),
    )


def name_case_mentions(token_view: DataFrame) -> DataFrame:
    """NameCaseStructureDetector (labeling_functions.py:86-97): doc[1:-2],
    first char uppercase, 2 < len < 15."""
    return token_view.where(
        (F.col("pos") >= 1)
        & (F.col("pos") < F.col("n_toks") - 2)
        & (F.length("tok") > 2)
        & (F.length("tok") < 15)
        & F.col("tok").rlike(NNP_REGEX)
    ).select(
        "row_id",
        F.lit("name_case").alias("lf_name"),
        F.col("pos").cast("int").alias("begin"),
        (F.col("pos") + 1).cast("int").alias("end"),
        F.col("tok").alias("surface"),
        F.lit("PERSON_NAME").alias("label"),
        F.lit(0.5).alias("base_conf"),
        F.lit(0.5).alias("confidence"),
    )
