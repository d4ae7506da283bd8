#!/usr/bin/env python
"""Benchmark CLI for the ht_ner_spark KG-construction engine.

``perfbench/`` is the benchmark of record (``BENCHMARK.json``): warm
``kg_names`` builds and ``stream_append`` updates with a per-layer trace.
This script measures what perfbench does not, in three sections:

1. **Suite.** Each ``HEADLINE`` contract query of
   ``__spark_entry__.queries()`` is timed once, warm, over
   ``$SPARK_GRAFT_SF_DIR`` on ``local[$SPARK_GRAFT_CPUS]``, and so is the
   4-stage pipeline on a ``PIPELINE_ROWS``-row synthetic corpus. The headline
   ``value`` is their summed seconds. ``EXTRA_OPS`` are timed afterwards in
   their own section, and ``ann_tradeoff`` reports cost and recall@k of every
   ANN path on the same query set.
2. **Kernel rate.** ``fused_labeler_microbench``: tokens/s of the fused
   stage-1 labeler on one core, the median of ``MICROBENCH_REPS`` warm calls.
3. **Scaling.** ``SCALING_PAIRS`` pairs of ``spark-submit --py-files`` runs of
   the pipeline over ``SCALING_ROWS`` rows, at ``local[1]`` and ``local[4]``
   (``SCALING_CORES``), alternating which level runs first. Reported as the
   per-level medians, each pair's efficiency ``(tps_hi / tps_lo) / 4`` and
   the per-stage medians and efficiencies. There is no pass/fail gate.

After each section the whole result so far is printed as one JSON line, so
the last line on stdout is always the most complete one, even if the run is
killed part-way.

Environment:
  SPARK_GRAFT_SF_DIR        testdata directory of the suite (default sf0.1)
  SPARK_GRAFT_CPUS          cores of the suite session (default 32)
  SPARK_GRAFT_WARM_DIR      testdata directory of the untimed warm-up
  SPARK_GRAFT_BENCH_SCRATCH parent directory of the bench warehouses
  SPARK_GRAFT_SCALING_ROWS  corpus rows of a scaling run (default 600000)
  SPARK_GRAFT_NO_SCALING    set to skip the scaling section

Usage:
  python bench.py
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

# queries whose timing we headline (a spread across stages + scale ops);
# everything else in queries() is covered by the correctness gate.
HEADLINE = [
    "tokenize_stats",
    "gazetteer_match",
    "trie_gazetteer",
    "rule_patterns",
    "word_freq_topk",
    "lsh_candidates",
    "connected_components",
    "doc_minhash_pairs",
    "simhash",
    "embedding_topk",
    "ann_bucketed",
    "quality_stats",
    "dedup_exact",
]

# timed into their own section, after the headline loop, so the headline
# list stays comparable across rounds
EXTRA_OPS = [
    "chunk_documents",
    "inverted_index",
    "winnow_fingerprint",
    "hll_distinct",
    "cms_heavy_hitters",
    "boilerplate_lines",
    "dedup_normalized",
    "adamic_adar",
    "random_walks",
    "trending_events",
    # code-aware family
    "code_triples",
    "repo_similarity",
    "clone_pairs",
    "call_edges",
    "secret_scan",
    # KG-lifecycle family
    "kg_diff",
    "kg_asof",
    "scd2_intervals",
    "alias_canonical",
    "pred_cardinality",
    # post-stage-4 consumers, ER evaluation and fusion
    "entity_types",
    "pg_export",
    "blocking_quality",
    "er_cluster_metrics",
    "label_fusion",
    "cc_incremental",
    "schema_graph",
]

# rows of the in-session pipeline run of the suite
PIPELINE_ROWS = 20_000

# 600k rows: large enough that the pipeline's fixed multi-job floor is small
# against the parallel stage-1/stage-4 work, pinned since round 2 so runs
# stay comparable across rounds
SCALING_ROWS = int(os.environ.get("SPARK_GRAFT_SCALING_ROWS", "600000"))
SCALING_CORES = (1, 4)
SCALING_PAIRS = 3

# timed calls of the kernel microbench, after one untimed warm-up call
MICROBENCH_REPS = 5

# Minimum rows per synthetic-corpus input task (see run_pipeline): stands in
# for spark.sql.files.maxPartitionBytes, which only applies to file scans.
ROWS_PER_INPUT_TASK = 2500

# Driver heap of a scaling run: 4 GB per core, capped at half the host's
# physical memory, since -XX:+AlwaysPreTouch commits all of it at JVM start.
PHYS_GB = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**30


def _scratch_dir(prefix: str) -> str:
    """Bench warehouses live on tmpfs when available: stage-table I/O on a
    real cluster hits node-local NVMe / parallel object storage, while a
    shared VM disk swings 8-500 MB/s with co-tenant load — routing the
    (deleted-after) bench warehouse through it measures the neighbors, not
    the engine. Override with SPARK_GRAFT_BENCH_SCRATCH."""
    base = os.environ.get("SPARK_GRAFT_BENCH_SCRATCH") or (
        "/dev/shm" if os.path.isdir("/dev/shm") else None
    )
    return tempfile.mkdtemp(prefix=prefix, dir=base)


def _session(cores: int):
    from ht_ner_spark.session import get_spark

    return get_spark(app_name=f"bench-local{cores}", cores=cores,
                     shuffle_partitions=max(8, 2 * cores),
                     extra_conf={"spark.ui.showConsoleProgress": "false"})


def _stop_jvm(spark) -> None:
    """Stop the session AND its py4j gateway JVM. ``spark.stop()`` ends the
    SparkContext but leaves the gateway process resident (2.0 GB RSS) next
    to the JVM of every later scaling run; the gateway exits when its stdin
    pipe closes."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=120)
    SparkContext._gateway = None
    SparkContext._jvm = None


def run_pipeline(spark, n_rows: int) -> dict:
    """Full 4-stage pipeline over the deterministic synthetic corpus, timed
    in ``spark``'s session. No warm-up run: the caller warms the session
    first (first-run JVM cost — codegen JIT, Python worker spin-up — made
    the same 5k-row pipeline run 111 s cold vs 22 s warm in one JVM)."""
    from ht_ner_spark.corpus import synthetic_corpus
    from ht_ner_spark.pipeline import PipelineConfig, run

    # Input partitions sized by ROWS, capped at 2x task slots: a file-based
    # corpus gets this for free from spark.sql.files.maxPartitionBytes, but
    # the synthetic generator bypasses the reader, and slots*2 partitions at
    # bench sizes means a few hundred rows per task — pure scheduler and
    # Python-worker overhead (measured in-session at 32 cores / 20k rows:
    # 64 partitions 22.4 s vs 8 partitions 6.5 s, identical triples).
    slots2 = spark.sparkContext.defaultParallelism * 2
    par = max(1, min(slots2, n_rows // ROWS_PER_INPUT_TASK))
    corpus = synthetic_corpus(spark, n_rows, partitions=par).cache()
    corpus.count()  # materialize input outside the timed window
    wh = _scratch_dir("htner_bench_")
    try:
        t0 = time.monotonic()
        triples = run(spark, corpus, PipelineConfig(warehouse=wh, run_id="bench",
                                                    corpus_rows_hint=n_rows))
        n = triples.count()
        sec = time.monotonic() - t0
    finally:
        shutil.rmtree(wh, ignore_errors=True)
        corpus.unpersist()
    return {"triples": n, "sec": round(sec, 3),
            "triples_per_sec": round(n / sec, 2) if sec > 0 else None,
            "rows_in": n_rows}


def _spark_submit_bin() -> str:
    found = shutil.which("spark-submit")
    if found:
        return found
    import pyspark

    return os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")


def _one_scaling_run(cores: int) -> dict | None:
    """One pipeline run in a fresh JVM via ``spark-submit --py-files`` (the
    cluster run shape) at ``local[cores]``; the JSON line of
    ``scripts/submit_pipeline.py``, or None if the run failed."""
    wh = _scratch_dir(f"htner_scale{cores}_")
    cmd = [
        _spark_submit_bin(),
        "--master", f"local[{cores}]",
        "--conf", "spark.sql.adaptive.enabled=true",
        "--conf", f"spark.sql.shuffle.partitions={2 * cores}",
        "--conf", "spark.sql.execution.arrow.pyspark.enabled=true",
        "--conf", "spark.ui.enabled=false",
        # no console progress bars: they would crowd the JSON line out of a
        # bounded output tail
        "--conf", "spark.ui.showConsoleProgress=false",
        # zstd: stage writes are disk-bandwidth-bound (BASELINE.md)
        "--conf", "spark.sql.parquet.compression.codec=zstd",
        # level 1 for stage-table writes: s4_write is the pipeline's encode
        # bandwidth ceiling, and intermediates that live minutes favor encode
        # speed over ratio
        "--conf", "spark.hadoop.parquet.compression.codec.zstd.level=1",
        # shuffle/localCheckpoint scratch on tmpfs (cluster-local-NVMe
        # stand-in)
        "--conf", "spark.local.dir=/dev/shm/spark-local",
        "--conf", "spark.io.compression.codec=zstd",
        "--conf", f"spark.driver.memory={min(4 * cores, PHYS_GB // 2)}g",
        # pre-touch the heap at JVM start (untimed) instead of paying
        # first-touch page faults inside the measured window; GC threads
        # sized to the run's cores, as a k-core executor container would be
        "--conf", "spark.driver.extraJavaOptions=-XX:+AlwaysPreTouch"
                  f" -XX:ParallelGCThreads={cores}"
                  f" -XX:ConcGCThreads={max(1, cores // 4)}",
        "--py-files", os.path.join(REPO, "dist", "ht_ner_spark.zip"),
        os.path.join(REPO, "scripts", "submit_pipeline.py"),
        "--rows", str(SCALING_ROWS),
        "--warehouse", wh,
        "--run-id", f"scale{cores}",
    ]
    try:
        # a hard timeout per run: one hung run must cost one slot, not the
        # whole bench
        proc = subprocess.run(cmd, capture_output=True, text=True,
                              timeout=900)
    except subprocess.TimeoutExpired:
        sys.stderr.write(f"scaling run cores={cores} timed out (killed)\n")
        return None
    finally:
        shutil.rmtree(wh, ignore_errors=True)
    lines = proc.stdout.strip().splitlines()
    try:
        return json.loads(lines[-1])
    except (json.JSONDecodeError, IndexError):
        sys.stderr.write(f"scaling run cores={cores} failed:\n{proc.stderr[-2000:]}\n")
        return None


def _stage_decomposition(runs: list[dict], lo_c: int, hi_c: int) -> dict:
    """Per-stage median wall at each level and per-stage efficiency
    ``(t_lo / t_hi) / (hi / lo)``: which stages scale with cores and which
    are fixed cost. A stage missing from a run's ``stage_sec`` is left out
    of that level's median."""
    out: dict = {}
    keys = sorted({k for r in runs for k in r["stage_sec"]})
    ratio = hi_c / lo_c
    for k in keys:
        lo = [r["stage_sec"][k] for r in runs
              if r["cores"] == lo_c and k in r["stage_sec"]]
        hi = [r["stage_sec"][k] for r in runs
              if r["cores"] == hi_c and k in r["stage_sec"]]
        if not lo or not hi:
            continue
        mlo, mhi = statistics.median(lo), statistics.median(hi)
        out[k] = {"median_sec_lo": round(mlo, 3), "median_sec_hi": round(mhi, 3),
                  "efficiency": round((mlo / mhi) / ratio, 3) if mhi > 0 else None}
    return out


def _pair_efficiencies(runs: list[dict], lo_c: int, hi_c: int) -> list[dict]:
    """Efficiency of each (lo, hi) pair that has both runs: a pair samples
    one few-minute host window, so its ratio cancels slow drift in
    co-tenant load that per-level medians over the whole series do not."""
    by_pair: dict[int, dict[int, float]] = {}
    for r in runs:
        by_pair.setdefault(r["pair"], {})[r["cores"]] = r["triples_per_sec"]
    ratio = hi_c / lo_c
    return [{"pair": p, "tps_lo": tps[lo_c], "tps_hi": tps[hi_c],
             "efficiency": round((tps[hi_c] / tps[lo_c]) / ratio, 3)}
            for p, tps in sorted(by_pair.items())
            if tps.get(lo_c) and tps.get(hi_c)]


def scaling_summary(runs: list[dict]) -> dict | None:
    """Summarize scaling runs (dicts with ``pair``, ``cores``, ``sec``,
    ``triples_per_sec`` and ``stage_sec``): per-level medians, per-pair
    efficiencies and the per-stage decomposition. None unless both levels
    have a run."""
    lo_c, hi_c = SCALING_CORES
    levels = {}
    for c in SCALING_CORES:
        sel = [r for r in runs if r["cores"] == c and r["triples_per_sec"]]
        if not sel:
            return None
        levels[str(c)] = {
            "n": len(sel),
            "median_sec": round(statistics.median(r["sec"] for r in sel), 3),
            "median_tps": round(statistics.median(
                r["triples_per_sec"] for r in sel), 2)}
    return {"cores_lo": lo_c, "cores_hi": hi_c, "levels": levels,
            "pair_efficiencies": _pair_efficiencies(runs, lo_c, hi_c),
            "stages": _stage_decomposition(runs, lo_c, hi_c)}


def scaling_series() -> dict | None:
    """SCALING_PAIRS pairs of runs at the two SCALING_CORES levels, each in a
    fresh JVM on identical input; odd pairs run the high level first, so a
    host that speeds up or slows down over the series does not favour one
    level."""
    subprocess.run(["bash", os.path.join(REPO, "scripts", "make_pyfiles.sh")],
                   check=True, capture_output=True)
    runs = []
    for pair in range(SCALING_PAIRS):
        for cores in SCALING_CORES[::-1] if pair % 2 else SCALING_CORES:
            r = _one_scaling_run(cores)
            if r is not None:
                runs.append({"pair": pair, "cores": cores, "sec": r["sec"],
                             "triples_per_sec": r["triples_per_sec"],
                             "stage_sec": r["stage_sec"]})
    summary = scaling_summary(runs)
    if summary is not None:
        summary.update(rows=SCALING_ROWS, pairs=SCALING_PAIRS, runs=runs)
    return summary


def _label_in_batches(batches, trie, ranks, cutoffs) -> None:
    """Label the RecordBatches with the fused pass's mapInArrow body,
    emission included, in the mode pipeline.run uses: votes folded into
    per-row entity rows."""
    from ht_ner_spark.operators import fused_vec

    for _ in fused_vec.run_arrow_batches(batches, trie, ranks, cutoffs,
                                         entities=True):
        pass


def fused_labeler_microbench(rows: int | None = None) -> dict:
    """tokens/s/core of the fused stage-1 labeler, the engine's CPU floor.
    Runs fused_vec.run_arrow_batches, the mapInArrow body the Spark pass
    runs (tokenize, label, fold the vote, Arrow emission), single-threaded in THIS Python
    process over ``ARROW_BATCH_ROWS``-row RecordBatches of the text of
    ``synthetic_rows`` (the rows ``synthetic_corpus`` holds), the batches
    the session hands the pass. No Spark runs, so the number is per-core
    and comparable across rounds. The default is four production-sized
    labeling batches (``COALESCE_ROWS`` each): a smaller input weighs in
    the per-batch fixed cost the Spark pass amortizes. One untimed call
    warms up; MICROBENCH_REPS timed calls over the same batches, ranks and
    cutoffs give the median rate and its IQR."""
    import re as _re
    from collections import Counter

    import pyarrow as pa

    from ht_ner_spark.corpus import DEFAULT_GAZETTEER, synthetic_rows
    from ht_ner_spark.operators import fused_vec
    from ht_ner_spark.operators.antirules import STOPWORDS, frequency_cutoffs
    from ht_ner_spark.operators.gazetteer import build_trie
    from ht_ner_spark.operators.tokens import TOKEN_PATTERN
    from ht_ner_spark.session import ARROW_BATCH_ROWS

    rows = rows or 4 * fused_vec.COALESCE_ROWS
    texts = [r[5] for r in synthetic_rows(rows)]
    batches = [pa.RecordBatch.from_pydict(
        {"row_id": pa.array(range(lo, min(lo + ARROW_BATCH_ROWS, rows)),
                            pa.int64()),
         "content": texts[lo:lo + ARROW_BATCH_ROWS]})
        for lo in range(0, rows, ARROW_BATCH_ROWS)]
    trie = build_trie(dict(DEFAULT_GAZETTEER))
    tok_re = _re.compile(TOKEN_PATTERN)
    punct_re = _re.compile(r"^[^\w\s]+$")
    # frequency ranks + cutoffs as the pipeline broadcasts them: stopwords
    # and punctuation are not ranked (antirules._freq_filter_expr), and
    # without ranks the antirule vote branch never fires and the number
    # overstates the labeler
    toks = [t for txt in texts for t in tok_re.findall(txt or "")]
    cnt = Counter(t for t in toks
                  if t.lower() not in STOPWORDS and not punct_re.match(t))
    cutoffs = frequency_cutoffs(len(cnt))
    max_k = max(k for _, k in cutoffs)
    ranks = {tok: i + 1 for i, (tok, _) in enumerate(cnt.most_common(max_k))}
    _label_in_batches(batches, trie, ranks, cutoffs)
    secs = []
    for _ in range(MICROBENCH_REPS):
        t0 = time.monotonic()
        _label_in_batches(batches, trie, ranks, cutoffs)
        secs.append(time.monotonic() - t0)
    rates = [len(toks) / s for s in secs]
    q1, _, q3 = statistics.quantiles(rates, n=4, method="inclusive")
    sec = statistics.median(secs)
    return {"rows": rows, "tokens": len(toks), "reps": MICROBENCH_REPS,
            "sec": round(sec, 3),
            "tokens_per_sec_core": round(statistics.median(rates), 1),
            "tokens_per_sec_core_iqr": round(q3 - q1, 1),
            "rows_per_sec_core": round(rows / sec, 1)}


def ann_tradeoff(spark, sf_dir: str, n_queries: int = 50, k: int = 10) -> dict | None:
    """Measured cost and recall@k of every ANN path the engine ships, on the
    same embeddings table and query set, against exact brute force. Each
    row has one ``role``:

    - ``default``: the LSH operator's default configuration;
    - ``production``: the IVF point a deployment runs (kmeans quantizer,
      ``IVF_NPROBE_PROD``);
    - ``diagnostic``: a reference point for reading the others (brute force,
      disjoint medoids, kmeans at the contract's nprobe);
    - ``leaky``: the contract's seed-medoid IVF, whose queries are among its
      own centroids, so its recall is inflated."""
    try:
        import inspect

        from pyspark.sql import functions as F

        from ht_ner_spark.contract import IVF_CELLS, IVF_NPROBE, IVF_NPROBE_PROD
        from ht_ner_spark.operators import similarity as sim

        vecs = spark.read.parquet(f"{sf_dir}/embeddings.parquet").cache()
        n_vecs = vecs.count()
        queries = vecs.where(F.col("vec_id") < n_queries).select(
            F.col("vec_id").alias("query_id"), "embedding")

        def timed_pairs(df) -> tuple[set, float]:
            t0 = time.monotonic()
            rows = df.select("query_id", "neighbor_id").collect()
            return ({(r["query_id"], r["neighbor_id"]) for r in rows},
                    time.monotonic() - t0)

        exact, sec_bf = timed_pairs(sim.brute_force_topk(vecs, queries, k=k))
        out: dict = {
            "n_vectors": n_vecs, "n_queries": n_queries, "k": k,
            "brute_force": {"sec": round(sec_bf, 3), "recall_at_k": 1.0,
                            "role": "diagnostic"},
        }

        def add(name: str, df, role: str, **params) -> None:
            pairs, sec = timed_pairs(df)
            out[name] = {"sec": round(sec, 3),
                         "recall_at_k": round(len(exact & pairs) / len(exact), 3),
                         "role": role, **params}

        lsh_defaults = {
            p: inspect.signature(sim.bucketed_ann_topk).parameters[p].default
            for p in ("tables", "bits", "radius")}
        add("lsh_bucketed", sim.bucketed_ann_topk(vecs, queries, k=k),
            "default", **lsh_defaults)
        ivf = {"cells": IVF_CELLS, "nprobe": IVF_NPROBE}
        seed_c = sim.seed_centroids(vecs, n_cells=IVF_CELLS)
        add("ivf_seed", sim.ivf_topk(vecs, queries, seed_c, k=k, nprobe=IVF_NPROBE),
            "leaky", **ivf)
        disj_c = sim.seed_centroids(vecs, n_cells=IVF_CELLS,
                                    min_id=n_queries + 50)
        add("ivf_medoid_disjoint",
            sim.ivf_topk(vecs, queries, disj_c, k=k, nprobe=IVF_NPROBE),
            "diagnostic", **ivf)
        t0 = time.monotonic()
        km_c = sim.kmeans_centroids(vecs, n_cells=IVF_CELLS)
        train_sec = round(time.monotonic() - t0, 3)
        add("ivf_kmeans", sim.ivf_topk(vecs, queries, km_c, k=k, nprobe=IVF_NPROBE),
            "diagnostic", **ivf, train_sec=train_sec)
        add("ivf_kmeans_prod",
            sim.ivf_topk(vecs, queries, km_c, k=k, nprobe=IVF_NPROBE_PROD),
            "production", cells=IVF_CELLS, nprobe=IVF_NPROBE_PROD)
        vecs.unpersist()
        return out
    except Exception as exc:  # noqa: BLE001 - a trade-off probe must never sink the bench
        sys.stderr.write(f"ann_tradeoff failed: {exc}\n")
        return None


def _emit(out: dict, t_start: float) -> None:
    """Print the result so far as one complete JSON line."""
    out["elapsed_sec"] = round(time.monotonic() - t_start, 1)
    sys.stdout.write(json.dumps(out) + "\n")
    sys.stdout.flush()


def main() -> None:
    t_start = time.monotonic()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    import __spark_entry__ as entrymod

    spark = _session(cores)
    qmap = entrymod.queries()
    # untimed warm-up: each headline query once at the smallest SF, so the
    # timed pass measures warm steady-state (codegen JIT + Python worker
    # spin-up once per query family)
    warm_dir = os.environ.get("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
    if os.path.isdir(warm_dir):
        for name in HEADLINE:
            fn = qmap.get(name)
            if fn is not None:
                try:
                    fn(spark, warm_dir).count()
                except Exception as exc:  # noqa: BLE001 - warmup must not sink
                    sys.stderr.write(f"warmup {name} failed: {exc}\n")
    timings: dict[str, float] = {}
    for name in HEADLINE:
        fn = qmap.get(name)
        if fn is None:
            continue
        t0 = time.monotonic()
        fn(spark, sf_dir).count()
        timings[name] = round(time.monotonic() - t0, 3)

    extra_timings: dict[str, float] = {}
    for name in EXTRA_OPS:
        fn = qmap.get(name)
        if fn is None:
            continue
        t0 = time.monotonic()
        try:
            fn(spark, sf_dir).count()
            extra_timings[name] = round(time.monotonic() - t0, 3)
        except Exception as exc:  # noqa: BLE001 - extras must not sink bench
            sys.stderr.write(f"extra op {name} failed: {exc}\n")

    # the session is already warm from the query suite
    pipe = run_pipeline(spark, PIPELINE_ROWS)
    timings["kg_pipeline"] = pipe["sec"]

    out = {
        "metric": "headline suite wall time (kg pipeline + operator queries)",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "extra_queries": extra_timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "cores": cores,
        "pipeline": pipe,
        "fused_labeler_1core": fused_labeler_microbench(),
        "ann_tradeoff": None,
        "scaling": None,
    }
    _emit(out, t_start)
    out["ann_tradeoff"] = ann_tradeoff(spark, sf_dir)
    _emit(out, t_start)
    _stop_jvm(spark)
    if not os.environ.get("SPARK_GRAFT_NO_SCALING"):
        out["scaling"] = scaling_series()
        _emit(out, t_start)


if __name__ == "__main__":
    main()
