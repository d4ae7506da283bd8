#!/usr/bin/env python
"""spark-submit entrypoint for the 4-stage KG-construction pipeline.

Cluster usage (the production shape required by the north rule):

    scripts/make_pyfiles.sh                      # builds dist/ht_ner_spark.zip
    spark-submit --master <cluster> \
        --conf spark.sql.adaptive.enabled=true \
        --conf spark.sql.shuffle.partitions=<2-3x total cores> \
        --py-files dist/ht_ner_spark.zip \
        scripts/submit_pipeline.py --corpus <iceberg-table-or-parquet-dir> \
        --warehouse <out> --run-id <id>

Single-box scaling (bench.py's scaling section): the same synthetic input at
`--master local[1]` and `--master local[4]`, one fresh JVM per run.

Prints ONE JSON line with wall time, triple count, throughput and the
per-stage wall times.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time

from pyspark.sql import SparkSession


def _scratch_dir(prefix: str) -> str:
    """Bench warehouses live on tmpfs when available: stage-table I/O on a
    real cluster hits node-local NVMe / parallel object storage, while this
    sandbox's single virtio disk swings 8-500 MB/s with co-tenant load —
    routing the (deleted-after) bench warehouse through it measures the
    neighbors, not the engine. Override with SPARK_GRAFT_BENCH_SCRATCH."""
    base = os.environ.get("SPARK_GRAFT_BENCH_SCRATCH") or (
        "/dev/shm" if os.path.isdir("/dev/shm") else None
    )
    return tempfile.mkdtemp(prefix=prefix, dir=base)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--corpus", default=None,
                    help="parquet dir or Iceberg table with corpus shape "
                         "(repo,path,commit,lang,content); default: synthetic")
    ap.add_argument("--rows", type=int, default=20000,
                    help="synthetic corpus rows when --corpus is not given")
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--run-id", default="submit")
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--warmup-rows", type=int, default=2000,
                    help="untimed warm-up pipeline size (JIT/codegen warm-up "
                         "exclusion; 0 disables)")
    ap.add_argument("--aggregator", default="vote", choices=["vote", "hmm"],
                    help="vote aggregation: weighted majority or distributed "
                         "Baum-Welch HMM")
    args = ap.parse_args()

    # session comes from spark-submit conf — this script never sets a master.
    spark = SparkSession.builder.appName("ht-ner-kg-pipeline").getOrCreate()

    from ht_ner_spark.corpus import synthetic_corpus
    from ht_ner_spark.pipeline import PipelineConfig, run
    from pyspark.sql import functions as F

    if args.corpus:
        df = spark.read.parquet(args.corpus)
        if "row_id" not in df.columns:
            df = df.withColumn(
                "row_id",
                F.xxhash64("repo", "path", "commit").cast("long"),
            )
        corpus = df.withColumn("content_sha256", F.sha2(F.col("content"), 256))
    else:
        # same sizing rule as bench.run_pipeline: rows//2500 per task, capped
        # at 2x slots (a file corpus gets this from maxPartitionBytes; the
        # generator bypasses the reader). No-op at the scaling sizes
        # (600k/2M rows saturate the cap) — it only trims tiny dev runs.
        par = max(1, min(spark.sparkContext.defaultParallelism * 2,
                         args.rows // 2500))
        corpus = synthetic_corpus(spark, args.rows, seed=args.seed, partitions=par)
    corpus = corpus.cache()
    n_in = corpus.count()  # materialize input outside the timed window

    if args.warmup_rows:
        import shutil

        wwh = _scratch_dir("htner_warm_")
        try:
            run(spark, synthetic_corpus(spark, args.warmup_rows, seed=args.seed + 1),
                PipelineConfig(warehouse=wwh, run_id="warmup",
                               aggregator=args.aggregator)).count()
        finally:
            shutil.rmtree(wwh, ignore_errors=True)

    stage_sec: dict = {}
    t0 = time.monotonic()
    triples = run(spark, corpus,
                  PipelineConfig(warehouse=args.warehouse,
                                 run_id=args.run_id,
                                 aggregator=args.aggregator,
                                 # measured above, outside the timed window —
                                 # gates the audit's broadcast anti-join plan
                                 corpus_rows_hint=n_in),
                  timings=stage_sec)
    n = triples.count()
    sec = time.monotonic() - t0

    print(json.dumps({
        "rows_in": n_in,
        "triples": n,
        "sec": round(sec, 3),
        "triples_per_sec": round(n / sec, 2) if sec > 0 else None,
        "cores": spark.sparkContext.defaultParallelism,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        # per-stage wall times (s1 mentions+votes, s1b vote agg, s2 linking,
        # s3 connected components, s4 triples+audit) — every scaling run
        # carries its own decomposition so per-stage scaling efficiency is
        # computable from the committed artifact alone.
        "stage_sec": stage_sec,
    }))
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
