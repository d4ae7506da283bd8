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

Sandbox scaling evidence (BASELINE.md protocol): same input, two parallelism
levels — `--master local[8]` vs `--master local[32]` — identical bytes,
report triples/sec at each.

Prints ONE JSON line with wall time, triple count, and throughput.
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

def _proc_stat() -> dict | None:
    """Host CPU counters (jiffies) from the /proc/stat summary line:
    busy = user+nice+system+irq+softirq of THIS VM's processes; steal =
    time the hypervisor ran somebody else's vCPU while ours was runnable —
    the direct, per-run measurement of co-tenant interference that round-2's
    artifact lacked (its before/after probes couldn't attribute mid-campaign
    stalls)."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return {"busy": v[0] + v[1] + v[2] + v[5] + v[6], "iowait": v[4],
                "steal": v[7] if len(v) > 7 else 0}
    except (OSError, ValueError, IndexError):
        return None


def _psi_cpu_us() -> int | None:
    """Cumulative 'some' CPU pressure stall (us) — PSI counts time any of
    our tasks sat runnable-but-unscheduled, catching both co-tenant steal
    and self-oversubscription."""
    try:
        with open("/proc/pressure/cpu") as f:
            for line in f:
                if line.startswith("some"):
                    return int(line.rsplit("total=", 1)[1])
    except (OSError, ValueError, IndexError):
        pass
    return None


def _host_window(st0, psi0, sec: float) -> dict | None:
    """Averages over the timed window: cores' worth of busy/steal/iowait."""
    st1, psi1 = _proc_stat(), _psi_cpu_us()
    if st0 is None or st1 is None or sec <= 0:
        return None
    clk = os.sysconf("SC_CLK_TCK")
    out = {
        "busy_cores": round((st1["busy"] - st0["busy"]) / clk / sec, 2),
        "steal_cores": round((st1["steal"] - st0["steal"]) / clk / sec, 2),
        "iowait_cores": round((st1["iowait"] - st0["iowait"]) / clk / sec, 2),
    }
    if psi0 is not None and psi1 is not None:
        out["psi_cpu_stall_cores"] = round((psi1 - psi0) / 1e6 / sec, 2)
    return out


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
                         "Baum-Welch HMM (bench variant)")
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
    st0, psi0 = _proc_stat(), _psi_cpu_us()
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
    host = _host_window(st0, psi0, sec)

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
        # host telemetry averaged over the timed window: busy/steal/iowait in
        # cores' worth, PSI CPU stall — lets the bench mark runs that lost
        # the machine to co-tenants (steal) instead of guessing from wall.
        "host": host,
    }))
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
