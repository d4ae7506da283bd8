"""Repository benchmark: warm KG builds and streamed appends at local[4].

    python3 perfbench/run.py --workload kg_names --seed 1 --seconds 20 --trace 0

Run from the repository root. One run is one fresh process: it generates the
workload's inputs from ``--seed``, starts a Spark session, warms it up
(untimed), then times operations for ``--seconds`` seconds, checks every
output, and prints as its last stdout line one JSON object
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` the run also records
layer spans and Spark's event log and prints the per-layer metrics instead.
The line before it is a ``perfbench_report`` object with the workload shape,
every operation's wall time and the host load.

All files go under ``.perfbench_work/`` in the repository root and are
removed at exit, except the last traced run's spans per workload. See
``perfbench/README.md`` for the workloads and the metric definitions.
"""

from __future__ import annotations

import time

T_START = time.time()  # process start for setup_s, before any heavy import

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from contextlib import nullcontext  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parents[1]
CORES = 4

# Sizes are set by the time budget of one run (a fresh JVM, an untimed
# warm-up, then the timed operations); see README.md "Warm-up". ``op_s`` is
# the nominal wall of one timed operation (a build, or a sequence of
# appends) on a shared 4-vCPU VM; it fixes how many operations fill
# ``--seconds``.
WORKLOADS = {
    "kg_names": {"kind": "batch", "rows": 20_000, "files": 8,
                 "warm_rows": (10_000, 20_000), "op_s": 9.0, "min_ops": 2},
    "stream_append": {"kind": "stream", "appends": 3, "rows": 1_500,
                      "files": 2, "warm_sequences": 3, "op_s": 4.5,
                      "min_ops": 3},
}

END_TO_END = {"build_s": "s", "triples_per_s": "triples/s",
              "update_s.p50": "s", "setup_s": "s",
              "entity_precision": "ratio", "entity_recall": "ratio",
              "success_rate": "ratio"}


def _units(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("task_skew", "coverage")):
        return "ratio"
    return "count"


# ---------------------------------------------------------------- host


def _cpu_ticks() -> tuple[int, int]:
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return sum(vals), vals[7] if len(vals) > 7 else 0


def _descendants(pid: int) -> set[int]:
    out, todo = set(), [pid]
    while todo:
        p = todo.pop()
        try:
            tasks = os.listdir(f"/proc/{p}/task")
        except OSError:
            continue
        for t in tasks:
            try:
                with open(f"/proc/{p}/task/{t}/children") as f:
                    kids = [int(x) for x in f.read().split()]
            except OSError:
                continue
            for k in kids:
                if k not in out:
                    out.add(k)
                    todo.append(k)
    return out


# ---------------------------------------------------------------- session


def start_spark(work: Path, event_log: Path | None):
    from ht_ner_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": str(work / "spark-warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log is not None:
        event_log.mkdir(parents=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log.as_uri(),
            "spark.eventLog.rolling.enabled": "true",
            "spark.eventLog.compress": "true",
            "spark.eventLog.compression.codec": "zstd",
        })
    spark = get_spark(app_name="perfbench", cores=CORES, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark() -> None:
    """Stop the session and its JVM, and wait until the JVM and every
    process it started (Python workers) has ended."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    kids = _descendants(os.getpid())
    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 30
    while kids and time.time() < deadline:
        kids = {p for p in kids if os.path.exists(f"/proc/{p}")}
        if kids:
            time.sleep(0.1)
    for p in kids:
        try:
            os.kill(p, 9)
        except OSError:
            pass


# ---------------------------------------------------------------- checks


def _read_dir(path: str, columns=None):
    import pyarrow.dataset as ds

    return ds.dataset(path, format="parquet", partitioning="hive").to_table(
        columns=columns)


def triples_digest(wh: str) -> tuple[str, int]:
    """Order-independent digest of the written triples table."""
    import hashlib

    t = _read_dir(os.path.join(wh, "triples")).to_pylist()
    lines = sorted(
        "\x1f".join((r["subj"], str(r["pred"]), r["obj"], repr(r["conf"]),
                     r["lineage"]["content_sha256"] if r["lineage"] else ""))
        for r in t)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest(), len(lines)


def checkpoint_rows(wh: str, stage: str) -> list[dict]:
    t = _read_dir(os.path.join(wh, "_checkpoint")).to_pylist()
    return [r for r in t if r["stage"] == stage]


def precision_recall(pred: dict, gold: dict) -> tuple[float, float]:
    tp = sum(len(pred.get(k, set()) & g) for k, g in gold.items())
    n_pred = sum(len(v) for v in pred.values())
    n_gold = sum(len(v) for v in gold.values())
    return tp / max(1, n_pred), tp / max(1, n_gold)


def timed_ops(cfg: dict, seconds: float) -> int:
    """How many timed operations fill ``seconds`` at the nominal speed.
    The count depends on ``--seconds`` only, never on measured speed, so the
    parent and a change time the same operations and the count cannot flip
    between runs when an operation's wall wobbles."""
    return max(cfg["min_ops"], round(seconds / cfg["op_s"]))


# ---------------------------------------------------------------- batch


def run_batch(cfg, seed, seconds, work, tracer, report):
    import workloads as wl

    t_gen = time.time()
    data = wl.kg_names(seed, cfg["rows"])
    wl.write_parquet(data.rows, str(work / "corpus"), cfg["files"])
    for k, n in enumerate(cfg["warm_rows"]):
        wl.write_parquet(wl.kg_names(seed + 7919 + k, n).rows,
                         str(work / f"warm_corpus{k}"), cfg["files"])
    report["shape"] = wl.describe(data)
    gen_s = time.time() - t_gen

    t_sess = time.time()
    spark = start_spark(work, work / "eventlog" if tracer else None)
    start_s = time.time() - t_sess + (t_sess - T_START - gen_s)

    from ht_ner_spark import pipeline
    from ht_ner_spark.storage.checkpoint import partition_stats_files
    from pyspark.sql import functions as F

    def corpus(path):
        return (spark.read.schema(_spark_schema()).parquet(path)
                .withColumn("content_sha256", F.sha2(F.col("content"), 256)))

    def build(df, wh, rows=cfg["rows"]):
        pcfg = pipeline.PipelineConfig(warehouse=wh, run_id="bench",
                                       corpus_rows_hint=rows)
        t = time.perf_counter()
        n = pipeline.run(spark, df, pcfg).count()
        return time.perf_counter() - t, n

    df = corpus(str(work / "corpus"))
    t_warm = time.time()
    for k, n in enumerate(cfg["warm_rows"]):
        wh = str(work / f"wh_warm{k}")
        report.setdefault("warmup_walls", []).append(
            build(corpus(str(work / f"warm_corpus{k}")), wh, n)[0])
        shutil.rmtree(wh, ignore_errors=True)
    warmup_s = time.time() - t_warm

    walls, failures, digests, roots = [], [], set(), []
    prec = rec = 0.0
    if tracer:
        tracer.install()
    for i in range(timed_ops(cfg, seconds)):
        wh = str(work / f"wh{i}")
        root = tracer.open("build") if tracer else None
        try:
            wall, n = build(df, wh)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            failures.append(f"build {i} raised")
            wall = None
        finally:
            if tracer:
                tracer.close(root)
        if wall is not None:
            walls.append(wall)
            if tracer:
                roots.append(root)
                for kind in ("m", "v"):
                    root.attrs[f"s1_rows_{kind}"] = sum(
                        rows for _, rows in partition_stats_files(
                            os.path.join(wh, "s1_combined", f"kind={kind}")))
            problems = check_build(wh, n, digests)
            if problems:
                failures.append(f"build {i}: " + "; ".join(problems))
            if i == 0:
                ents = _read_dir(os.path.join(wh, "entities")).to_pylist()
                pred = {r["row_id"]: set(r["entities"]) for r in ents}
                prec, rec = precision_recall(pred, data.gold)
            report.setdefault("triples", n)
        shutil.rmtree(wh, ignore_errors=True)
    if tracer:
        tracer.uninstall()
        vocab_df = tracer.last_freq_df
        report["vocab"] = vocab_df.count() if vocab_df is not None else 0

    report["walls"] = walls
    report["failures"] = failures
    build_s = statistics.median(walls) if walls else 0.0
    metrics = {
        "build_s": build_s,
        "triples_per_s": report.get("triples", 0) / build_s if walls else 0.0,
        "update_s.p50": build_s,
        "setup_s": start_s + warmup_s,
        "entity_precision": prec,
        "entity_recall": rec,
    }
    return metrics, timed_ops(cfg, seconds), len(failures), (
        start_s, warmup_s), roots


def check_build(wh: str, n_triples: int, digests: set) -> list[str]:
    problems = []
    digest, n = triples_digest(wh)
    if n != n_triples or n == 0:
        problems.append(f"triples count {n_triples} vs {n} rows on disk")
    digests.add(digest)
    if len(digests) > 1:
        problems.append("triples digest differs from an earlier build")
    s4 = checkpoint_rows(wh, "s4")
    if not s4 or not all(r["sha_ok"] for r in s4):
        problems.append("s4 checkpoint row missing or sha_ok false")
    return problems


def _spark_schema():
    from pyspark.sql.types import StructType

    from ht_ner_spark.schemas import CORPUS

    return StructType([f for f in CORPUS.fields if f.name != "content_sha256"])


# ---------------------------------------------------------------- stream


def run_stream(cfg, seed, seconds, work, tracer, report):
    import workloads as wl

    t_gen = time.time()
    appends = wl.stream_appends(seed, cfg["appends"], cfg["rows"])
    warm = wl.stream_appends(seed + 7919, cfg["appends"], cfg["rows"])
    staged = work / "staged"
    for k, a in enumerate(appends + warm):
        wl.write_parquet(a.rows, str(staged / f"a{k}"), cfg["files"],
                         prefix=f"a{k}")
    all_rows = wl.Corpus([r for a in appends for r in a.rows], {},
                         {k: v for a in appends for k, v in a.planted.items()})
    report["shape"] = wl.describe(all_rows)
    report["shape"].update(appends=cfg["appends"],
                           rows_per_append=cfg["rows"])
    gen_s = time.time() - t_gen

    t_sess = time.time()
    spark = start_spark(work, work / "eventlog" if tracer else None)
    start_s = time.time() - t_sess + (t_sess - T_START - gen_s)

    from ht_ner_spark.corpus import DEFAULT_GAZETTEER as gaz
    from ht_ner_spark.streaming import incremental as inc

    def update(k: int, corpus_dir: Path, wh: Path, root=None):
        """Land append k, drain it, read the merged view back."""
        t = time.perf_counter()
        with _span(tracer, "land"):
            corpus_dir.mkdir(parents=True, exist_ok=True)
            for f in sorted((staged / f"a{k}").iterdir()):
                shutil.copyfile(f, corpus_dir / f".{f.name}.tmp")
                os.rename(corpus_dir / f".{f.name}.tmp", corpus_dir / f.name)
        with _span(tracer, "incremental.drain"):
            inc.stream_triples(spark, str(corpus_dir), str(wh), gaz)
        with _span(tracer, "incremental.merge_read"):
            rows = inc.merged_triples(spark, str(wh)).collect()
        wall = time.perf_counter() - t
        if root is not None:
            root.attrs["delta_partitions"] = sum(
                1 for p in (wh / "triple_deltas").iterdir()
                if p.name.startswith("batch_id="))
        return wall, rows

    t_warm = time.time()
    n_app = cfg["appends"]
    for j in range(cfg["warm_sequences"]):
        corpus_dir, wh = work / f"warm_corpus{j}", work / f"wh_warm{j}"
        for k in range(n_app):
            w, _ = update(n_app + k, corpus_dir, wh)
            report.setdefault("warmup_walls", []).append(w)
        shutil.rmtree(corpus_dir, ignore_errors=True)
        shutil.rmtree(wh, ignore_errors=True)
    warmup_s = time.time() - t_warm

    if tracer:
        tracer.install()
    seq_walls, updates, failures, roots = [], [], [], []
    pos_walls = [[] for _ in range(n_app)]  # update k's wall per sequence
    finals = []
    attempted = 0
    for seq in range(timed_ops(cfg, seconds)):
        corpus_dir, wh = work / f"corpus{seq}", work / f"wh{seq}"
        seq_wall, rows = 0.0, None
        for k in range(n_app):
            attempted += 1
            root = tracer.open("update") if tracer else None
            try:
                wall, rows = update(k, corpus_dir, wh, root)
            except Exception:
                traceback.print_exc(file=sys.stderr)
                failures.append(f"sequence {seq} update {k} raised")
                rows = None
                break
            finally:
                if tracer:
                    tracer.close(root)
            updates.append(wall)
            pos_walls[k].append(wall)
            seq_wall += wall
            if tracer:
                roots.append(root)
        if rows is not None:
            seq_walls.append(seq_wall)
            finals.append({(r["subj"], r["pred"], r["obj"], r["n_witnesses"],
                            round(r["conf"], 9)) for r in rows})
            if finals[-1] != finals[0]:
                failures.append(f"sequence {seq}: merged view differs from "
                                "sequence 0")
        if seq > 0:  # sequence 0's files stay for the recompute check
            shutil.rmtree(corpus_dir, ignore_errors=True)
        shutil.rmtree(wh, ignore_errors=True)
    if tracer:
        tracer.uninstall()

    prec = rec = 0.0
    if finals:
        problems = check_stream(spark, work / "corpus0", gaz, finals[0])
        if problems:
            failures.append("sequence 0: " + "; ".join(problems))
        prec, rec = stream_precision_recall(finals[0], appends)
        report["triples"] = len(finals[0])

    report["walls"] = updates
    report["sequence_walls"] = seq_walls
    report["failures"] = failures
    # A typical sequence: the median wall of each update position, summed.
    # One slow update then moves a single position's median at most.
    build_s = sum(statistics.median(w) for w in pos_walls if w)
    metrics = {
        "build_s": build_s,
        "triples_per_s": report.get("triples", 0) / build_s if build_s else 0.0,
        "update_s.p50": statistics.median(updates) if updates else 0.0,
        "setup_s": start_s + warmup_s,
        "entity_precision": prec,
        "entity_recall": rec,
    }
    return metrics, attempted, len(failures), (start_s, warmup_s), roots


def _span(tracer, name: str):
    """A tracer span when tracing, nothing otherwise."""
    return tracer.span(name) if tracer else nullcontext()


def check_stream(spark, corpus_dir: Path, gaz: dict, merged: set) -> list[str]:
    """The merged view must equal a one-shot batch recompute of the same
    facts over every landed file."""
    from pyspark.sql import functions as F

    from ht_ner_spark.operators.fused import fused_stage1, split_mentions

    batch = (spark.read.schema(_spark_schema()).parquet(str(corpus_dir))
             .withColumn("content_sha256", F.sha2(F.col("content"), 256)))
    facts = (
        split_mentions(fused_stage1(batch, gaz))
        .where(F.col("label") == "PERSON_NAME")
        .join(batch.select("row_id", "repo"), "row_id")
        .groupBy(F.col("repo").alias("subj"),
                 F.lit("mentions_name").alias("pred"),
                 F.lower(F.col("surface")).alias("obj"))
        .agg(F.countDistinct("row_id").alias("n_witnesses"),
             F.max("confidence").alias("conf"))
        .collect())
    expect = {(r["subj"], r["pred"], r["obj"], r["n_witnesses"],
               round(r["conf"], 9)) for r in facts}
    if expect != merged:
        return [f"merged view has {len(merged)} facts, batch recompute "
                f"{len(expect)} ({len(expect ^ merged)} differ)"]
    return []


def stream_precision_recall(merged: set, appends) -> tuple[float, float]:
    """Token-level (repo, token) facts, the basis of the batch entities."""
    pred, gold = {}, {}
    for subj, _, obj, _, _ in merged:
        pred.setdefault(subj, set()).update(obj.split())
    for a in appends:
        for r in a.rows:
            gold.setdefault(r[1], set()).update(a.gold[r[0]])
    return precision_recall(pred, gold)


# ---------------------------------------------------------------- main


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "ht_ner_spark").is_dir():
        print(f"perfbench: no ht_ner_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    base = ROOT / ".perfbench_work"
    work = base / f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["TMPDIR"] = str(work / "tmp")
    # the spark-submit launcher JVM starts before spark.driver.* options apply
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}")
    sys.path.insert(0, str(ROOT))

    from spans import Tracer, attribute, op_metrics, read_event_log, spark_stages

    cfg = WORKLOADS[args.workload]
    tracer = Tracer() if args.trace else None
    report = {"workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace, "cores": CORES}
    load0, ticks0 = os.getloadavg(), _cpu_ticks()
    runner = run_batch if cfg["kind"] == "batch" else run_stream
    try:
        try:
            metrics, attempted, failed, (start_s, warmup_s), roots = runner(
                cfg, args.seed, args.seconds, work, tracer, report)
        finally:
            stop_spark()
        ticks1 = _cpu_ticks()
        report["host"] = {
            "loadavg_start": load0, "loadavg_end": os.getloadavg(),
            "steal_share": (ticks1[1] - ticks0[1])
            / max(1, ticks1[0] - ticks0[0]),
        }
        metrics["success_rate"] = 1 - failed / max(1, attempted)
        out = {k: {"value": v, "unit": END_TO_END[k]}
               for k, v in metrics.items()}
        if tracer:
            events = read_event_log(str(work / "eventlog"))
            stages, jobs = spark_stages(events)
            attribute(tracer.spans, stages, jobs)
            per_op = [op_metrics(r, tracer.spans) for r in roots]
            layer = {k: statistics.median(m[k] for m in per_op)
                     for k in per_op[0]} if per_op else {}
            layer["antirules.vocab"] = report.pop("vocab", 0)
            layer["session.start_s"] = start_s
            layer["session.warmup_s"] = warmup_s
            out = {k: {"value": v, "unit": _units(k)} for k, v in layer.items()}
            tracer.dump(str(base / f"trace-{args.workload}.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"perfbench_report": report}))
    print(json.dumps({"correct": failed == 0 and attempted > 0,
                      "attempted": attempted, "failed": failed,
                      "metrics": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
