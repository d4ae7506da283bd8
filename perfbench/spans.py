"""Layer tracing from outside the program, for the traced benchmark run.

Spans are recorded by wrapping the public functions that sit at layer
boundaries; nothing in the program changes. The wrappers are installed only
by :meth:`Tracer.install` and removed by :meth:`Tracer.uninstall`.

Batch build timeline (one root span per build). Each stage ends by recording
itself, so the wrapped ``checkpoint.record_stage`` closes the open stage span
and opens the next one, named when it closes:

    s1   [antirules.word_frequency_agg_arrow call .. fused.fused_stage1 call) antirules
         [fused.fused_stage1 call .. record_stage('s1') returns]               fused
    s1b  .. record_stage('s1b')   aggregate
    s2   .. record_stage('s2')    linking
    s3   .. record_stage('s3')    components
    s4   .. record_stage('s4')    triples

``catalog.write_table`` and ``checkpoint.record_stage`` calls are child spans
of whichever span is open. Spark work comes from the session's event log and
is attributed to the innermost span open when its Spark stage was submitted
(the Spark driver submits jobs from one thread, so the attribution is
unambiguous).
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager

# record_stage(stage=...) -> layer of the span that the call closes
STAGE_LAYER = {"s1": "fused", "s1b": "aggregate", "s2": "linking",
               "s3": "components", "s4": "triples", "s4-stream": "fused"}
LAYERS = ("antirules", "fused", "aggregate", "linking", "components",
          "triples")


class Span:
    __slots__ = ("name", "start", "end", "parent", "attrs", "depth")

    def __init__(self, name, start, parent, depth, attrs=None):
        self.name, self.start, self.end = name, start, None
        self.parent, self.depth, self.attrs = parent, depth, attrs or {}

    @property
    def dur(self) -> float:
        return self.end - self.start

    def as_dict(self) -> dict:
        return {"name": self.name, "start": self.start, "end": self.end,
                "parent": self.parent.name if self.parent else None,
                "attrs": self.attrs}


class Tracer:
    """In-memory span recorder. Times are wall-clock epoch seconds, the clock
    Spark stamps its events with."""

    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._phase: Span | None = None
        self._saved: list[tuple] = []
        self.last_freq_df = None  # the frequency pass's vocabulary frame

    # ---- spans
    def open(self, name: str, **attrs) -> Span:
        parent = self._stack[-1] if self._stack else None
        s = Span(name, time.time(), parent, len(self._stack), attrs)
        self.spans.append(s)
        self._stack.append(s)
        return s

    def close(self, s: Span) -> None:
        s.end = time.time()
        # close anything still open inside s (e.g. a phase left open)
        while self._stack and self._stack[-1] is not s:
            inner = self._stack.pop()
            inner.end = s.end
        if self._stack:
            self._stack.pop()
        if self._phase is not None and self._phase.end is not None:
            self._phase = None

    @contextmanager
    def span(self, name: str, **attrs):
        s = self.open(name, **attrs)
        try:
            yield s
        finally:
            self.close(s)

    def phase(self, name: str | None) -> None:
        """Close the open phase span, if any, and open a new one (a phase
        with name None is named later by the call that closes it)."""
        self.end_phase("prefix")
        self._phase = self.open(name or "?")

    def end_phase(self, name: str | None = None) -> None:
        if self._phase is None:
            return
        if name and self._phase.name == "?":
            self._phase.name = name
        self.close(self._phase)
        self._phase = None

    # ---- wrappers around the program's public layer functions
    def install(self) -> None:
        from ht_ner_spark.operators import antirules, fused
        from ht_ner_spark.storage import catalog, checkpoint

        tr = self

        def wrap(mod, attr, fn):
            self._saved.append((mod, attr, getattr(mod, attr)))
            setattr(mod, attr, fn)

        orig_freq = antirules.word_frequency_agg_arrow
        orig_fused = fused.fused_stage1
        orig_write = catalog.write_table
        orig_record = checkpoint.record_stage

        def word_frequency_agg_arrow(*a, **k):
            tr.phase("antirules")
            tr.last_freq_df = orig_freq(*a, **k)
            return tr.last_freq_df

        def fused_stage1(*a, **k):
            tr.phase("fused")
            return orig_fused(*a, **k)

        def write_table(df, warehouse, name, *a, **k):
            path = os.path.join(warehouse, name)
            before = _data_files(path)
            with tr.span("catalog.write", table=name) as s:
                orig_write(df, warehouse, name, *a, **k)
            s.attrs["files"] = len(_data_files(path) - before)

        def record_stage(spark, warehouse, run_id, stage, *a, **k):
            with tr.span("checkpoint.record", stage=stage):
                orig_record(spark, warehouse, run_id, stage, *a, **k)
            tr.record_counts(stage, k)
            tr.end_phase(STAGE_LAYER.get(stage, stage))
            if stage in ("s1", "s1b", "s2", "s3"):
                tr.phase(None)

        wrap(antirules, "word_frequency_agg_arrow", word_frequency_agg_arrow)
        wrap(fused, "fused_stage1", fused_stage1)
        wrap(catalog, "write_table", write_table)
        wrap(checkpoint, "record_stage", record_stage)

    def uninstall(self) -> None:
        while self._saved:
            mod, attr, fn = self._saved.pop()
            setattr(mod, attr, fn)

    def record_counts(self, stage: str, kwargs: dict) -> None:
        """Keep the counts each stage records about itself on the stage's
        span (the open phase)."""
        if self._phase is None:
            return
        counters = kwargs.get("counters") or {}
        self._phase.attrs.update(
            rows_out=int(kwargs.get("rows_out", 0) or sum(
                n for _, n in kwargs.get("partition_rows") or [])),
            dropped_blocks=int(counters.get("dropped_blocks", 0)))

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([s.as_dict() for s in self.spans], f)


def _data_files(path: str) -> set[str]:
    out = set()
    for dp, _, fs in os.walk(path):
        out.update(os.path.join(dp, f) for f in fs if f.endswith(".parquet"))
    return out


# ---- Spark event log

def read_event_log(log_dir: str) -> list[dict]:
    """Decode the rolling, zstd-compressed event log files of every
    application under ``log_dir``."""
    import pyarrow as pa

    events = []
    files = sorted(glob.glob(os.path.join(log_dir, "eventlog_v2_*",
                                          "events_*")),
                   key=lambda p: int(os.path.basename(p).split("_")[1]))
    for p in files:
        with pa.OSFile(p) as raw:
            stream = (pa.CompressedInputStream(raw, "zstd")
                      if p.endswith(".zstd") else raw)
            data = stream.read()
        for line in data.decode("utf-8").splitlines():
            if line:
                events.append(json.loads(line))
    return events


# task accumulators summed per Spark stage (shuffle read and spill add two)
_ACC = {
    "internal.metrics.executorCpuTime": "cpu_ns",
    "internal.metrics.executorRunTime": "run_ms",
    "internal.metrics.jvmGCTime": "gc_ms",
    "internal.metrics.shuffle.read.localBytesRead": "shuffle_read",
    "internal.metrics.shuffle.read.remoteBytesRead": "shuffle_read",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write",
    "internal.metrics.memoryBytesSpilled": "spill",
    "internal.metrics.diskBytesSpilled": "spill",
    "internal.metrics.output.bytesWritten": "written",
    "time to run Python workers": "python_ms",
    "data sent to Python workers": "arrow_in",
    "data returned from Python workers": "arrow_out",
}


def spark_stages(events: list[dict]) -> tuple[list[dict], list]:
    """-> (stages, jobs). One record per executed Spark stage: submission
    time (s), job id, summed task metrics and every task's run time (for the
    skew signal); and (job id, submission time) per job."""
    job_of, job_time = {}, {}
    stages: dict[int, dict] = {}
    for e in events:
        ev = e["Event"]
        if ev == "SparkListenerJobStart":
            job_time[e["Job ID"]] = e["Submission Time"] / 1000
            for sid in e["Stage IDs"]:
                job_of.setdefault(sid, e["Job ID"])
        elif ev == "SparkListenerStageSubmitted":
            info = e["Stage Info"]
            stages[info["Stage ID"]] = {
                "stage": info["Stage ID"],
                "submitted": info.get("Submission Time", 0) / 1000,
                "job": job_of.get(info["Stage ID"]),
                "tasks": 0, "task_ms": [],
                **{k: 0 for k in _ACC.values()}}
        elif ev == "SparkListenerTaskEnd":
            st = stages.get(e["Stage ID"])
            if st is None:
                continue
            st["tasks"] += 1
            for acc in e["Task Info"].get("Accumulables", []):
                key = _ACC.get(acc["Name"])
                if key is not None:
                    st[key] += int(acc.get("Update") or 0)
                    if key == "run_ms":
                        st["task_ms"].append(int(acc.get("Update") or 0))
    jobs = sorted(job_time.items())
    return list(stages.values()), jobs


def attribute(spans: list[Span], stages: list[dict], jobs: list) -> None:
    """Attach each Spark stage and job to the innermost span open when it
    was submitted."""
    for s in spans:
        s.attrs.setdefault("spark_stages", [])
        s.attrs.setdefault("jobs", 0)

    def innermost(t):
        best = None
        for s in spans:
            if s.start <= t <= s.end and (best is None or s.depth > best.depth):
                best = s
        return best

    for st in stages:
        s = innermost(st["submitted"])
        if s is not None:
            s.attrs["spark_stages"].append(st)
    for _, t in jobs:
        s = innermost(t)
        if s is not None:
            s.attrs["jobs"] += 1


def _subtree(span: Span, spans: list[Span]) -> list[Span]:
    out, frontier = [span], {id(span)}
    for s in spans:  # spans are stored in open order: parents first
        if s.parent is not None and id(s.parent) in frontier:
            out.append(s)
            frontier.add(id(s))
    return out


def _self_time(span: Span, spans: list[Span]) -> float:
    kids = sorted((s.start, s.end) for s in spans if s.parent is span)
    covered, cur_end = 0.0, span.start
    for a, b in kids:
        a, b = max(a, cur_end), min(b, span.end)
        if b > a:
            covered += b - a
            cur_end = b
    return span.dur - covered


def spark_sums(spans_in: list[Span]) -> dict:
    """Summed Spark work over the given spans' attributed stages."""
    sts = [st for s in spans_in for st in s.attrs.get("spark_stages", [])]
    tot = {k: sum(st[k] for st in sts) for k in _ACC.values()}
    tot["tasks"] = sum(st["tasks"] for st in sts)
    tot["jobs"] = sum(s.attrs.get("jobs", 0) for s in spans_in)
    # skew of the stage that did the most task time: max / median task time
    heavy = max(sts, key=lambda st: sum(st["task_ms"]), default=None)
    if heavy and heavy["task_ms"] and statistics.median(heavy["task_ms"]) > 0:
        tot["task_skew"] = max(heavy["task_ms"]) / statistics.median(
            heavy["task_ms"])
    else:
        tot["task_skew"] = 1.0
    return tot


MB = 1024 * 1024


def op_metrics(root: Span, spans: list[Span]) -> dict:
    """Per-layer metrics of one traced operation (a build or an update)."""
    tree = _subtree(root, spans)
    out: dict[str, float] = {}
    stage_cover = 0.0
    for layer in LAYERS:
        mine = [s for s in tree if s.name == layer]
        subtree = [x for s in mine for x in _subtree(s, tree)]
        sums = spark_sums(subtree)
        wall = sum(s.dur for s in mine)
        stage_cover += wall
        out.update({
            f"{layer}.wall_s": wall,
            f"{layer}.self_s": sum(_self_time(s, tree) for s in mine),
            f"{layer}.cpu_s": sums["cpu_ns"] / 1e9,
            f"{layer}.gc_s": sums["gc_ms"] / 1e3,
            f"{layer}.jobs": sums["jobs"],
            f"{layer}.tasks": sums["tasks"],
        })
        if layer == "antirules":
            out["antirules.vocab"] = sum(s.attrs.get("vocab", 0) for s in mine)
        if layer == "fused":
            out.update({
                "fused.mention_rows": root.attrs.get("s1_rows_m", 0),
                "fused.vote_rows": root.attrs.get("s1_rows_v", 0),
                "fused.python_s": sums["python_ms"] / 1e3,
                "fused.arrow_in_mb": sums["arrow_in"] / MB,
                "fused.arrow_out_mb": sums["arrow_out"] / MB,
                "fused.written_mb": sums["written"] / MB,
            })
        if layer in ("aggregate", "linking", "triples"):
            out[f"{layer}.shuffle_mb"] = (sums["shuffle_read"]
                                          + sums["shuffle_write"]) / MB
        if layer in ("linking", "triples"):
            out[f"{layer}.task_skew"] = sums["task_skew"]
        rows = sum(s.attrs.get("rows_out", 0) for s in mine)
        if layer == "aggregate":
            out["aggregate.entity_rows"] = rows
        if layer == "linking":
            out["linking.edges"] = rows
            out["linking.dropped_blocks"] = sum(
                s.attrs.get("dropped_blocks", 0) for s in mine)
        if layer == "components":
            out["components.rows"] = rows
        if layer == "triples":
            out["triples.rows"] = rows
            out["triples.spill_mb"] = sums["spill"] / MB
            writes = [s for s in subtree if s.name == "catalog.write"
                      and s.attrs.get("table") == "triples"]
            recs = [s for s in subtree if s.name == "checkpoint.record"]
            out["triples.write_s"] = sum(s.dur for s in writes)
            out["triples.audit_s"] = (
                min(s.start for s in recs) - max(s.end for s in writes)
                if writes and recs else 0.0)
    writes = [s for s in tree if s.name == "catalog.write"]
    wsums = spark_sums([x for s in writes for x in _subtree(s, tree)])
    out.update({
        "catalog.write_s": sum(s.dur for s in writes),
        "catalog.written_mb": wsums["written"] / MB,
        "catalog.files": sum(s.attrs.get("files", 0) for s in writes),
        "catalog.gc_s": wsums["gc_ms"] / 1e3,
        "catalog.jobs": wsums["jobs"],
        "catalog.tasks": wsums["tasks"],
    })
    recs = [s for s in tree if s.name == "checkpoint.record"]
    out["checkpoint.record_s"] = sum(s.dur for s in recs)
    out["checkpoint.calls"] = len(recs)
    drains = [s for s in tree if s.name == "incremental.drain"]
    dsums = spark_sums([x for s in drains for x in _subtree(s, tree)])
    out.update({
        "incremental.drain_s": sum(s.dur for s in drains),
        "incremental.self_s": sum(_self_time(s, tree) for s in drains),
        "incremental.merge_read_s": sum(
            s.dur for s in tree if s.name == "incremental.merge_read"),
        "incremental.delta_partitions": root.attrs.get("delta_partitions", 0),
        "incremental.gc_s": dsums["gc_ms"] / 1e3,
        "incremental.jobs": dsums["jobs"],
        "incremental.tasks": dsums["tasks"],
    })
    out["trace.op_s"] = root.dur
    out["trace.stage_coverage"] = stage_cover / root.dur if root.dur else 0.0
    return out
