"""Traced runs: spans around the calls into each layer, recorded from the
benchmark's own process, and Spark's event log for job, stage and task
metrics.

Spans are kept in memory and written once, when the run ends. A span's
self time is its duration minus the part of it that its child spans
cover; the self time of an op's top span is the op's unattributed
remainder. Spark jobs are attributed to ops by the job group the op runs
under, and nested under the innermost span that was open when they were
submitted.

Wrapped from outside, never edited:

- ``catalog.load`` (every module binding of it) and
  ``artifacts.ensure_artifact``;
- ``ReconPair.summary``;
- ``DataFrame.localCheckpoint``, to read the Catalyst phase times of the
  checkpointed plan from ``QueryExecution.tracker()`` through py4j;
- ``DataFrameWriter.parquet``, the report sink the ``recon`` CLI uses.
"""

from __future__ import annotations

import json
import os
import sys
import time
from collections import Counter, defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass

CATALYST_PHASES = ("analysis", "optimization", "planning")

#: per-layer metrics a traced run prints, with their units
LAYER_METRICS = {
    "session.boot_s": "s",
    "session.metastore_init_s": "s",
    "session.warmup_s": "s",
    "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "api.summary_s": "s",
    "api.summary_jobs": "count",
    "cli.main_s": "s",
    "sink.write_s": "s",
    "sink.bytes_written": "bytes",
    "sink.files_written": "count",
    "registry.build_s": "s",
    "registry.build_jobs": "count",
    "catalog.load_calls": "count",
    "catalog.load_s": "s",
    "catalog.cache_hit_ratio": "ratio",
    "artifacts.ensure_s": "s",
    "artifacts.rebuilds": "count",
    "recon.build_s": "s",
    "recon.exec_s": "s",
    "streaming.build_s": "s",
    "streaming.exec_s": "s",
    "udfs.build_s": "s",
    "udfs.exec_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.wall_s": "s",
    "exec.task_s": "s",
    "exec.task_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.idle_core_ratio": "ratio",
    "exec.input_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "self.api.summary_s": "s",
    "self.cli.main_s": "s",
    "self.sink.write_s": "s",
    "self.registry.build_s": "s",
    "self.registry.exec_s": "s",
    "self.catalog.load_s": "s",
    "self.artifacts.ensure_s": "s",
    "trace.unattributed_s": "s",
    "trace.overhead_ratio": "ratio",
    "trace.ops": "count",
}


@dataclass
class Span:
    id: int
    op: int | None
    name: str
    parent: int | None
    start: float  # epoch seconds, comparable with event-log timestamps
    end: float = 0.0
    #: layer family of the registered query the span runs, if any
    kind: str = ""
    jobs: int = 0

    @property
    def dur(self) -> float:
        return self.end - self.start


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Tracer:
    """Collects spans and layer counters while installed."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.counts: Counter = Counter()
        self.op: int | None = None
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, kind: str = ""):
        sp = Span(len(self.spans), self.op, name, self._stack[-1] if self._stack else None,
                  time.time(), kind=kind)
        self.spans.append(sp)
        self._stack.append(sp.id)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()

    def add_span(self, name: str, start: float, end: float) -> None:
        """A closed child of the innermost open span (Catalyst phases)."""
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(len(self.spans), self.op, name, parent, start, end))

    # -- wrappers ----------------------------------------------------------

    def _patch(self, owner: object, attr: str, new: object) -> None:
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def install(self) -> None:
        from pyspark.sql import DataFrameWriter
        from pyspark.sql.classic.dataframe import DataFrame

        from reconciliation_hive_data_spark import artifacts, catalog
        from reconciliation_hive_data_spark.plans.api import ReconPair

        tracer = self
        orig_load = catalog.load

        def load(spark, sf_dir, name):
            before = {id(df) for df in catalog._RELATION_CACHE.values()}  # noqa: SLF001
            with tracer.span("catalog.load"):
                df = orig_load(spark, sf_dir, name)
            tracer.counts["catalog.load_calls"] += 1
            tracer.counts["catalog.cache_hits"] += id(df) in before
            return df

        # modules bind ``load`` by name at import: rebind every copy
        for mod in list(sys.modules.values()):
            if (getattr(mod, "__name__", "") or "").startswith("reconciliation_hive_data_spark") \
                    and getattr(mod, "load", None) is orig_load:
                self._patch(mod, "load", load)

        orig_ensure = artifacts.ensure_artifact

        def ensure_artifact(*args, **kwargs):
            with tracer.span("artifacts.ensure"):
                loc, rebuilt = orig_ensure(*args, **kwargs)
            tracer.counts["artifacts.rebuilds"] += rebuilt
            return loc, rebuilt

        self._patch(artifacts, "ensure_artifact", ensure_artifact)

        orig_summary = ReconPair.summary

        def summary(pair):
            with tracer.span("api.summary"):
                return orig_summary(pair)

        self._patch(ReconPair, "summary", summary)

        orig_checkpoint = DataFrame.localCheckpoint

        def local_checkpoint(df, *args, **kwargs):
            out = orig_checkpoint(df, *args, **kwargs)
            phases = df._jdf.queryExecution().tracker().phases()  # noqa: SLF001
            for phase in CATALYST_PHASES:
                found = phases.get(phase)
                if found.isDefined():
                    p = found.get()
                    tracer.add_span(f"catalyst.{phase}", p.startTimeMs() / 1e3, p.endTimeMs() / 1e3)
            return out

        self._patch(DataFrame, "localCheckpoint", local_checkpoint)

        orig_parquet = DataFrameWriter.parquet

        def parquet(writer, path, *args, **kwargs):
            with tracer.span("sink.write"):
                out = orig_parquet(writer, path, *args, **kwargs)
            files = [f for f in os.listdir(path) if f.startswith("part-")]
            tracer.counts["sink.files_written"] += len(files)
            tracer.counts["sink.bytes_written"] += sum(
                os.path.getsize(os.path.join(path, f)) for f in files
            )
            return out

        self._patch(DataFrameWriter, "parquet", parquet)

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": [asdict(s) for s in self.spans], "counts": self.counts}, fh)


# --- event log ---------------------------------------------------------------


@dataclass
class OpExec:
    jobs: list[tuple[float, float]]
    stages: int = 0
    tasks: int = 0
    task_s: float = 0.0
    task_cpu_s: float = 0.0
    gc_s: float = 0.0
    input_bytes: int = 0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0


def read_event_log(log_dir: str, group_prefix: str) -> dict[int, OpExec]:
    """Stage and task metrics per op, keyed by the op index encoded in the
    job group ``f"{group_prefix}{index}"``. Jobs outside any op group are
    left out (they belong to warm-up or to the benchmark's own checks)."""
    job_op: dict[int, int] = {}
    stage_op: dict[int, int] = {}
    starts: dict[int, float] = {}
    out: dict[int, OpExec] = defaultdict(lambda: OpExec([]))
    paths = sorted(
        os.path.join(d, f) for d, _, files in os.walk(log_dir) for f in files
        # skip checksums and the rolling log's empty status marker
        if not f.startswith((".", "appstatus"))
    )
    for path in paths:
        with open(path) as fh:
            for line in fh:
                if not line.strip():
                    continue
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    if not group.startswith(group_prefix):
                        continue
                    op = int(group[len(group_prefix):])
                    job_op[ev["Job ID"]] = op
                    starts[ev["Job ID"]] = ev["Submission Time"] / 1e3
                    for sid in ev["Stage IDs"]:
                        stage_op[sid] = op
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in job_op:
                    jid = ev["Job ID"]
                    out[job_op[jid]].jobs.append((starts[jid], ev["Completion Time"] / 1e3))
                elif kind == "SparkListenerStageCompleted":
                    sid = ev["Stage Info"]["Stage ID"]
                    if sid in stage_op:
                        out[stage_op[sid]].stages += 1
                elif kind == "SparkListenerTaskEnd" and ev.get("Stage ID") in stage_op:
                    m = ev.get("Task Metrics") or {}
                    rec = out[stage_op[ev["Stage ID"]]]
                    rec.tasks += 1
                    rec.task_s += m.get("Executor Run Time", 0) / 1e3
                    rec.task_cpu_s += m.get("Executor CPU Time", 0) / 1e9
                    rec.gc_s += m.get("JVM GC Time", 0) / 1e3
                    rec.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                    sw = m.get("Shuffle Write Metrics") or {}
                    rec.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    rec.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    rec.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
    return dict(out)


# --- layer metrics -----------------------------------------------------------


def layer_metrics(
    tracer: Tracer,
    execs: dict[int, OpExec],
    op_walls: list[float],
    cores: int,
) -> dict[str, float]:
    """Per-layer numbers of one traced loop. Times and counts are means
    per op, so runs with different op counts compare; ratios come from
    totals."""
    n = max(len(op_walls), 1)
    by_name: dict[str, float] = defaultdict(float)
    self_time: dict[str, float] = defaultdict(float)
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)

    # nest each op's jobs under the innermost span open at submission
    spans_by_op: dict[int, list[Span]] = defaultdict(list)
    for sp in tracer.spans:
        if sp.op is not None:
            spans_by_op[sp.op].append(sp)
    execs = {op: rec for op, rec in execs.items() if op in spans_by_op}  # traced ops only
    for op, rec in execs.items():
        for start, end in rec.jobs:
            inner = None
            for sp in spans_by_op.get(op, []):
                if sp.start <= start <= sp.end and not sp.name.startswith("catalyst."):
                    if inner is None or sp.start >= inner.start:
                        inner = sp
            if inner is not None:
                children[inner.id].append((max(start, inner.start), min(end, inner.end)))
                sp = inner
                while sp is not None:  # a job counts for every enclosing span
                    sp.jobs += 1
                    sp = tracer.spans[sp.parent] if sp.parent is not None else None
    for sp in tracer.spans:
        if sp.parent is not None:
            children[sp.parent].append((sp.start, sp.end))
    for sp in tracer.spans:
        by_name[sp.name] += sp.dur
        self_time[sp.name] += sp.dur - _union(children[sp.id])

    jobs_in = Counter()
    for sp in tracer.spans:
        jobs_in[sp.name] += sp.jobs

    total = OpExec([])
    for rec in execs.values():
        total.jobs.extend(rec.jobs)
        for field in ("stages", "tasks", "task_s", "task_cpu_s", "gc_s", "input_bytes",
                      "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes"):
            setattr(total, field, getattr(total, field) + getattr(rec, field))
    exec_wall = sum(_union(rec.jobs) for rec in execs.values())

    kind_s = Counter()
    for sp in tracer.spans:
        if sp.kind:
            kind_s[f"{sp.kind}.{sp.name.split('.')[1]}_s"] += sp.dur

    c = tracer.counts
    calls = c["catalog.load_calls"]
    m = {
        "catalyst.analysis_s": by_name["catalyst.analysis"] / n,
        "catalyst.optimization_s": by_name["catalyst.optimization"] / n,
        "catalyst.planning_s": by_name["catalyst.planning"] / n,
        "api.summary_s": by_name["api.summary"] / n,
        "api.summary_jobs": jobs_in["api.summary"] / n,
        "cli.main_s": by_name["cli.main"] / n,
        "sink.write_s": by_name["sink.write"] / n,
        "sink.bytes_written": c["sink.bytes_written"] / n,
        "sink.files_written": c["sink.files_written"] / n,
        "registry.build_s": by_name["registry.build"] / n,
        "registry.build_jobs": jobs_in["registry.build"] / n,
        "catalog.load_calls": calls / n,
        "catalog.load_s": by_name["catalog.load"] / n,
        "catalog.cache_hit_ratio": c["catalog.cache_hits"] / calls if calls else 0.0,
        "artifacts.ensure_s": by_name["artifacts.ensure"] / n,
        "artifacts.rebuilds": c["artifacts.rebuilds"] / n,
        "exec.jobs": len(total.jobs) / n,
        "exec.stages": total.stages / n,
        "exec.tasks": total.tasks / n,
        "exec.wall_s": exec_wall / n,
        "exec.task_s": total.task_s / n,
        "exec.task_cpu_s": total.task_cpu_s / n,
        "exec.gc_s": total.gc_s / n,
        "exec.idle_core_ratio": 1.0 - total.task_s / (sum(op_walls) * cores),
        "exec.input_bytes": total.input_bytes / n,
        "exec.shuffle_write_bytes": total.shuffle_write_bytes / n,
        "exec.shuffle_read_bytes": total.shuffle_read_bytes / n,
        "exec.spill_bytes": total.spill_bytes / n,
        "trace.unattributed_s": self_time["op"] / n,
        "trace.ops": float(len(op_walls)),
    }
    for kind in ("recon", "streaming", "udfs"):
        for phase in ("build", "exec"):
            m[f"{kind}.{phase}_s"] = kind_s[f"{kind}.{phase}_s"] / n
    for layer in ("api.summary", "cli.main", "sink.write", "registry.build", "registry.exec",
                  "catalog.load", "artifacts.ensure"):
        m[f"self.{layer}_s"] = self_time[layer] / n
    return m
