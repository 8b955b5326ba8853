"""Per-layer trace for traced benchmark runs.

Spans come only from this benchmark: the workloads open them around their
own calls, and :func:`instrument` wraps public functions of the engine's
layers (``engine``, ``catalog.store``, ``pipeline``) plus the DataFrame
actions, for the life of one traced run. Spans are kept in memory; the
Spark event log of the run is folded by the job group each operation sets
and joined to them once, after the session has stopped.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from stats import merged_length

#: (name, unit) of every per-layer metric, in output order
PER_LAYER = [
    ("webapi.self_ms", "ms"),
    ("webapi.response_bytes", "bytes"),
    ("engine.plan_ms", "ms"),
    ("engine.calls_per_op", "count"),
    ("store.read_ms", "ms"),
    ("store.reads_per_op", "count"),
    ("store.commit_ms", "ms"),
    ("store.commits_per_op", "count"),
    ("store.bytes_written_per_scene", "bytes"),
    ("store.generations_retained", "count"),
    ("pipeline.dispatch_ms", "ms"),
    ("pipeline.run_ms", "ms"),
    ("pipeline.publish_ratio", "ratio"),
    ("plans.build_ms", "ms"),
    ("plans.exec_ms", "ms"),
    ("plans.eager_jobs", "count"),
    ("catalyst.analysis_ms", "ms"),
    ("catalyst.optimization_ms", "ms"),
    ("catalyst.planning_ms", "ms"),
    ("spark.jobs_per_op", "count"),
    ("spark.tasks_per_op", "count"),
    ("spark.job_ms", "ms"),
    ("spark.driver_gap_ms", "ms"),
    ("spark.executor_run_ms", "ms"),
    ("spark.executor_cpu_ms", "ms"),
    ("spark.gc_ms", "ms"),
    ("spark.shuffle_read_bytes", "bytes"),
    ("spark.shuffle_write_bytes", "bytes"),
    ("spark.spill_bytes", "bytes"),
    ("session.boot_s", "s"),
    ("session.warmup_s", "s"),
]

_PHASES = ("analysis", "optimization", "planning")


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int = -1
    op: int = -1
    data: dict = field(default_factory=dict)


class Tracer:
    """Span recorder. Disabled, every method is a no-op, so untraced
    runs execute the same workload code with nothing around it."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.op = -1
        #: (DataFrame, force-planning) pairs the current op produced
        self.frames: list = []
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, **data):
        if not self.enabled:
            yield None
            return
        idx = len(self.spans)
        self.spans.append(Span(name, time.time(),
                               parent=self._stack[-1] if self._stack else -1,
                               op=self.op, data=data))
        self._stack.append(idx)
        try:
            yield self.spans[idx]
        finally:
            self._stack.pop()
            self.spans[idx].end = time.time()

    @contextmanager
    def operation(self, op_id: int, kind: str, timed: bool):
        """One benchmark operation: every span opened inside it carries
        ``op_id``; the Catalyst phases of the DataFrames it produced are
        folded into the op span when it closes."""
        self.op = op_id
        self.frames = []
        try:
            with self.span("op", kind=kind, timed=timed) as sp:
                yield sp
            if sp is not None:
                sp.data.update(catalyst_phases(self.frames))
        finally:
            self.op = -1
            self.frames = []

    def wrap(self, owner, attr: str, name: str, after=None) -> None:
        """Replace ``owner.attr`` by a spanned wrapper until
        :meth:`restore`; ``after(span, args, result)`` runs once the
        span has closed, so its own cost stays out of the span."""
        import functools

        original = getattr(owner, attr)
        tracer = self

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            with tracer.span(name) as sp:
                result = original(*args, **kwargs)
            if after is not None:
                after(sp, args, result)
            return result

        self._patched.append((owner, attr, original))
        setattr(owner, attr, wrapper)

    def restore(self) -> None:
        while self._patched:
            owner, attr, original = self._patched.pop()
            setattr(owner, attr, original)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([s.__dict__ for s in self.spans], fh)


def catalyst_phases(frames) -> dict[str, float]:
    """Summed analysis / optimization / planning ms over ``frames``
    ((DataFrame, force-planning) pairs), read from each DataFrame's own
    QueryExecution tracker."""
    out = {p: 0.0 for p in _PHASES}
    for df, force in frames:
        qe = df._jdf.queryExecution()
        if force:
            # the noop write plans a copy of this plan under its own
            # QueryExecution; planning the held one measures the same work
            qe.executedPlan()
        phases = qe.tracker().phases()
        for p in _PHASES:
            summary = phases.get(p)
            if summary.isDefined():
                out[p] += float(summary.get().durationMs())
    return out


def _dir_bytes(path: str | None) -> int:
    if not path or not os.path.isdir(path):
        return 0
    return sum(os.path.getsize(os.path.join(root, f))
               for root, _, names in os.walk(path) for f in names)


def instrument(tracer: Tracer) -> None:
    """Wrap the engine's public entry points for one traced run."""
    from pyspark.sql import DataFrame

    from bdc_collection_builder_spark.catalog.store import CatalogStore
    from bdc_collection_builder_spark.engine import CollectionBuilderEngine
    from bdc_collection_builder_spark.pipeline import radcor

    def keep_frame(_sp, _args, result):
        if isinstance(result, DataFrame):
            tracer.frames.append((result, False))

    for attr, value in list(vars(CollectionBuilderEngine).items()):
        if callable(value) and not attr.startswith("_"):
            tracer.wrap(CollectionBuilderEngine, attr, f"engine.{attr}",
                        after=keep_frame)

    def commit_bytes(sp, args, _result):
        if sp is not None:
            store, table = args[0], args[1]
            sp.data["bytes"] = _dir_bytes(store.data_path(table))

    tracer.wrap(CatalogStore, "read", "store.read")
    for attr in ("overwrite", "append", "merge_upsert"):
        tracer.wrap(CatalogStore, attr, "store.commit", after=commit_bytes)
    tracer.wrap(radcor, "radcor_dispatch", "pipeline.dispatch")
    for attr in ("collect", "count", "toPandas"):
        tracer.wrap(DataFrame, attr, "spark.action")


# -- Spark event log ---------------------------------------------------


def fold_event_log(path: str) -> dict[int, dict]:
    """Jobs of one application's uncompressed event log, each with its
    job group, submission/completion ms and summed task metrics."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                props = ev.get("Properties") or {}
                jobs[jid] = {
                    "group": props.get("spark.jobGroup.id"),
                    "submit": ev["Submission Time"], "complete": None,
                    "tasks": 0, "run_ms": 0, "cpu_ms": 0.0, "gc_ms": 0,
                    "shuffle_read": 0, "shuffle_write": 0, "spill": 0,
                }
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["complete"] = ev["Completion Time"]
            elif kind == "SparkListenerTaskEnd":
                job = jobs.get(stage_job.get(ev["Stage ID"], -1))
                metrics = ev.get("Task Metrics")
                if job is None or not metrics:
                    continue
                read = metrics.get("Shuffle Read Metrics", {})
                job["tasks"] += 1
                job["run_ms"] += metrics.get("Executor Run Time", 0)
                job["cpu_ms"] += metrics.get("Executor CPU Time", 0) / 1e6
                job["gc_ms"] += metrics.get("JVM GC Time", 0)
                job["shuffle_read"] += (read.get("Remote Bytes Read", 0)
                                        + read.get("Local Bytes Read", 0))
                job["shuffle_write"] += metrics.get(
                    "Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                job["spill"] += (metrics.get("Memory Bytes Spilled", 0)
                                 + metrics.get("Disk Bytes Spilled", 0))
    return jobs


def event_log_file(log_dir: str) -> str:
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}: {names}")
    return os.path.join(log_dir, names[0])


# -- per-layer table ---------------------------------------------------


def self_time(spans: list[Span], idx: int) -> float:
    """Span duration minus the merged intervals of its direct children
    (overlapping children count once)."""
    sp = spans[idx]
    children = [(max(c.start, sp.start), min(c.end, sp.end))
                for c in spans if c.parent == idx]
    return (sp.end - sp.start) - merged_length(children)


def _has_ancestor(spans: list[Span], idx: int, prefix: str) -> bool:
    p = spans[idx].parent
    while p >= 0:
        if spans[p].name.startswith(prefix):
            return True
        p = spans[p].parent
    return False


def op_group(op_id: int, phase: str | None = None) -> str:
    """The Spark job group of an operation (or of one of its phases)."""
    return f"op{op_id}" if phase is None else f"op{op_id}.{phase}"


def _group_op(group: str | None) -> tuple[int, str | None] | None:
    if not group or not group.startswith("op"):
        return None
    head, _, phase = group[2:].partition(".")
    return (int(head), phase or None) if head.isdigit() else None


def layers(tracer: Tracer, jobs: dict[int, dict], extra: dict) -> dict:
    """Per-layer metrics, each averaged per timed operation unless its
    name says otherwise, plus the trace's consistency verdicts."""
    spans = tracer.spans
    ops = {s.op: s for s in spans if s.name == "op" and s.data.get("timed")}
    n = max(1, len(ops))
    total: dict[str, float] = {name: 0.0 for name, _ in PER_LAYER}

    for i, s in enumerate(spans):
        if s.op not in ops:
            continue
        dur_ms = (s.end - s.start) * 1000.0
        if s.name == "webapi.request":
            total["webapi.self_ms"] += self_time(spans, i) * 1000.0
            total["webapi.response_bytes"] += s.data.get("bytes", 0)
        elif s.name.startswith("engine.") and not _has_ancestor(
                spans, i, "engine."):
            total["engine.plan_ms"] += dur_ms
            total["engine.calls_per_op"] += 1
        elif s.name == "store.read":
            total["store.read_ms"] += dur_ms
            total["store.reads_per_op"] += 1
        elif s.name == "store.commit":
            total["store.commit_ms"] += dur_ms
            total["store.commits_per_op"] += 1
            total["store.bytes_written_per_scene"] += s.data.get("bytes", 0)
        elif s.name == "pipeline.dispatch":
            total["pipeline.dispatch_ms"] += dur_ms
        elif s.name == "pipeline.run":
            total["pipeline.run_ms"] += dur_ms
        elif s.name == "plans.build":
            total["plans.build_ms"] += dur_ms
        elif s.name == "plans.exec":
            total["plans.exec_ms"] += dur_ms
        elif s.name == "op":
            for p in _PHASES:
                total[f"catalyst.{p}_ms"] += s.data.get(p, 0.0)

    per_op_jobs: dict[int, list[dict]] = {op: [] for op in ops}
    for job in jobs.values():
        owner = _group_op(job["group"])
        if owner is None or owner[0] not in ops:
            continue
        per_op_jobs[owner[0]].append(job)
        if owner[1] == "build":
            total["plans.eager_jobs"] += 1
    eager_final_ok = True
    run_ms_ok = True
    cores = extra["cores"]
    for op_id, op in ops.items():
        own = per_op_jobs[op_id]
        lo, hi = op.start * 1000.0, op.end * 1000.0
        in_window = [j for j in jobs.values()
                     if lo - 5 <= j["submit"] <= hi + 5]
        phases = [_group_op(j["group"])[1] for j in own]
        eager = phases.count("build")
        final = phases.count("exec") + phases.count(None)
        eager_final_ok &= len(in_window) == len(own) == eager + final
        wall_ms = hi - lo
        run_ms = sum(j["run_ms"] for j in own)
        run_ms_ok &= run_ms <= (wall_ms + 5.0) * cores
        job_ms = merged_length([(j["submit"], j["complete"] or j["submit"])
                                for j in own])
        total["spark.jobs_per_op"] += len(own)
        total["spark.tasks_per_op"] += sum(j["tasks"] for j in own)
        total["spark.job_ms"] += job_ms
        total["spark.driver_gap_ms"] += wall_ms - job_ms
        total["spark.executor_run_ms"] += run_ms
        total["spark.executor_cpu_ms"] += sum(j["cpu_ms"] for j in own)
        total["spark.gc_ms"] += sum(j["gc_ms"] for j in own)
        total["spark.shuffle_read_bytes"] += sum(j["shuffle_read"] for j in own)
        total["spark.shuffle_write_bytes"] += sum(j["shuffle_write"]
                                                  for j in own)
        total["spark.spill_bytes"] += sum(j["spill"] for j in own)

    out = {name: value / n for name, value in total.items()}
    scenes = extra.get("scenes_published", 0)
    out["store.bytes_written_per_scene"] = (
        total["store.bytes_written_per_scene"] / scenes if scenes else 0.0)
    dispatched = extra.get("scenes_dispatched", 0)
    out["pipeline.publish_ratio"] = scenes / dispatched if dispatched else 0.0
    out["store.generations_retained"] = float(
        extra.get("generations_retained", 0))
    out["session.boot_s"] = extra["boot_s"]
    out["session.warmup_s"] = extra["warmup_s"]
    checks = {"eager_plus_final_equals_total": eager_final_ok,
              "executor_run_within_wall_x_cores": run_ms_ok,
              "ops_traced": len(ops) > 0}
    return {"metrics": out, "checks": checks}
