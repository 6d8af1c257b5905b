"""Spans around the program's public functions, and the Spark event log.

A traced run wraps the public functions listed in ``LAYER_FUNCTIONS``
wherever the package binds them, so a call from a query module or from
the benchmark itself records a span (name, start, end, parent, op id).
Each span also sets the Spark job description to its layer name, and
each operation sets the job group to its op id, so the event log ties
every Spark job to exactly one operation and layer. Spans stay in memory
until the run ends. An untraced run creates no tracer and wraps nothing.
"""

from __future__ import annotations

import functools
import glob
import importlib
import json
import os
import sys
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass

PKG = "cs_tutorial_reporting_spark"

#: (module, function) → layer name; the modules are the program's layers
LAYER_FUNCTIONS = {
    ("session", "get_spark"): "session.get_spark",
    ("sources.readers", "load_table"): "readers.load_table",
    ("sources.readers", "read_parquet_table"): "readers.read_parquet_table",
    ("sources.readers", "read_json_array"): "readers.read_json_array",
    ("operators.project", "project_cast"): "project.project_cast",
    ("operators.incremental", "watermark"): "incremental.watermark",
    ("plans.pipeline", "load_report_table"): "pipeline.load_report_table",
    ("sources.sinks", "write_json_landing"): "sinks.write_json_landing",
    ("sources.sinks", "write_table_append"): "sinks.write_table_append",
}


@dataclass
class Span:
    name: str
    start: float  # epoch seconds, comparable with event-log milliseconds
    end: float
    parent: int | None
    op: str | None


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._op: str | None = None
        self._sc = None

    def bind(self, spark) -> None:
        self._sc = spark.sparkContext

    def _set_desc(self, name: str | None) -> None:
        if self._sc is not None:
            self._sc.setJobDescription(name)

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.time(), 0.0, parent, self._op))
        self._stack.append(idx)
        self._set_desc(name)
        try:
            yield
        finally:
            self.spans[idx].end = time.time()
            self._stack.pop()
            self._set_desc(self.spans[self._stack[-1]].name if self._stack else None)

    @contextmanager
    def op(self, op_id: str, name: str):
        """Root span of one operation; its Spark jobs join group ``op_id``."""
        self._op = op_id
        if self._sc is not None:
            self._sc.setJobGroup(op_id, name)
        try:
            with self.span(name):
                yield
        finally:
            self._op = None
            if self._sc is not None:
                self._sc.setLocalProperty("spark.jobGroup.id", None)

    def wrap_layers(self) -> None:
        """Replace each layer function by a spanning wrapper everywhere the
        package binds it (module globals, ``from x import f`` re-exports)."""
        originals = {}
        for (mod, fn), layer in LAYER_FUNCTIONS.items():
            orig = getattr(importlib.import_module(f"{PKG}.{mod}"), fn)
            originals[id(orig)] = (orig, self._wrapper(orig, layer))
        for name, module in list(sys.modules.items()):
            if not name.startswith(PKG) or module is None:
                continue
            for attr, value in list(vars(module).items()):
                hit = originals.get(id(value))
                if hit is not None and hit[0] is value:
                    setattr(module, attr, hit[1])

    def _wrapper(self, fn, layer: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(layer):
                return fn(*args, **kwargs)

        return traced


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the union of its children's intervals."""
    children = defaultdict(list)
    for i, s in enumerate(spans):
        if s.parent is not None:
            children[s.parent].append((s.start, s.end))
    return [
        (s.end - s.start) - union_length(children[i], s.start, s.end)
        for i, s in enumerate(spans)
    ]


def union_length(intervals, lo: float | None = None, hi: float | None = None) -> float:
    """Length of the union of ``(start, end)`` intervals, clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if lo is not None:
            s, e = max(s, lo), min(e, hi)
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def op_breakdown(spans: list[Span], jobs: dict) -> dict[str, dict]:
    """Per operation: traced wall, summed span self times, the union of
    its jobs' intervals, and the driver gap (wall minus that union inside
    the operation's span). Also sets each job's ``op``."""
    own = self_times(spans)
    out: dict[str, dict] = {}
    for s in spans:
        if s.parent is None and s.op is not None:
            out[s.op] = {"name": s.name, "start": s.start, "end": s.end,
                         "wall_s": s.end - s.start, "self_sum_s": 0.0}
    for s, t in zip(spans, own):
        if s.op in out:
            out[s.op]["self_sum_s"] += t
    by_op = defaultdict(list)
    for j in jobs.values():
        j.op = j.group if j.group in out else _containing(out, j.start)
        by_op[j.op].append((j.start, j.end))
    for op_id, o in out.items():
        iv = by_op.get(op_id, [])
        o["jobs"] = len(iv)
        o["job_s"] = union_length(iv)
        o["driver_gap_s"] = o["wall_s"] - union_length(iv, o["start"], o["end"])
    return out


def _containing(ops: dict[str, dict], t: float) -> str | None:
    """The operation whose span contains ``t``. Broadcast exchanges run
    their jobs under a job group of their own, so those are placed by
    time."""
    hits = [k for k, o in ops.items() if o["start"] <= t <= o["end"]]
    return hits[0] if len(hits) == 1 else None


# --- event log ---------------------------------------------------------------

#: plan nodes that run Python workers
PYTHON_NODES = {
    "ArrowEvalPython", "BatchEvalPython", "MapInPandas", "MapInArrow",
    "FlatMapGroupsInPandas", "FlatMapGroupsInArrow", "FlatMapCoGroupsInPandas",
    "FlatMapCoGroupsInArrow", "AggregateInPandas", "ArrowAggregatePython",
    "WindowInPandas", "ArrowWindowPython", "BatchEvalPythonUDTF",
    "ArrowEvalPythonUDTF",
}


@dataclass
class Job:
    job_id: int
    group: str | None
    desc: str | None
    start: float  # epoch seconds
    end: float
    stages: list[int]
    op: str | None = None  # set by op_breakdown


@dataclass
class Stage:
    stage_id: int
    tasks: int
    run_ms: float
    cpu_ms: float
    gc_ms: float
    shuffle_read: float
    shuffle_write: float
    spill: float
    python: bool
    scans: frozenset[str]  # names of the BatchScan sources the stage reads
    failed_tasks: int = 0


_ACC = {
    "internal.metrics.executorRunTime": "run_ms",
    "internal.metrics.executorCpuTime": "cpu_ns",
    "internal.metrics.jvmGCTime": "gc_ms",
    "internal.metrics.shuffle.read.remoteBytesRead": "shuffle_read",
    "internal.metrics.shuffle.read.localBytesRead": "shuffle_read",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write",
    "internal.metrics.memoryBytesSpilled": "spill",
    "internal.metrics.diskBytesSpilled": "spill",
}


def _scope_names(info: dict) -> set[str]:
    """Plan-node names of a stage's RDD scopes."""
    return {
        json.loads(rdd["Scope"]).get("name")
        for rdd in info.get("RDD Info", [])
        if rdd.get("Scope")
    }


def _is_python_stage(info: dict, scopes: set[str]) -> bool:
    """A stage runs Python workers when a Python plan node is in its RDD
    scopes or it reports the Python-worker SQL metrics."""
    return bool(scopes & PYTHON_NODES) or any(
        "Python workers" in (a.get("Name") or "") for a in info.get("Accumulables", [])
    )


def parse_event_log(log_dir: str) -> tuple[dict[int, Job], dict[int, Stage]]:
    """Jobs and completed stages from an uncompressed Spark event log."""
    jobs: dict[int, Job] = {}
    stages: dict[int, Stage] = {}
    failed = defaultdict(int)
    files = [f for f in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
             if os.path.isfile(f) and not f.endswith(".crc")]
    for path in sorted(files):
        with open(path, encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = Job(
                        ev["Job ID"],
                        props.get("spark.jobGroup.id"),
                        props.get("spark.job.description"),
                        ev["Submission Time"] / 1000.0,
                        ev["Submission Time"] / 1000.0,
                        list(ev.get("Stage IDs", [])),
                    )
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    reason = (ev.get("Task End Reason") or {}).get("Reason")
                    if reason != "Success":
                        failed[ev["Stage ID"]] += 1
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    acc = defaultdict(float)
                    for a in info.get("Accumulables", []):
                        key = _ACC.get(a.get("Name"))
                        if key is not None:
                            acc[key] += float(a.get("Value") or 0)
                    scopes = _scope_names(info)
                    stages[info["Stage ID"]] = Stage(
                        info["Stage ID"],
                        int(info.get("Number of Tasks", 0)),
                        acc["run_ms"],
                        acc["cpu_ns"] / 1e6,
                        acc["gc_ms"],
                        acc["shuffle_read"],
                        acc["shuffle_write"],
                        acc["spill"],
                        _is_python_stage(info, scopes),
                        frozenset(
                            n.removeprefix("BatchScan ") for n in scopes
                            if n and n.startswith("BatchScan ")
                        ),
                    )
    for sid, n in failed.items():
        if sid in stages:
            stages[sid].failed_tasks = n
    return jobs, stages
