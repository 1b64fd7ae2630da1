"""Tracing for the per-layer run: spans from wall-clock wrappers around
public driver-side entry points, and Spark's own event log.

Spans are kept in memory (name, start, end, parent, op id) and written
as JSON when the run ends. Every Spark job started inside a span
carries the innermost span's id as a job-local property, so the event
log attributes jobs, stages and tasks to layers without touching the
program.
"""

from __future__ import annotations

import functools
import glob
import importlib
import json
import os
import time
from contextlib import contextmanager
from typing import Dict, List, Optional, Tuple

SPAN_PROPERTY = "perfbench.span"

# (module, attribute path, span name): the public driver-side entry
# points below the operation itself. Patched where callers look them up.
TRACE_POINTS: List[Tuple[str, str, str]] = [
    ("contessa_spark.pipeline", "QualityFilterPipeline.run", "pipeline.run"),
    (
        "contessa_spark.pipeline",
        "QualityFilterPipeline.check_schema_version",
        "pipeline.check_schema_version",
    ),
    (
        "contessa_spark.pipeline",
        "QualityFilterPipeline.completed_buckets",
        "pipeline.completed_buckets",
    ),
    (
        "contessa_spark.pipeline",
        "QualityFilterPipeline.check_input_fingerprint",
        "pipeline.check_input_fingerprint",
    ),
    ("contessa_spark.runner", "QualityRunner.run", "runner.run"),
    ("contessa_spark.runner", "run_column_rules", "compiler.column_rules"),
    ("contessa_spark.runner", "run_custom_sql_rule", "compiler.custom_sql"),
    ("contessa_spark.runner", "medians_30_day", "results.medians_30_day"),
    ("contessa_spark.results", "ParquetMergeWriter.merge", "results.parquet_merge"),
    ("contessa_spark.results", "LocalSmallTableMerge.merge", "results.small_merge"),
]


def layer_of(span_name: str) -> str:
    return span_name.split(".", 1)[0]


class Tracer:
    def __init__(self, spark):
        self._sc = spark.sparkContext
        self.spans: List[dict] = []
        self._stack: List[int] = []
        self._op: Optional[int] = None
        self._patches: list = []

    # ---- spans ----------------------------------------------------

    @contextmanager
    def span(self, name: str):
        """Record one span; a no-op outside a traced operation."""
        if self._op is None:
            yield
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": self._op,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self._sc.setLocalProperty(SPAN_PROPERTY, str(rec["id"]))
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._sc.setLocalProperty(
                SPAN_PROPERTY, str(self._stack[-1]) if self._stack else None
            )

    @contextmanager
    def op(self, index: int, phase: str):
        """Root span of one operation, with the wrappers installed."""
        self._op = index
        self._install()
        try:
            with self.span(f"op.{phase}"):
                yield
        finally:
            self._uninstall()
            self._op = None

    # ---- wrappers -------------------------------------------------

    def _install(self) -> None:
        for module, path, name in TRACE_POINTS:
            owner = importlib.import_module(module)
            *outer, attr = path.split(".")
            for part in outer:
                owner = getattr(owner, part)
            raw = owner.__dict__[attr]
            kind = type(raw) if isinstance(raw, (classmethod, staticmethod)) else None
            fn = raw.__func__ if kind else raw

            def traced(*a, _fn=fn, _name=name, **kw):
                with self.span(_name):
                    return _fn(*a, **kw)

            functools.update_wrapper(traced, fn)
            setattr(owner, attr, kind(traced) if kind else traced)
            self._patches.append((owner, attr, raw))

    def _uninstall(self) -> None:
        while self._patches:
            owner, attr, raw = self._patches.pop()
            setattr(owner, attr, raw)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


# ---- span arithmetic ---------------------------------------------


def union_length(intervals: List[Tuple[float, float]]) -> float:
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


def self_times(spans: List[dict]) -> Dict[str, float]:
    """Self time per layer: each span's duration minus the part of it
    its child spans cover, summed by layer."""
    children: Dict[int, List[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    out: Dict[str, float] = {}
    for s in spans:
        covered = union_length(
            [(c["start"], c["end"]) for c in children.get(s["id"], [])]
        )
        layer = layer_of(s["name"])
        out[layer] = out.get(layer, 0.0) + (s["end"] - s["start"]) - covered
    return out


def span_sums(spans: List[dict]) -> Dict[str, Tuple[float, int]]:
    """Total duration and call count per span name."""
    out: Dict[str, Tuple[float, int]] = {}
    for s in spans:
        t, n = out.get(s["name"], (0.0, 0))
        out[s["name"]] = (t + s["end"] - s["start"], n + 1)
    return out


def nests(spans: List[dict], op_index: int) -> bool:
    """True when every span of ``op_index`` lies inside its parent and
    descends from that op's single root span."""
    own = [s for s in spans if s["op"] == op_index]
    by_id = {s["id"]: s for s in own}
    roots = [s for s in own if s["parent"] is None]
    if len(roots) != 1 or len(own) < 2:
        return False
    for s in own:
        if s["parent"] is None:
            continue
        p = by_id.get(s["parent"])
        if p is None or s["start"] < p["start"] or s["end"] > p["end"]:
            return False
    return True


# ---- Spark event log ---------------------------------------------


def read_event_log(log_dir: str) -> List[dict]:
    """All events of the (single) application under ``log_dir``. Spark 4
    writes a rolling directory ``eventlog_v2_<app>/events_<n>_<app>``."""
    files = [
        (int(os.path.basename(f).split("_")[1]), f)
        for f in glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*"))
    ]
    if not files:
        raise RuntimeError(f"no Spark event log under {log_dir}")
    events = []
    for _, f in sorted(files):
        with open(f) as fh:
            for line in fh:
                if line.strip():
                    events.append(json.loads(line))
    return events


class EventLog:
    """Jobs, stages and tasks of one application, keyed for per-op
    and per-span queries."""

    def __init__(self, events: List[dict]):
        self.jobs: Dict[int, dict] = {}
        self.stages: Dict[Tuple[int, int], dict] = {}
        for ev in events:
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                self.jobs[ev["Job ID"]] = {
                    "group": props.get("spark.jobGroup.id"),
                    "span": props.get(SPAN_PROPERTY),
                    "start": ev["Submission Time"] / 1000.0,
                    "end": None,
                }
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in self.jobs:
                    self.jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                props = ev.get("Properties") or {}
                self.stages[(info["Stage ID"], info["Stage Attempt ID"])] = {
                    "group": props.get("spark.jobGroup.id"),
                    "span": props.get(SPAN_PROPERTY),
                    "submit": None,
                    "end": None,
                    "tasks": [],
                }
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                st = self.stages.get((info["Stage ID"], info["Stage Attempt ID"]))
                if st is not None:
                    st["submit"] = info.get("Submission Time", 0) / 1000.0
                    st["end"] = info.get("Completion Time", 0) / 1000.0
            elif kind == "SparkListenerTaskEnd":
                st = self.stages.get((ev["Stage ID"], ev["Stage Attempt ID"]))
                if st is not None:
                    st["tasks"].append(_task(ev))

    def jobs_of(self, group: str, spans: Optional[set] = None) -> List[dict]:
        return [
            j
            for j in self.jobs.values()
            if j["group"] == group and (spans is None or j["span"] in spans)
        ]

    def stages_of(self, group: str, spans: Optional[set] = None) -> List[dict]:
        return [
            s
            for s in self.stages.values()
            if s["group"] == group
            and s["end"] is not None
            and (spans is None or s["span"] in spans)
        ]


def _task(ev: dict) -> dict:
    info = ev.get("Task Info") or {}
    m = ev.get("Task Metrics") or {}
    inp = m.get("Input Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    return {
        "launch": info.get("Launch Time", 0) / 1000.0,
        "finish": info.get("Finish Time", 0) / 1000.0,
        "failed": bool(info.get("Failed"))
        or (ev.get("Task End Reason") or {}).get("Reason") != "Success",
        "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
        "gc_s": m.get("JVM GC Time", 0) / 1000.0,
        "records_read": inp.get("Records Read", 0),
        "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
        "spill_bytes": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
    }


def stage_stats(stages: List[dict]) -> dict:
    """Counts and times over a set of stages (one op, or one layer of
    it). The task percentiles describe the longest stage, where skew
    shows."""
    tasks = [t for s in stages for t in s["tasks"]]
    out = {
        "tasks": len(tasks),
        "failed_tasks": sum(t["failed"] for t in tasks),
        "executor_cpu_s": sum(t["cpu_s"] for t in tasks),
        "gc_s": sum(t["gc_s"] for t in tasks),
        "scan_records": sum(t["records_read"] for t in tasks),
        "shuffle_write_bytes": sum(t["shuffle_write_bytes"] for t in tasks),
        "spill_bytes": sum(t["spill_bytes"] for t in tasks),
        "stage_wait_s": sum(
            min(t["launch"] for t in s["tasks"]) - s["submit"]
            for s in stages
            if s["tasks"]
        ),
        "top_stage_s": 0.0,
        "task_p50_s": 0.0,
        "task_max_s": 0.0,
        "empty_tasks": 0,
    }
    if stages:
        top = max(stages, key=lambda s: s["end"] - s["submit"])
        durations = sorted(t["finish"] - t["launch"] for t in top["tasks"])
        out["top_stage_s"] = top["end"] - top["submit"]
        if durations:
            out["task_p50_s"] = durations[len(durations) // 2]
            out["task_max_s"] = durations[-1]
        out["empty_tasks"] = sum(t["records_read"] == 0 for t in top["tasks"])
    return out


def outside_jobs_s(op_span: dict, jobs: List[dict]) -> float:
    """Wall time of an op during which none of its Spark jobs ran."""
    s0, e0 = op_span["start"], op_span["end"]
    clipped = [
        (max(j["start"], s0), min(j["end"], e0))
        for j in jobs
        if j["end"] is not None and j["end"] > s0 and j["start"] < e0
    ]
    return (e0 - s0) - union_length(clipped)
