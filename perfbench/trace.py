"""Spans around the library's layer calls, and the reduction of Spark's
event log to per-span engine and Python-worker numbers.

Spans are recorded by the benchmark, not the library: ``Tracer.install``
replaces each public function *as the calling module binds it* (for
example ``jobs.validate_corpus`` or ``normalise_op.infer_json_schema``)
with a wrapper that opens a span around the call. Every Spark job in the
event log is attributed to the innermost span open when it was
submitted; jobs from ``validate_corpus``'s thread pool carry no job
description, so attribution goes by submission time, not by label.
"""

from __future__ import annotations

import json
import statistics
import threading
import time
from contextlib import contextmanager
from typing import Any, Callable, Iterator

# (owner, attribute, span name, optional attrs(args, kwargs, result))
Patch = tuple[Any, str, str, Callable[..., dict] | None]


def layer_patches() -> list[Patch]:
    """The layer boundaries the traced run records."""
    from pyspark.sql.readwriter import DataFrameWriter

    from polars_genson_spark import checkpoint as ckpt
    from polars_genson_spark import fsutil, jobs
    from polars_genson_spark.operators import infer, normalise_op

    from . import workloads

    def infer_column(args, kwargs, result):
        return {"column": args[1] if len(args) > 1 else kwargs.get("column")}

    def n_partitions(args, kwargs, result):
        return {"partitions": len(result)}

    return [
        (jobs, "validate_corpus", "verdicts.validate", None),
        (jobs, "finalise_summary", "verdicts.finalise", None),
        (ckpt, "partition_fingerprints", "checkpoint.fingerprint", None),
        (ckpt, "plan_resume", "checkpoint.plan_resume", None),
        (ckpt, "load_manifest", "checkpoint.manifest_io", None),
        (ckpt, "save_manifest", "checkpoint.manifest_io", None),
        (ckpt, "delete_manifest", "checkpoint.manifest_io", None),
        (fsutil, "delete_dir", "fsutil.delete", None),
        (fsutil, "delete_partition_dirs", "fsutil.delete", None),
        (DataFrameWriter, "parquet", "jobs.write", None),
        (infer, "infer_json_schema", "infer.infer_json_schema", infer_column),
        (normalise_op, "infer_json_schema", "infer.infer_json_schema", infer_column),
        (infer, "partition_summaries", "infer.fold", n_partitions),
        (infer, "postprocess_schema", "rewrite.postprocess", None),
        (normalise_op, "normalise_json", "normalise_op.build", None),
        (workloads, "materialise", "normalise_op.apply", None),
    ]


class Tracer:
    """In-memory span recorder. Spans are only opened on the main thread:
    the layer calls all happen there, and the library's worker threads
    only submit Spark jobs, which are attributed by time instead."""

    def __init__(self) -> None:
        self.spans: list[dict[str, Any]] = []
        self._stack: list[dict[str, Any]] = []
        self._patches: list[tuple[Any, str, Any]] = []

    @contextmanager
    def span(self, name: str, **attrs: Any) -> Iterator[dict[str, Any]]:
        sp = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "start": time.time(),
            "end": None,
            "attrs": dict(attrs),
        }
        self.spans.append(sp)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp["end"] = time.time()
            self._stack.pop()

    def install(self, patches: list[Patch]) -> None:
        for owner, attr, name, attrs_of in patches:
            original = getattr(owner, attr)
            setattr(owner, attr, self._wrap(original, name, attrs_of))
            self._patches.append((owner, attr, original))

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, original = self._patches.pop()
            setattr(owner, attr, original)

    def _wrap(self, fn, name, attrs_of):
        def wrapper(*args, **kwargs):
            if threading.current_thread() is not threading.main_thread():
                return fn(*args, **kwargs)
            with self.span(name) as sp:
                result = fn(*args, **kwargs)
                if attrs_of is not None:
                    sp["attrs"].update(attrs_of(args, kwargs, result))
                return result

        return wrapper


# --------------------------------------------------------------------------
# event log
# --------------------------------------------------------------------------

_ZERO_JOB = {
    "tasks": 0,
    "executor_run_ms": 0,
    "executor_cpu_ns": 0,
    "gc_ms": 0,
    "scheduler_delay_ms": 0,
    "shuffle_write_bytes": 0,
    "shuffle_read_bytes": 0,
    "shuffle_fetch_wait_ms": 0,
    "spill_disk_bytes": 0,
    "result_bytes": 0,
    "input_bytes": 0,
    "scan_ms": 0,
    "py_sent_bytes": 0,
    "py_returned_bytes": 0,
    "py_run_ms": 0,
    "py_init_ms": 0,
    "py_start_ms": 0,
}

# SQL metrics carried as task accumulables (all in bytes or ms)
_ACCUMULABLES = {
    "scan time": "scan_ms",
    "data sent to Python workers": "py_sent_bytes",
    "data returned from Python workers": "py_returned_bytes",
    "time to run Python workers": "py_run_ms",
    "time to initialize Python workers": "py_init_ms",
    "time to start Python workers": "py_start_ms",
}


def read_event_log(path: str) -> dict[str, Any]:
    """Jobs (submission time, stages) and per-stage task metrics from an
    uncompressed, non-rolling Spark event log."""
    jobs: dict[int, dict[str, Any]] = {}
    stage_tasks: dict[int, list[dict[str, Any]]] = {}
    stage_wall: dict[int, float] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                jobs[ev["Job ID"]] = {
                    "submit_ms": ev["Submission Time"],
                    "stages": list(ev["Stage IDs"]),
                }
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                if info.get("Submission Time") and info.get("Completion Time"):
                    stage_wall[info["Stage ID"]] = (
                        info["Completion Time"] - info["Submission Time"]
                    )
            elif kind == "SparkListenerTaskEnd":
                stage_tasks.setdefault(ev["Stage ID"], []).append(_task_row(ev))
    # a stage's tasks run under the first job that lists it; later jobs
    # that list it again reuse (skip) it
    stage_job: dict[int, int] = {}
    for job_id in sorted(jobs):
        for st in jobs[job_id]["stages"]:
            stage_job.setdefault(st, job_id)
    for job in jobs.values():
        job["stage_tasks"] = {}
    for st, tasks in stage_tasks.items():
        if st in stage_job:
            jobs[stage_job[st]]["stage_tasks"][st] = tasks
    return {"jobs": jobs, "stage_wall_ms": stage_wall}


def _task_row(ev: dict[str, Any]) -> dict[str, float]:
    info = ev.get("Task Info") or {}
    m = ev.get("Task Metrics") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    duration = info.get("Finish Time", 0) - info.get("Launch Time", 0)
    getting = info.get("Getting Result Time") or 0
    getting_ms = info.get("Finish Time", 0) - getting if getting > 0 else 0
    run = m.get("Executor Run Time", 0)
    row = {
        "executor_run_ms": run,
        "executor_cpu_ns": m.get("Executor CPU Time", 0),
        "gc_ms": m.get("JVM GC Time", 0),
        "scheduler_delay_ms": max(
            0,
            duration
            - run
            - m.get("Executor Deserialize Time", 0)
            - m.get("Result Serialization Time", 0)
            - getting_ms,
        ),
        "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
        "shuffle_read_bytes": sr.get("Remote Bytes Read", 0)
        + sr.get("Local Bytes Read", 0),
        "shuffle_fetch_wait_ms": sr.get("Fetch Wait Time", 0),
        "spill_disk_bytes": m.get("Disk Bytes Spilled", 0),
        "result_bytes": m.get("Result Size", 0),
        "input_bytes": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
    }
    for acc in info.get("Accumulables") or []:
        key = _ACCUMULABLES.get(acc.get("Name"))
        if key is not None:
            row[key] = row.get(key, 0) + int(acc.get("Update") or 0)
    return row


def attribute_jobs(spans: list[dict[str, Any]], jobs: dict[int, dict]) -> None:
    """Set ``job["span"]`` to the innermost span open at submission
    (``None`` for jobs outside every span: setup, warm-up and checks)."""
    for job in jobs.values():
        t = job["submit_ms"] / 1000.0
        best = None
        for sp in spans:
            if sp["start"] <= t <= sp["end"] and (
                best is None or sp["start"] >= best["start"]
            ):
                best = sp
        job["span"] = best["id"] if best is not None else None


def _sum_jobs(jobs: list[dict], stage_wall: dict[int, float]) -> dict[str, float]:
    tot = dict(_ZERO_JOB)
    stages = set()
    longest, longest_wall = None, -1.0
    for job in jobs:
        for st, tasks in job["stage_tasks"].items():
            stages.add(st)
            for task in tasks:
                tot["tasks"] += 1
                for k, v in task.items():
                    tot[k] += v
            wall = stage_wall.get(st, sum(t["executor_run_ms"] for t in tasks))
            if wall > longest_wall:
                longest, longest_wall = tasks, wall
    tot["jobs"] = len(jobs)
    tot["stages"] = len(stages)
    runs = [t["executor_run_ms"] for t in longest or []]
    tot["task_skew"] = (
        max(runs) / max(statistics.median(runs), 1.0) if runs else 0.0
    )
    return tot


def _covered(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def op_profiles(
    spans: list[dict[str, Any]], log: dict[str, Any], cores: int
) -> list[dict[str, Any]]:
    """One profile per root span named ``op``: self time, job count and
    engine numbers per span, plus totals over the op."""
    jobs = log["jobs"]
    attribute_jobs(spans, jobs)
    children: dict[int, list[dict]] = {}
    for sp in spans:
        if sp["parent"] is not None:
            children.setdefault(sp["parent"], []).append(sp)
    jobs_of: dict[int, list[dict]] = {}
    for job in jobs.values():
        if job["span"] is not None:
            jobs_of.setdefault(job["span"], []).append(job)

    def subtree(sp):
        out = [sp]
        for ch in children.get(sp["id"], []):
            out += subtree(ch)
        return out

    profiles = []
    for root in (s for s in spans if s["parent"] is None and s["name"] == "op"):
        wall = root["end"] - root["start"]
        members = subtree(root)
        per_span: dict[str, dict[str, float]] = {}
        for sp in members:
            kids = children.get(sp["id"], [])
            self_s = (sp["end"] - sp["start"]) - _covered(
                [(k["start"], k["end"]) for k in kids]
            )
            agg = per_span.setdefault(
                sp["name"], {"calls": 0, "self_s": 0.0, "total_s": 0.0, "jobs": 0}
            )
            agg["calls"] += 1
            agg["self_s"] += self_s
            agg["total_s"] += sp["end"] - sp["start"]
            agg["jobs"] += len(jobs_of.get(sp["id"], []))
        op_jobs = [j for sp in members for j in jobs_of.get(sp["id"], [])]
        totals = _sum_jobs(op_jobs, log["stage_wall_ms"])
        totals["core_busy_share"] = (
            totals["executor_run_ms"] / 1000.0 / (wall * cores) if wall > 0 else 0.0
        )
        direct = children.get(root["id"], [])
        profiles.append(
            {
                "wall_s": wall,
                "child_coverage": (
                    _covered([(k["start"], k["end"]) for k in direct]) / wall
                    if wall > 0
                    else 0.0
                ),
                "spans": per_span,
                "span_engine": {
                    name: _sum_jobs(
                        [
                            j
                            for sp in members
                            if sp["name"] == name
                            for j in jobs_of.get(sp["id"], [])
                        ],
                        log["stage_wall_ms"],
                    )
                    for name in per_span
                },
                "engine": totals,
                "attrs": [
                    {"name": sp["name"], **sp["attrs"]} for sp in members if sp["attrs"]
                ],
            }
        )
    return profiles
