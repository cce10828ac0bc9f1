"""Traced-run instrumentation, installed from outside the engine.

Spans are recorded by wrapping public module attributes of the engine
(``photo.queries.*``, ``photo.api.*``, the ``streaming`` sink factories…)
and PySpark's DataFrame actions, for the duration of one traced run, and
restored afterwards. Spans live in memory until the run ends. Spark's
per-job, per-stage and per-task numbers come from Spark's own event log,
parsed after the session stops.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from contextlib import contextmanager
from pathlib import Path

from measure import attribute_jobs, self_time, union_length


class Tracer:
    """In-memory span recorder. One client drives the engine, so there is
    one current operation at a time; spans opened on other threads (the
    engine's thread pools) are parented to that operation's root span."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._restore: list[tuple[object, str, object]] = []
        self.op_id: str | None = None
        self._op_root: int | None = None

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, root: bool = False):
        stack = self._stack()
        sid = next(self._ids)
        parent = stack[-1] if stack else (None if root else self._op_root)
        if root:
            self._op_root = sid
        rec = {"id": sid, "name": name, "parent": parent, "op": self.op_id,
               "start": time.time()}
        stack.append(sid)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.time()
            with self._lock:
                self.spans.append(rec)
            if root:
                self._op_root = None

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a wrapper recording a span per call."""
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        self._restore.append((owner, attr, fn))
        setattr(owner, attr, wrapper)

    def wrap_factory(self, owner, attr: str, name: str) -> None:
        """Like ``wrap`` for a factory returning a callable (a streaming
        sink's ``foreachBatch`` function): spans go around the calls of
        the returned function."""
        factory = getattr(owner, attr)
        tracer = self

        @functools.wraps(factory)
        def make(*args, **kwargs):
            fn = factory(*args, **kwargs)

            @functools.wraps(fn)
            def apply(*a, **kw):
                with tracer.span(name):
                    return fn(*a, **kw)

            return apply

        self._restore.append((owner, attr, factory))
        setattr(owner, attr, make)

    def restore(self) -> None:
        for owner, attr, fn in reversed(self._restore):
            setattr(owner, attr, fn)
        self._restore.clear()


#: DataFrame actions whose calls are recorded as ``action`` spans.
ACTIONS = ("collect", "count", "toPandas", "take", "first", "head")


def install_action_spans(tracer: Tracer, spark) -> None:
    """Record DataFrame actions, on the session's concrete DataFrame class
    (PySpark's classic and Connect DataFrames subclass the public one)."""
    cls = type(spark.range(1))
    for attr in ACTIONS:
        tracer.wrap(cls, attr, "action")


def span_totals(spans: list[dict]) -> dict[str, dict[str, float]]:
    """Per operation id and span name: milliseconds covered by spans of
    that name (nested calls of one name count once), ``<name>@self`` the
    summed self time (duration minus child coverage) and ``<name>@n`` the
    call count."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    intervals: dict[tuple, list[tuple[float, float]]] = {}
    out: dict[str, dict[str, float]] = {}
    for s in spans:
        acc = out.setdefault(s["op"], {})
        intervals.setdefault((s["op"], s["name"]), []).append((s["start"], s["end"]))
        own = self_time(s["start"], s["end"], children.get(s["id"], [])) * 1000.0
        acc[s["name"] + "@self"] = acc.get(s["name"] + "@self", 0.0) + own
        acc[s["name"] + "@n"] = acc.get(s["name"] + "@n", 0.0) + 1
    for (op, name), iv in intervals.items():
        out[op][name] = union_length(iv) * 1000.0
    return out


def read_event_log(log_dir: Path) -> tuple[list[dict], dict[int, dict]]:
    """Jobs (id, start, end, group, stage ids) and run stages (id →
    wall, task metrics) from the one uncompressed event log in ``log_dir``."""
    files = [p for p in log_dir.iterdir() if p.is_file()]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {len(files)}")
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    with open(files[0], encoding="utf-8") as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = {
                    "id": ev["Job ID"],
                    "start": ev["Submission Time"] / 1000.0,
                    "group": props.get("spark.jobGroup.id"),
                    "stage_ids": ev.get("Stage IDs", []),
                }
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                st = stages.setdefault(info["Stage ID"], _empty_stage())
                st["start"] = info["Submission Time"] / 1000.0
                st["end"] = info["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                st = stages.setdefault(ev["Stage ID"], _empty_stage())
                _add_task(st, ev)
    return sorted(jobs.values(), key=lambda j: j["id"]), stages


def _empty_stage() -> dict:
    return {"start": None, "end": None, "tasks": 0, "failed": 0, "run_ms": 0.0,
            "cpu_ms": 0.0, "gc_ms": 0.0, "shuffle_read": 0, "shuffle_write": 0,
            "spill": 0}


def _add_task(st: dict, ev: dict) -> None:
    st["tasks"] += 1
    if ev.get("Task Info", {}).get("Failed"):
        st["failed"] += 1
    m = ev.get("Task Metrics") or {}
    st["run_ms"] += m.get("Executor Run Time", 0)
    st["cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
    st["gc_ms"] += m.get("JVM GC Time", 0)
    sr = m.get("Shuffle Read Metrics") or {}
    st["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    st["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    st["spill"] += m.get("Disk Bytes Spilled", 0)


def spark_per_op(jobs: list[dict], stages: dict[int, dict], ops: list[dict]) -> dict[str, dict]:
    """Spark execution numbers per operation (``ops``: id, start, end in
    epoch seconds). A stage counts for the first job that lists it, the
    job that ran it (later jobs list it again as skipped)."""
    owner: dict[int, int] = {}
    for job in jobs:
        for sid in job["stage_ids"]:
            owner.setdefault(sid, job["id"])
    by_op, _, _ = attribute_jobs(jobs, ops)
    out = {}
    for op in ops:
        op_jobs = by_op[op["id"]]
        job_ids = {j["id"] for j in op_jobs}
        run = [stages[s] for s, j in owner.items()
               if j in job_ids and s in stages and stages[s]["end"] is not None]
        walls = [(s["start"], s["end"]) for s in run]
        wall_ms = sum((e - s) for s, e in walls) * 1000.0
        run_ms = sum(s["run_ms"] for s in run)
        busy = union_length(
            (max(s, op["start"]), min(e, op["end"]))
            for s, e in walls if e > op["start"] and s < op["end"]
        )
        dominant = max(run, key=lambda s: s["end"] - s["start"], default=None)
        out[op["id"]] = {
            "spark.jobs": len(op_jobs),
            "spark.stages": len(run),
            "spark.tasks": sum(s["tasks"] for s in run),
            "spark.dominant_stage_tasks": dominant["tasks"] if dominant else 0,
            "spark.stage_wall_ms": wall_ms,
            "spark.executor_run_ms": run_ms,
            "spark.executor_cpu_ms": sum(s["cpu_ms"] for s in run),
            "spark.parallelism": run_ms / wall_ms if wall_ms else 0.0,
            "spark.idle_ms": (op["end"] - op["start"] - busy) * 1000.0,
            "spark.shuffle_read_bytes": sum(s["shuffle_read"] for s in run),
            "spark.shuffle_write_bytes": sum(s["shuffle_write"] for s in run),
            "spark.spill_bytes": sum(s["spill"] for s in run),
            "spark.gc_ms": sum(s["gc_ms"] for s in run),
            "spark.failed_tasks": sum(s["failed"] for s in run),
            "spark.unattributed_jobs": sum(1 for j in op_jobs if j["group"] is None),
        }
    return out
