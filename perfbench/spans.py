"""Spans recorded from outside the program, and their Spark attribution.

A :class:`Tracer` wraps public functions of the engine's modules by
replacing the module attribute for the life of one process: the program
looks those names up at call time, so its own code is not edited. Each
span records (id, name, parent, start, end, op) in memory; entering a
span sets a Spark job group named after it, so every job Spark runs is
tagged with the innermost open span. :func:`attribute` later reads the
Spark event log and charges each job's stages and tasks to that span.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, sc, op: int) -> None:
        self.sc = sc
        self.op = op
        self.spans: list[dict] = []
        self.counts: dict[str, float] = {}
        self.kept: list = []  # DataFrames a wrapper keeps to count after the op
        self._stack: list[int] = []

    @property
    def active(self) -> bool:
        """True while a span is open (the op is running)."""
        return bool(self._stack)

    def _set_group(self) -> None:
        if self._stack:
            top = self._stack[-1]
            self.sc.setJobGroup(f"span-{top}", self.spans[top]["name"])
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self._set_group()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._set_group()

    def count(self, name: str, n: float = 1) -> None:
        self.counts[name] = self.counts.get(name, 0) + n

    def wrap(self, module, attr: str, name: str, around=None) -> None:
        """Replace ``module.attr``, for the rest of the process, with a
        spanned call. ``around(fn, *args, **kw)``, when given, runs in
        place of ``fn`` inside the span (to split a call into child
        spans or count its result)."""
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def spanned(*args, **kw):
            with self.span(name):
                return around(fn, *args, **kw) if around else fn(*args, **kw)

        setattr(module, attr, spanned)

def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the part of it its direct children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered = _union_len(kids.get(s["id"], []), s["start"], s["end"])
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def _union_len(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def descendants(spans: list[dict], root: int) -> set[int]:
    out, frontier = {root}, [root]
    while frontier:
        p = frontier.pop()
        for s in spans:
            if s["parent"] == p and s["id"] not in out:
                out.add(s["id"])
                frontier.append(s["id"])
    return out


_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_UPDATE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"


def read_event_log(event_dir: str) -> dict:
    """Jobs (group, SQL execution, submit/complete ms, stages), stage
    task counts, per-stage task-metric sums and per-SQL-execution plans
    from the one application log under ``event_dir``."""
    paths = [p for p in glob.glob(os.path.join(event_dir, "*")) if os.path.isfile(p)]
    if len(paths) != 1:
        raise RuntimeError(f"expected one event log in {event_dir}, found {paths}")
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    plans: dict[int, dict] = {}
    with open(paths[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = {
                    "group": props.get("spark.jobGroup.id"),
                    "sql": props.get("spark.sql.execution.id"),
                    "submit": ev["Submission Time"],
                    "end": None,
                    "stages": ev["Stage IDs"],
                }
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                st = stages.setdefault(info["Stage ID"], _zero_stage())
                st["completed"] = True
                st["tasks"] += info["Number of Tasks"]
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics")
                if not m:
                    continue
                st = stages.setdefault(ev["Stage ID"], _zero_stage())
                st["run_ms"] += m["Executor Run Time"]
                st["cpu_ns"] += m["Executor CPU Time"]
                st["gc_ms"] += m["JVM GC Time"]
                st["spill_bytes"] += m["Disk Bytes Spilled"]
                st["shuffle_write_bytes"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                st["input_bytes"] += m["Input Metrics"]["Bytes Read"]
                st["output_bytes"] += m["Output Metrics"]["Bytes Written"]
            elif kind in (_SQL_START, _SQL_UPDATE):
                plans[ev["executionId"]] = ev["sparkPlanInfo"]
    return {"jobs": jobs, "stages": stages, "plans": plans}


def _zero_stage() -> dict:
    return {
        "completed": False, "tasks": 0, "run_ms": 0, "cpu_ns": 0, "gc_ms": 0,
        "spill_bytes": 0, "shuffle_write_bytes": 0, "input_bytes": 0,
        "output_bytes": 0,
    }


def attribute(log: dict, span_ids: set[int]) -> dict:
    """Sum the jobs, stages and task metrics of every job whose group is
    one of ``span_ids``. A stage listed by several jobs (a reused
    shuffle) is charged to the first job that ran it."""
    groups = {f"span-{i}" for i in span_ids}
    owner: dict[int, int] = {}
    for jid in sorted(log["jobs"]):
        for sid in log["jobs"][jid]["stages"]:
            owner.setdefault(sid, jid)
    mine = {j for j, job in log["jobs"].items() if job["group"] in groups}
    tot = _zero_stage()
    tot.pop("completed")
    tot["jobs"] = len(mine)
    tot["stages"] = 0
    for sid, st in log["stages"].items():
        if owner.get(sid) not in mine:
            continue
        tot["stages"] += int(st["completed"])
        for k in ("tasks", "run_ms", "cpu_ns", "gc_ms", "spill_bytes",
                  "shuffle_write_bytes", "input_bytes", "output_bytes"):
            tot[k] += st[k]
    tot["sql_executions"] = sorted(
        {int(job["sql"]) for j, job in log["jobs"].items()
         if j in mine and job["sql"] is not None}
    )
    return tot


def job_gap_s(log: dict, span_ids: set[int], lo: float, hi: float) -> float:
    """Seconds of [lo, hi] during which none of the spans' jobs ran."""
    groups = {f"span-{i}" for i in span_ids}
    ivals = [
        (job["submit"] / 1000.0, (job["end"] or job["submit"]) / 1000.0)
        for job in log["jobs"].values()
        if job["group"] in groups
    ]
    return (hi - lo) - _union_len(ivals, lo, hi)


def count_scans(plan: dict, location_part: str) -> int:
    """Parquet file scans in a SQL plan tree whose location contains
    ``location_part``."""
    n = 0
    stack = [plan]
    while stack:
        node = stack.pop()
        name = node.get("nodeName", "")
        if name.startswith("Scan parquet") and location_part in str(
            node.get("metadata", {}).get("Location", "")
        ):
            n += 1
        stack.extend(node.get("children", []))
    return n
