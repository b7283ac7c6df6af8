"""Traced-mode instruments: in-memory spans and Spark event-log counters.

Spans are recorded from the benchmark side around calls into the
package's public functions; nothing inside the package changes. Spark
work is attributed to an op by a job tag the benchmark sets around it
(``spark.addTag``), read back from the event log that traced runs
enable through submit-time configuration.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager
from pathlib import Path

TAG_PREFIX = "perfbench-op-"

#: SQL metrics of the Python-worker exchange (Arrow batches to and from
#: mapInPandas / applyInPandas / pandas_udf workers)
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"
#: RDD scope of the executor's subprocess stage (engine.execute_nests)
PIPE_SCOPE = "MapInPandas"

_MB = 1024.0 * 1024.0


class Tracer:
    """Spans (name, start, end, parent, op) kept in memory, written out
    once at the end of the run. ``op`` is the id of the op whose call
    the span sits under, or None during set-up."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.op: int | None = None
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        rec = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def wrap(self, module, attr: str, name: str) -> None:
        """Replace ``module.attr`` with a spanned call of the original."""
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def spanned(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(module, attr, spanned)

    def op_durations_ms(self, name: str) -> list[float]:
        """Durations of the spans called ``name`` that ran inside an op."""
        return [
            (s["end"] - s["start"]) * 1e3
            for s in self.spans
            if s["name"] == name and s["op"] is not None
        ]

    def dump(self, path: Path, op_counters: dict) -> None:
        """Write the spans and the per-op Spark counters as JSON."""
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps({"spans": self.spans, "ops": op_counters}))


def _op_of(tags: list[str]) -> int | None:
    """The op id carried by a job's or SQL execution's tags."""
    for tag in tags:
        _, sep, rest = tag.rpartition(TAG_PREFIX)
        if sep and rest.isdigit():
            return int(rest)
    return None


def _union_ms(intervals: list[tuple[int, int]]) -> float:
    """Length of the union of [start, end] intervals (ms)."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return float(total)


def op_counters(event_log: Path) -> dict[int, dict[str, float]]:
    """Per-op Spark counters from an uncompressed, non-rolling event log.

    Critical path is the union of the op's job intervals; planning is
    the time from each SQL execution's start to its first job."""
    jobs: dict[int, dict] = {}
    stage_op: dict[int, int] = {}
    sql_start: dict[int, tuple[int, int]] = {}
    sql_first_job: dict[int, int] = {}
    ops: dict[int, dict[str, float]] = {}

    def acc(op: int) -> dict[str, float]:
        return ops.setdefault(
            op,
            {
                "jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0,
                "task_time_ms": 0.0, "pipe_task_time_ms": 0.0,
                "shuffle_write_mb": 0.0, "spill_mb": 0.0,
                "py_sent_mb": 0.0, "py_recv_mb": 0.0,
                "crit_path_ms": 0.0, "planning_ms": 0.0,
            },
        )

    pipe_stages: set[int] = set()
    task_events: list[dict] = []
    with open(event_log) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                op = _op_of((props.get("spark.job.tags") or "").split(","))
                if op is None:
                    continue
                jobs[ev["Job ID"]] = {"op": op, "start": ev["Submission Time"]}
                for sid in ev["Stage IDs"]:
                    stage_op[sid] = op
                eid = props.get("spark.sql.execution.id")
                if eid is not None:
                    eid = int(eid)
                    sql_first_job[eid] = min(
                        sql_first_job.get(eid, ev["Submission Time"]),
                        ev["Submission Time"],
                    )
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                op = stage_op.get(info["Stage ID"])
                if op is None:
                    continue
                a = acc(op)
                a["stages"] += 1
                for m in info.get("Accumulables", []):
                    if m.get("Name") == PY_SENT:
                        a["py_sent_mb"] += float(m.get("Value", 0)) / _MB
                    elif m.get("Name") == PY_RECV:
                        a["py_recv_mb"] += float(m.get("Value", 0)) / _MB
                for rdd in info.get("RDD Info", []):
                    scope = rdd.get("Scope")
                    if scope and json.loads(scope).get("name") == PIPE_SCOPE:
                        pipe_stages.add(info["Stage ID"])
            elif kind == "SparkListenerTaskEnd":
                task_events.append(ev)
            elif kind.endswith("SparkListenerSQLExecutionStart"):
                op = _op_of(ev.get("jobTags") or [])
                if op is not None:
                    sql_start[ev["executionId"]] = (op, ev["time"])

    for ev in task_events:
        op = stage_op.get(ev["Stage ID"])
        if op is None:
            continue
        a = acc(op)
        info, metrics = ev["Task Info"], ev.get("Task Metrics") or {}
        run_ms = float(metrics.get("Executor Run Time", 0))
        a["tasks"] += 1
        a["failed_tasks"] += int(bool(info.get("Failed")))
        a["task_time_ms"] += run_ms
        if ev["Stage ID"] in pipe_stages:
            a["pipe_task_time_ms"] += run_ms
        shuffle = metrics.get("Shuffle Write Metrics") or {}
        a["shuffle_write_mb"] += shuffle.get("Shuffle Bytes Written", 0) / _MB
        a["spill_mb"] += metrics.get("Disk Bytes Spilled", 0) / _MB

    by_op: dict[int, list[tuple[int, int]]] = {}
    for job in jobs.values():
        acc(job["op"])["jobs"] += 1
        by_op.setdefault(job["op"], []).append(
            (job["start"], job.get("end", job["start"]))
        )
    for op, intervals in by_op.items():
        ops[op]["crit_path_ms"] = _union_ms(intervals)
    for eid, (op, start) in sql_start.items():
        if eid in sql_first_job:
            acc(op)["planning_ms"] += max(0, sql_first_job[eid] - start)
    return ops
