"""Spans around the benchmark's calls into the engine, and a stdlib
parser that joins Spark's event log to them.

A span records its name, start, end, parent span and operation id. When
tracing is on, every Spark job started inside a span runs under the job
group named by the span's id, so the event log's ``spark.jobGroup.id``
(jobs, stages) and ``jobGroupId`` (SQL executions) say which span
caused which work. Spans stay in memory and are written out at the end.
"""

from __future__ import annotations

import itertools
import json
import time
from contextlib import contextmanager

EXCHANGE_NODES = ("Exchange", "BroadcastExchange")


class Tracer:
    """Nested spans of one process; ``span`` is a context manager."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._sc = None
        self._ids = itertools.count()

    def bind(self, spark_context) -> None:
        """Tag Spark work with span ids from now on (traced runs only)."""
        self._sc = spark_context

    @contextmanager
    def span(self, name: str, op: int | None = None):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": f"span-{next(self._ids)}-{name}",
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": op if op is not None else (parent["op"] if parent else None),
            "start": time.time(),
        }
        t0 = time.perf_counter()
        self._stack.append(rec)
        self._set_group(rec)
        try:
            yield rec
        finally:
            rec["dur"] = time.perf_counter() - t0
            rec["end"] = rec["start"] + rec["dur"]
            self._stack.pop()
            self._set_group(parent)
            self.spans.append(rec)

    def _set_group(self, rec: dict | None) -> None:
        if self._sc is None:
            return
        if rec is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self._sc.setJobGroup(rec["id"], rec["name"])


def _count_exchanges(plan: dict) -> int:
    own = 1 if plan.get("nodeName") in EXCHANGE_NODES else 0
    return own + sum(_count_exchanges(c) for c in plan.get("children", ()))


def parse_event_log(path: str) -> dict:
    """Jobs, executed stages and SQL executions of one event log file,
    each tagged with the job group it ran under (None if untagged)."""
    jobs: dict[int, dict] = {}
    stages: dict[tuple[int, int], dict] = {}
    executions: dict[int, dict] = {}
    with open(path) as fh:
        for line in fh:
            e = json.loads(line)
            ev = e["Event"]
            if ev == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                jobs[e["Job ID"]] = {
                    "group": props.get("spark.jobGroup.id"),
                    "start": e["Submission Time"] / 1000.0,
                    "end": None,
                }
            elif ev == "SparkListenerJobEnd":
                jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
            elif ev == "SparkListenerStageSubmitted":
                info = e["Stage Info"]
                stages[(info["Stage ID"], info["Stage Attempt ID"])] = {
                    "group": (e.get("Properties") or {}).get("spark.jobGroup.id"),
                    "tasks": 0,
                    "run_s": 0.0,
                    "cpu_s": 0.0,
                    "shuffle_read_bytes": 0,
                    "shuffle_write_bytes": 0,
                    "spill_bytes": 0,
                    "bytes_read": 0,
                    "bytes_written": 0,
                }
            elif ev == "SparkListenerTaskEnd":
                st = stages.get((e["Stage ID"], e["Stage Attempt ID"]))
                m = e.get("Task Metrics")
                if st is None or m is None:
                    continue
                sr = m.get("Shuffle Read Metrics", {})
                st["tasks"] += 1
                st["run_s"] += m.get("Executor Run Time", 0) / 1e3
                st["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                st["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0
                )
                st["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get(
                    "Shuffle Bytes Written", 0
                )
                st["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
                st["bytes_read"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
                st["bytes_written"] += m.get("Output Metrics", {}).get("Bytes Written", 0)
            elif ev.endswith("SparkListenerSQLExecutionStart"):
                executions[e["executionId"]] = {
                    "group": e.get("jobGroupId"),
                    "plan": e["sparkPlanInfo"],
                }
            elif ev.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                if e["executionId"] in executions:
                    executions[e["executionId"]]["plan"] = e["sparkPlanInfo"]
    return {
        "jobs": list(jobs.values()),
        "stages": list(stages.values()),
        "executions": [
            {"group": x["group"], "exchanges": _count_exchanges(x["plan"])}
            for x in executions.values()
        ],
    }


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the part of [lo, hi] that the union of ``intervals`` covers."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


def attribute(spans: list[dict], logs: list[dict]) -> tuple[dict[str, dict], int]:
    """Per-span Spark work, inclusive of child spans, plus the number of
    jobs no span claims (a lost job means tagging is broken).

    For each span: ``jobs``, ``stages``, ``tasks``, ``exchanges``, the
    executor-side sums, ``self_s`` (duration minus the part child spans
    cover) and ``driver_gap_s`` (duration minus the part the span's
    jobs cover)."""
    by_id = {s["id"]: s for s in spans}
    children: dict[str, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)

    own: dict[str, dict] = {
        sid: {"jobs": [], "stages": [], "exchanges": 0} for sid in by_id
    }
    lost = 0
    for log in logs:
        for j in log["jobs"]:
            if j["group"] in own:
                own[j["group"]]["jobs"].append(j)
            else:
                lost += 1
        for st in log["stages"]:
            if st["group"] in own:
                own[st["group"]]["stages"].append(st)
        for x in log["executions"]:
            if x["group"] in own:
                own[x["group"]]["exchanges"] += x["exchanges"]

    out: dict[str, dict] = {}

    def collect(sid: str) -> dict:
        if sid in out:
            return out[sid]
        s = by_id[sid]
        jobs = list(own[sid]["jobs"])
        stages = list(own[sid]["stages"])
        exchanges = own[sid]["exchanges"]
        for c in children.get(sid, ()):
            sub = collect(c["id"])
            jobs += sub["_jobs"]
            stages += sub["_stages"]
            exchanges += sub["exchanges"]
        job_iv = [(j["start"], j["end"] or s["end"]) for j in jobs]
        child_iv = [(c["start"], c["end"]) for c in children.get(sid, ())]
        rec = {
            "_jobs": jobs,
            "_stages": stages,
            "dur_s": s["dur"],
            "self_s": s["dur"] - _covered(child_iv, s["start"], s["end"]),
            "driver_gap_s": s["dur"] - _covered(job_iv, s["start"], s["end"]),
            "jobs": len(jobs),
            "stages": len(stages),
            "exchanges": exchanges,
        }
        for key in (
            "tasks", "run_s", "cpu_s", "shuffle_read_bytes",
            "shuffle_write_bytes", "spill_bytes", "bytes_read", "bytes_written",
        ):
            rec[key] = sum(st[key] for st in stages)
        out[sid] = rec
        return rec

    for sid in by_id:
        collect(sid)
    for rec in out.values():
        del rec["_jobs"], rec["_stages"]
    return out, lost
