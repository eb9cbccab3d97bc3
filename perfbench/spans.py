"""Spans around the benchmark's calls into the engine, and per-job-group
stage metrics from a plain (uncompressed, non-rolling) Spark event log.

Spans are kept in memory and handed to the caller at the end of a run. A
span's self time is its duration minus the time its child spans cover.
"""

from __future__ import annotations

import contextlib
import json
import time
from collections import defaultdict


class Tracer:
    """Records (name, start, end, parent, op) spans when enabled; when
    disabled ``span`` is a no-op context manager."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            return contextlib.nullcontext()
        return self._span(name, op)

    @contextlib.contextmanager
    def _span(self, name: str, op: str | None):
        rec = {
            "id": len(self.spans),
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "op": op,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> list[tuple[dict, float]]:
        """(span, self seconds) for every closed span."""
        covered: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                covered[s["parent"]] += s["end"] - s["start"]
        return [
            (s, s["end"] - s["start"] - covered[s["id"]])
            for s in self.spans
            if s["end"] is not None
        ]


_PY_SENT = "data sent to Python workers"
_PY_RETURNED = "data returned from Python workers"
_PY_SCOPES = ("Python", "Pandas", "ArrowEval", "BatchEval")


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def _group(props: dict | None) -> str | None:
    return (props or {}).get("spark.jobGroup.id")


def group_metrics(event_log: str) -> dict[str, dict[str, float]]:
    """Job group -> summed stage and task metrics of the jobs it ran.

    Every stage is charged to the job group recorded when it was
    submitted; times are in seconds and sizes in MB.
    """
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    stage_group: dict[int, str | None] = {}
    with open(event_log) as f:
        for line in f:
            e = json.loads(line)
            kind = e.get("Event")
            if kind == "SparkListenerJobStart":
                g = _group(e.get("Properties"))
                if g is not None:
                    out[g]["jobs"] += 1
            elif kind == "SparkListenerStageSubmitted":
                stage_group[e["Stage Info"]["Stage ID"]] = _group(e.get("Properties"))
            elif kind == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                g = stage_group.get(info["Stage ID"])
                if g is None:
                    continue
                m = out[g]
                m["stages"] += 1
                acc = {a.get("Name"): _num(a.get("Value")) for a in info.get("Accumulables", [])}
                py_bytes = acc.get(_PY_SENT, 0.0) + acc.get(_PY_RETURNED, 0.0)
                scopes = json.dumps(info.get("RDD Info", []))
                if _PY_SENT in acc or _PY_RETURNED in acc or any(s in scopes for s in _PY_SCOPES):
                    m["python_stages"] += 1
                m["python_mb"] += py_bytes / 1e6
            elif kind == "SparkListenerTaskEnd":
                g = stage_group.get(e.get("Stage ID"))
                if g is None:
                    continue
                m = out[g]
                info = e.get("Task Info", {})
                tm = e.get("Task Metrics") or {}
                m["tasks"] += 1
                if info.get("Failed") or e.get("Task End Reason", {}).get("Reason") != "Success":
                    m["failed_tasks"] += 1
                run_ms = tm.get("Executor Run Time", 0)
                duration_ms = info.get("Finish Time", 0) - info.get("Launch Time", 0)
                fetch_ms = (
                    info["Finish Time"] - info["Getting Result Time"]
                    if info.get("Getting Result Time") else 0
                )
                m["scheduler_delay_s"] += max(
                    0,
                    duration_ms - run_ms - tm.get("Executor Deserialize Time", 0)
                    - tm.get("Result Serialization Time", 0) - fetch_ms,
                ) / 1e3
                m["run_s"] += run_ms / 1e3
                m["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                m["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                m["spill_mb"] += tm.get("Disk Bytes Spilled", 0) / 1e6
                m["shuffle_write_mb"] += (
                    tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) / 1e6
                )
    return {g: dict(m) for g, m in out.items()}
