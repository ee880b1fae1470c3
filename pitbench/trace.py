"""Spans around layer calls, and a reader for Spark's event log.

A span is one timed call into a pitfeat layer, made from the benchmark's own
code: name, start, end, parent span and run id. While a span is open, every
Spark job it starts carries the span's job group, so the event log can be cut
per span. Spans stay in memory and are written out with the run record.

The reader turns one uncompressed, non-rolling event log into per-job-group
counters: GC, shuffle bytes, fetch wait, spill, scan input,
output bytes, Python-worker time and bytes each way across the Arrow
boundary, job and scan-stage counts, and task skew.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager

MB = 1 << 20

# Counters summed over a job group's tasks (or jobs/stages). Layers combine
# groups by adding and subtracting these; task_skew is per group only.
COUNTERS = (
    "gc_s",
    "shuffle_write_mb",
    "fetch_wait_s",
    "spill_mb",
    "input_mb",
    "rows_in",
    "output_mb",
    "python_s",
    "to_python_mb",
    "from_python_mb",
    "jobs",
    "scan_stages",
)

# SQL metrics PySpark reports on Python-evaluating operators
_PY_TIME = "time to run Python workers"
_PY_SENT = "data sent to Python workers"
_PY_BACK = "data returned from Python workers"


class Tracer:
    """Records spans and tags Spark jobs with the span's job group. Outside
    ``tracing`` it is off and ``span`` does nothing."""

    def __init__(self, run_id: str = "run"):
        self.sc = None
        self.run_id = run_id
        self.prefix = ""
        self.spans: list[dict] = []
        self._stack: list[str] = []

    @contextmanager
    def tracing(self, sc, prefix: str):
        """Trace one iteration: its job groups all start with ``prefix``."""
        self.sc, self.prefix = sc, prefix
        try:
            yield
        finally:
            self.sc = None

    @contextmanager
    def span(self, name: str):
        if self.sc is None:
            yield
            return
        group = self.prefix + name
        parent = self._stack[-1] if self._stack else None
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setLocalProperty("spark.jobGroup.id", group)
        self._stack.append(group)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self._stack.pop()
            self.sc.setLocalProperty("spark.jobGroup.id", prev)
            self.spans.append(
                {
                    "name": name,
                    "group": group,
                    "parent": parent,
                    "run_id": self.run_id,
                    "start": start,
                    "end": end,
                }
            )

    def times(self, prefix: str) -> dict[str, float]:
        """Seconds per span name, summed over the spans of one prefix."""
        out: dict[str, float] = {}
        for s in self.spans:
            if s["group"].startswith(prefix):
                out[s["name"]] = out.get(s["name"], 0.0) + s["end"] - s["start"]
        return out


def _num(v) -> float:
    return float(v) if v is not None else 0.0


def read_event_log(path: str) -> dict[str, dict]:
    """Per-job-group counters from one event log file (JSON lines)."""
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = {}
    stages: dict[int, dict] = {}

    def group(g: str) -> dict:
        return groups.setdefault(g, dict.fromkeys(COUNTERS, 0.0))

    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if g is None:
                    continue
                group(g)["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, g)
            elif kind == "SparkListenerTaskEnd":
                g = stage_group.get(ev["Stage ID"])
                m = ev.get("Task Metrics")
                if g is None or not m:
                    continue
                c = group(g)
                info = ev["Task Info"]
                sr = m.get("Shuffle Read Metrics", {})
                inp = m.get("Input Metrics", {})
                c["gc_s"] += _num(m.get("JVM GC Time")) / 1e3
                c["shuffle_write_mb"] += (
                    _num(m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written")) / MB
                )
                c["fetch_wait_s"] += _num(sr.get("Fetch Wait Time")) / 1e3
                c["spill_mb"] += _num(m.get("Disk Bytes Spilled")) / MB
                c["input_mb"] += _num(inp.get("Bytes Read")) / MB
                c["rows_in"] += _num(inp.get("Records Read"))
                c["output_mb"] += _num(m.get("Output Metrics", {}).get("Bytes Written")) / MB
                for acc in info.get("Accumulables", []):
                    name = acc.get("Name")
                    if name == _PY_TIME:
                        c["python_s"] += _num(acc.get("Update")) / 1e3
                    elif name == _PY_SENT:
                        c["to_python_mb"] += _num(acc.get("Update")) / MB
                    elif name == _PY_BACK:
                        c["from_python_mb"] += _num(acc.get("Update")) / MB
                st = stages.setdefault(
                    ev["Stage ID"], {"group": g, "durations": [], "shuffle_in": False, "scan": False}
                )
                st["durations"].append(_num(info.get("Finish Time")) - _num(info.get("Launch Time")))
                if _num(sr.get("Total Records Read")) > 0:
                    st["shuffle_in"] = True
                if _num(inp.get("Records Read")) > 0:
                    st["scan"] = True

    for g in groups.values():
        g["task_skew"] = 0.0
    heaviest: dict[str, float] = {}
    for st in stages.values():
        c = group(st["group"])
        c["scan_stages"] += st["scan"]
        d = st["durations"]
        # skew (max / median task time) of the group's heaviest stage behind a
        # shuffle: that is where a hot key's task becomes the straggler
        if st["shuffle_in"] and len(d) > 1 and sum(d) > heaviest.get(st["group"], -1.0):
            heaviest[st["group"]] = sum(d)
            c["task_skew"] = max(d) / max(statistics.median(d), 1.0)
    return groups


def combine(groups: dict[str, dict], plus: list[str], minus: list[str] = ()) -> dict:
    """Counters of the ``plus`` groups minus those of the ``minus`` groups."""
    out = dict.fromkeys(COUNTERS, 0.0)
    for sign, names in ((1.0, plus), (-1.0, minus)):
        for n in names:
            g = groups.get(n)
            if g:
                for k in COUNTERS:
                    out[k] += sign * g[k]
    return out


def skew(groups: dict[str, dict], names: list[str]) -> float:
    return max((groups[n]["task_skew"] for n in names if n in groups), default=0.0)
