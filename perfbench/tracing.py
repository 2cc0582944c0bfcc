"""Spans around the harness's calls into the engine's layers.

A span records name, start, end, parent span, workload and iteration id. Spans
are kept in memory and written out once, when the run ends. In a traced run
each span also sets the Spark job description to ``<name>#<span id>`` so the
event log can attribute executor task time, input bytes and shuffle bytes to
the span that caused them.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager
from typing import Dict, List, Optional


class Tracer:
    def __init__(self, workload: str, spark=None):
        self.workload = workload
        #: set only in a traced run; then every span tags its Spark jobs
        self._sc = spark.sparkContext if spark is not None else None
        self.spans: List[dict] = []
        self._stack: List[int] = []
        self.iteration: Optional[int] = None

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "workload": self.workload,
            "iteration": self.iteration,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        if self._sc is not None:
            self._sc.setJobDescription(f"{name}#{sid}")
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._sc is not None:
                parent = self.spans[self._stack[-1]] if self._stack else None
                self._sc.setJobDescription(
                    f"{parent['name']}#{parent['id']}" if parent else None
                )

    def durations(self, name: str) -> List[float]:
        """Durations of the finished spans called ``name`` inside timed
        iterations."""
        return [
            s["end"] - s["start"]
            for s in self.spans
            if s["name"] == name and s["end"] is not None and s["iteration"] is not None
        ]

    def self_times(self) -> Dict[int, float]:
        """Span id → duration minus the part of it its children cover."""
        children: Dict[int, List[tuple]] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out = {}
        for s in self.spans:
            if s["end"] is None:
                continue
            covered, cur_start, cur_end = 0.0, None, None
            for a, b in sorted(children.get(s["id"], [])):
                if cur_end is None or a > cur_end:
                    if cur_end is not None:
                        covered += cur_end - cur_start
                    cur_start, cur_end = a, b
                else:
                    cur_end = max(cur_end, b)
            if cur_end is not None:
                covered += cur_end - cur_start
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def self_time_medians(self) -> Dict[str, float]:
        """Span name → median self time over its timed instances."""
        st = self.self_times()
        by_name: Dict[str, List[float]] = {}
        for s in self.spans:
            if s["id"] in st and s["iteration"] is not None:
                by_name.setdefault(s["name"], []).append(st[s["id"]])
        return {k: statistics.median(v) for k, v in by_name.items()}

    def write(self, path: str) -> None:
        st = self.self_times()
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({**s, "self": st.get(s["id"])}) + "\n")


def attribute_event_log(log_dir: str) -> Dict[str, Dict[str, float]]:
    """Sum executor run time, input bytes and shuffle bytes (read + written)
    of every task, per job description, from the Spark event log files under
    ``log_dir``. Call after the SparkContext has stopped (the log is flushed
    on stop)."""
    stage_desc: Dict[int, str] = {}
    totals: Dict[str, Dict[str, float]] = {}
    for name in sorted(os.listdir(log_dir)):
        if name.startswith("."):  # checksum files of the local filesystem
            continue
        with open(os.path.join(log_dir, name)) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    desc = (ev.get("Properties") or {}).get("spark.job.description")
                    if desc:
                        for sid in ev.get("Stage IDs", []):
                            stage_desc.setdefault(sid, desc)
                elif kind == "SparkListenerTaskEnd":
                    desc = stage_desc.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics")
                    if desc is None or not m:
                        continue
                    t = totals.setdefault(
                        desc, {"task_s": 0.0, "input_bytes": 0, "shuffle_bytes": 0}
                    )
                    t["task_s"] += m.get("Executor Run Time", 0) / 1000.0
                    t["input_bytes"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
                    sr = m.get("Shuffle Read Metrics", {})
                    sw = m.get("Shuffle Write Metrics", {})
                    t["shuffle_bytes"] += (
                        sr.get("Remote Bytes Read", 0)
                        + sr.get("Local Bytes Read", 0)
                        + sw.get("Shuffle Bytes Written", 0)
                    )
    return totals


def per_span_totals(tracer: Tracer, by_desc: Dict[str, Dict[str, float]]) -> Dict[str, Dict[str, float]]:
    """Span name → median over its timed instances of the event-log totals
    attributed to that instance (jobs of nested spans count for the nested
    span, not the parent)."""
    per_name: Dict[str, List[Dict[str, float]]] = {}
    for s in tracer.spans:
        if s["iteration"] is None:
            continue
        tot = by_desc.get(f"{s['name']}#{s['id']}", {"task_s": 0.0, "input_bytes": 0, "shuffle_bytes": 0})
        per_name.setdefault(s["name"], []).append(tot)
    return {
        name: {k: statistics.median(t[k] for t in items) for k in items[0]}
        for name, items in per_name.items()
    }
