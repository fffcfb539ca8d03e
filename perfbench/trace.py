"""Spans around the benchmark's calls into the program, and the Spark event
log folded into per-layer task metrics.

A span is (id, name, layer, start, end, parent, run_id). Each span that
names a layer also sets the Spark job group to that layer, so every job the
call launches is tagged; :func:`fold_event_log` reads the event log after
the session stops and sums the task metrics of each job group.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder; :meth:`write` dumps the spans at the end."""

    def __init__(self, run_id: str, spark=None):
        self.run_id = run_id
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, layer: str | None = None):
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name,
               "layer": layer or (parent["layer"] if parent else None),
               "parent": parent["id"] if parent else None,
               "run_id": self.run_id}
        self.spans.append(rec)
        self._stack.append(rec)
        self._set_group(rec["layer"])
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1]["layer"] if self._stack else None)

    def _set_group(self, layer: str | None) -> None:
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        if layer is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            sc.setJobGroup(layer, layer)

    def self_time(self, name: str) -> float:
        """Summed self time of every span called ``name``: its duration
        minus the part of it that its child spans cover."""
        total = 0.0
        for s in self.spans:
            if s["name"] != name:
                continue
            kids = sorted((c["start"], c["end"]) for c in self.spans
                          if c["parent"] == s["id"])
            covered, reach = 0.0, s["start"]
            for a, b in kids:
                a = max(a, reach)
                if b > a:
                    covered += b - a
                    reach = b
            total += (s["end"] - s["start"]) - covered
        return total

    def shares(self, name: str) -> dict[str, float]:
        """Share of the summed duration of every span called ``name`` that
        each of its child spans (by name) takes; ``(self)`` is the rest."""
        ids = {s["id"] for s in self.spans if s["name"] == name}
        total = sum(s["end"] - s["start"] for s in self.spans
                    if s["id"] in ids)
        if total <= 0:
            return {}
        out: dict[str, float] = {}
        for s in self.spans:
            if s["parent"] in ids:
                out[s["name"]] = out.get(s["name"], 0.0) + s["end"] - s["start"]
        out["(self)"] = self.self_time(name)
        return {k: round(v / total, 4) for k, v in out.items()}

    def write(self, path: str, layer_metrics: dict | None = None) -> None:
        """One JSON object per span; times are seconds since the first span.
        ``layer_metrics`` (from :func:`fold_event_log`) is attached to the
        outermost span of each layer."""
        t0 = min((s["start"] for s in self.spans), default=0.0)
        seen: set = set()
        with open(path, "w", encoding="utf-8") as f:
            for s in self.spans:
                out = dict(s, start=round(s["start"] - t0, 6),
                           end=round(s["end"] - t0, 6))
                if layer_metrics and s["layer"] in layer_metrics \
                        and s["layer"] not in seen:
                    seen.add(s["layer"])
                    out["task_metrics"] = layer_metrics[s["layer"]]
                f.write(json.dumps(out) + "\n")


def fold_event_log(log_dir: str) -> dict[str, dict]:
    """→ {job group: {shuffle_write_bytes, spill_bytes, tasks, task_skew,
    jvm_cpu_share}} over every task of every job in that group. Bytes and
    tasks are sums; task_skew is the largest max ÷ median task run time of
    any multi-task stage; jvm_cpu_share is executor CPU time ÷ executor run
    time (low when tasks wait on Python workers). Reads the newest
    uncompressed event log in ``log_dir``."""
    logs = [p for p in glob.glob(os.path.join(log_dir, "*"))
            if not p.endswith(".inprogress")]
    if not logs:
        return {}
    stage_group: dict[int, str] = {}
    stages: dict[tuple[str, int], list[dict]] = {}
    with open(max(logs, key=os.path.getmtime), encoding="utf-8") as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if group:
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
            elif kind == "SparkListenerTaskEnd":
                sid = ev.get("Stage ID")
                m = ev.get("Task Metrics")
                if sid not in stage_group or not m:
                    continue
                stages.setdefault((stage_group[sid], sid), []).append({
                    "run_ms": m.get("Executor Run Time", 0),
                    "cpu_ns": m.get("Executor CPU Time", 0),
                    "shuffle": (m.get("Shuffle Write Metrics") or {})
                    .get("Shuffle Bytes Written", 0),
                    "spill": m.get("Memory Bytes Spilled", 0)
                    + m.get("Disk Bytes Spilled", 0),
                })
    out: dict[str, dict] = {}
    for (group, _sid), ts in stages.items():
        g = out.setdefault(group, {"shuffle_write_bytes": 0, "spill_bytes": 0,
                                   "tasks": 0, "task_skew": 1.0,
                                   "_cpu_ms": 0.0, "_run_ms": 0})
        run_ms = [t["run_ms"] for t in ts]
        g["shuffle_write_bytes"] += sum(t["shuffle"] for t in ts)
        g["spill_bytes"] += sum(t["spill"] for t in ts)
        g["tasks"] += len(ts)
        g["_cpu_ms"] += sum(t["cpu_ns"] for t in ts) / 1e6
        g["_run_ms"] += sum(run_ms)
        med = statistics.median(run_ms)
        if len(ts) > 1 and med > 0:
            g["task_skew"] = max(g["task_skew"], max(run_ms) / med)
    for g in out.values():
        run_ms, cpu_ms = g.pop("_run_ms"), g.pop("_cpu_ms")
        g["jvm_cpu_share"] = cpu_ms / run_ms if run_ms > 0 else 0.0
    return out
