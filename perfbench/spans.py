"""Spans around the benchmark's calls into the engine, and the Spark
event-log numbers behind each span.

A span records name, start, end, parent and run id.  Spans live in
memory until the run ends.  Every span runs under its own Spark job
group, so the jobs, tasks, shuffle, spill and Python-worker traffic in
the event log can be charged to the span that caused them.  A span's
self time is its duration minus the part of it that its child spans
cover.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import time
from collections import defaultdict

PYTHON_NODES = ("Python", "Pandas", "Arrow")


class Tracer:
    """Records spans while ``enabled``, which the caller may switch on
    only when tracing was ``requested``; otherwise ``span`` does
    nothing."""

    def __init__(self, spark, requested: bool, run_id: str):
        self.sc = spark.sparkContext
        self.requested = requested
        self.enabled = False
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._shims: list[tuple[object, str, object]] = []
        self.counts: dict[str, int] = defaultdict(int)

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "start": time.perf_counter(),
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setJobGroup(f"span-{sid}", name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                parent = self.spans[self._stack[-1]]
                self.sc.setJobGroup(f"span-{parent['id']}", parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def shim(self, module, attr: str, name: str) -> None:
        """Wrap ``module.attr`` in a span; ``close`` restores it."""

        def wrap(original):
            @functools.wraps(original)
            def wrapped(*args, **kwargs):
                with self.span(name):
                    return original(*args, **kwargs)

            return wrapped

        self._install(module, attr, wrap)

    def count(self, module, attr: str, name: str, error: type[BaseException]) -> None:
        """Count every call of ``module.attr`` in ``counts[name]``, traced
        or not, and the calls that raise ``error`` in
        ``counts[name + ".errors"]``; ``close`` restores it."""

        def wrap(original):
            @functools.wraps(original)
            def wrapped(*args, **kwargs):
                self.counts[name] += 1
                try:
                    return original(*args, **kwargs)
                except error:
                    self.counts[f"{name}.errors"] += 1
                    raise

            return wrapped

        self._install(module, attr, wrap)

    def _install(self, module, attr: str, wrap) -> None:
        original = getattr(module, attr)
        self._shims.append((module, attr, original))
        setattr(module, attr, wrap(original))

    def close(self) -> None:
        for module, attr, original in reversed(self._shims):
            setattr(module, attr, original)
        self._shims.clear()

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, each span minus its children's cover."""
        children: dict[int, list[dict]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]].append(s)
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            covered, last_end = 0.0, s["start"]
            for c in sorted(children[s["id"]], key=lambda c: c["start"]):
                lo, hi = max(c["start"], last_end), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    last_end = hi
            out[s["name"]] += s["end"] - s["start"] - covered
        return dict(out)


def _python_metric_ids(plan: dict, ids: dict[int, str]) -> None:
    """Accumulator ids of the rows/bytes metrics of Python-worker nodes."""
    if any(k in plan.get("nodeName", "") for k in PYTHON_NODES):
        for m in plan.get("metrics", []):
            if m["name"] in ("number of output rows", "data sent to Python workers"):
                ids[m["accumulatorId"]] = m["name"]
    for child in plan.get("children", []):
        _python_metric_ids(child, ids)


def read_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    """Per job group: jobs, failed tasks, executor run seconds, shuffle
    write bytes, spill bytes, Python-worker rows and bytes sent."""
    job_group: dict[int, str] = {}
    stage_group: dict[int, str] = {}
    py_ids: dict[int, str] = {}
    tasks: list[dict] = []
    paths = [
        os.path.join(d, n)
        for d, _, names in os.walk(log_dir)
        for n in sorted(names)
        # rolling logs add an empty status marker and checksum files
        if not n.startswith(("appstatus", "."))
    ]
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    job_group[ev["Job ID"]] = group
                    for sid in ev["Stage IDs"]:
                        stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    tasks.append(ev)
                elif "sparkPlanInfo" in ev:
                    _python_metric_ids(ev["sparkPlanInfo"], py_ids)
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for group in job_group.values():
        out[group]["jobs"] += 1
    for ev in tasks:
        g = out[stage_group.get(ev["Stage ID"], "")]
        if ev.get("Task End Reason", {}).get("Reason") != "Success":
            g["failed_tasks"] += 1
        m = ev.get("Task Metrics") or {}
        g["executor_run_s"] += m.get("Executor Run Time", 0) / 1000.0
        g["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0
        )
        g["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        for acc in ev.get("Task Info", {}).get("Accumulables", []):
            kind = py_ids.get(acc.get("ID"))
            if kind and isinstance(acc.get("Update"), (int, float, str)):
                key = "python_rows" if kind == "number of output rows" else "python_bytes"
                g[key] += float(acc["Update"])
    return {k: dict(v) for k, v in out.items()}
