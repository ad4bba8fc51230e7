"""Spans, streaming progress capture and Spark event-log parsing.

Spans are recorded only from the benchmark's own files, around its calls
into each ``vaero_spark`` layer; the program itself is not instrumented.
A span's self time is its duration minus the part of it covered by its
children (children may overlap: two sink writes run at once).
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener


class Tracer:
    """In-memory spans: (id, parent, layer, name, start, end) in
    ``time.perf_counter`` seconds. Disabled tracers record nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._lock = threading.Lock()

    def add(self, layer: str, name: str, start: float, end: float, parent=None) -> int | None:
        if not self.enabled:
            return None
        with self._lock:
            sid = len(self.spans)
            self.spans.append(
                {"id": sid, "parent": parent, "layer": layer, "name": name,
                 "start": start, "end": end}
            )
        return sid

    @contextmanager
    def span(self, layer: str, name: str):
        """Time the block as a top-level span."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.add(layer, name, t0, time.perf_counter())

    def self_ms_by_layer(self) -> dict[str, float]:
        """Wall ms per layer during which a span of that layer ran with
        none of its children running. Concurrent spans of one layer (two
        sink writes) count once."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        own: dict[str, list[tuple[float, float]]] = {}
        for s in self.spans:
            kids = _merge([(c["start"], c["end"]) for c in children.get(s["id"], [])])
            cur = s["start"]
            for ks, ke in kids + [(s["end"], s["end"])]:
                if ks > cur:
                    own.setdefault(s["layer"], []).append((cur, min(ks, s["end"])))
                cur = max(cur, ke)
        return {
            layer: sum(e - s for s, e in _merge(iv)) * 1000.0 for layer, iv in own.items()
        }


def _merge(intervals: list[tuple[float, float]]) -> list[tuple[float, float]]:
    """Sorted, non-overlapping union of the intervals."""
    out: list[tuple[float, float]] = []
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if out and s <= out[-1][1]:
            out[-1] = (out[-1][0], max(out[-1][1], e))
        else:
            out.append((s, e))
    return out


class ProgressCollector(StreamingQueryListener):
    """Keeps every progress event (``recentProgress`` keeps only the last
    100), stamped with its arrival time, and signals waiters."""

    def __init__(self):
        self.events: list[tuple[float, dict]] = []
        self._cv = threading.Condition()

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        rec = json.loads(event.progress.json)
        with self._cv:
            self.events.append((time.perf_counter(), rec))
            self._cv.notify_all()

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        with self._cv:
            self._cv.notify_all()

    def for_run(self, run_id: str) -> list[tuple[float, dict]]:
        with self._cv:
            return [(t, p) for t, p in self.events if p["runId"] == run_id]

    def wait_for(self, run_id: str, n: int, query, timeout: float) -> list[tuple[float, dict]]:
        """Block until ``run_id`` has ``n`` progress events; raise if the
        query died or the timeout passed."""
        deadline = time.monotonic() + timeout
        with self._cv:
            while True:
                got = [(t, p) for t, p in self.events if p["runId"] == run_id]
                if len(got) >= n:
                    return got
                if query.exception() is not None or not query.isActive:
                    raise RuntimeError(f"query ended early: {query.exception()}")
                left = deadline - time.monotonic()
                if left <= 0:
                    raise TimeoutError(f"no progress event {n} within {timeout}s")
                self._cv.wait(min(left, 0.5))


def jvm_metrics(event_log_dir: str, t0_ms: float, t1_ms: float) -> dict[str, float]:
    """Task metrics summed over tasks launched in [t0_ms, t1_ms] (wall
    ms), from the newest event log in the dir."""
    files = sorted(
        (os.path.join(event_log_dir, f) for f in os.listdir(event_log_dir)),
        key=os.path.getmtime,
    )
    m = dict.fromkeys(
        ["tasks", "executor_run_ms", "executor_cpu_ms", "gc_ms", "shuffle_write_bytes",
         "shuffle_read_bytes", "fetch_wait_ms", "spill_bytes"], 0.0)
    py = dict.fromkeys(["python_rows", "python_bytes", "python_start_ms", "python_run_ms"], 0.0)
    stage_runs: dict[tuple, list[float]] = {}
    if not files:
        return {**{f"jvm.{k}": v for k, v in m.items()}, "jvm.task_skew": 0.0,
                **{f"state.{k}": v for k, v in py.items()}}
    with open(files[-1]) as f:
        for line in f:
            if '"SparkListenerTaskEnd"' not in line:
                continue
            ev = json.loads(line)
            info, tm = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
            if not t0_ms <= info.get("Launch Time", 0) <= t1_ms:
                continue
            sr = tm.get("Shuffle Read Metrics", {})
            sw = tm.get("Shuffle Write Metrics", {})
            m["tasks"] += 1
            m["executor_run_ms"] += tm.get("Executor Run Time", 0)
            m["executor_cpu_ms"] += tm.get("Executor CPU Time", 0) / 1e6
            m["gc_ms"] += tm.get("JVM GC Time", 0)
            m["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            m["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            m["fetch_wait_ms"] += sr.get("Fetch Wait Time", 0)
            m["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
            key = (ev.get("Stage ID"), ev.get("Stage Attempt ID"))
            stage_runs.setdefault(key, []).append(tm.get("Executor Run Time", 0))
            accs = {a.get("Name"): float(a.get("Update") or 0) for a in info.get("Accumulables", [])}
            if "time to run Python workers" in accs:
                # the rows a Python-UDF stage reads all cross the boundary
                py["python_rows"] += accs.get("records read", 0.0)
                py["python_bytes"] += accs.get("data sent to Python workers", 0.0) + accs.get(
                    "data returned from Python workers", 0.0)
                py["python_start_ms"] += accs.get("time to start Python workers", 0.0)
                py["python_run_ms"] += accs["time to run Python workers"]
    skews = [max(r) / max(statistics.median(r), 1.0) for r in stage_runs.values() if len(r) > 1]
    out = {f"jvm.{k}": v for k, v in m.items()}
    out["jvm.task_skew"] = statistics.median(skews) if skews else 1.0
    out.update({f"state.{k}": v for k, v in py.items()})
    return out
