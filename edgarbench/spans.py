"""Span recorder and engine counters for the traced run.

``Tracer`` records one span per call into a layer: name, start, end,
parent span and run id, kept in memory (one list, appended under a
lock so client threads can share it) and written as JSON when the run
ends.  ``self_times`` derives each span's self time: its duration minus
the part of its interval that its child spans cover.

``EngineCounters`` reads Spark's public monitoring REST API and sums
task metrics over the stages of the jobs of given job groups, so engine
work (tasks, executor run/CPU time, GC, shuffle, spill, scheduler
delay) can be attributed to the operation that caused it.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import threading
import time
import urllib.request
from collections import defaultdict
from dataclasses import asdict, dataclass


@dataclass
class Span:
    span_id: int
    parent_id: int | None
    name: str
    start: float
    end: float
    run_id: str
    thread: str

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder.  ``enabled=False`` makes ``span`` a
    no-op so the untraced run pays nothing."""

    def __init__(self, run_id: str, enabled: bool = True):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        span_id = next(self._ids)
        parent = stack[-1] if stack else None
        stack.append(span_id)
        start = time.perf_counter()
        try:
            yield span_id
        finally:
            end = time.perf_counter()
            stack.pop()
            sp = Span(span_id, parent, name, start, end, self.run_id, threading.current_thread().name)
            with self._lock:
                self.spans.append(sp)

    def wrap(self, name: str, fn):
        """``fn`` with every call recorded as a span named ``name``."""

        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        return traced

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            json.dump([asdict(s) for s in self.spans], f)


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """span_id → duration minus the union of its children's intervals
    (children of one parent may overlap when they run on threads)."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent_id is not None:
            children[s.parent_id].append((s.start, s.end))
    return {
        s.span_id: s.duration - _covered(children.get(s.span_id, []), s.start, s.end)
        for s in spans
    }


def by_name(spans: list[Span]) -> dict[str, dict[str, float]]:
    """name → count, total seconds and total self seconds."""
    st = self_times(spans)
    out: dict[str, dict[str, float]] = defaultdict(lambda: {"count": 0, "total_s": 0.0, "self_s": 0.0})
    for s in spans:
        agg = out[s.name]
        agg["count"] += 1
        agg["total_s"] += s.duration
        agg["self_s"] += st[s.span_id]
    return dict(out)


# --------------------------------------------------------------------------
# Spark monitoring REST API
# --------------------------------------------------------------------------

ENGINE_KEYS = (
    "jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "scan_task_s",
    "gc_s", "shuffle_write_mb", "spill_mb", "scheduler_delay_s", "files_read",
)


class EngineCounters:
    """Task metrics of job groups, from ``<ui>/api/v1``."""

    def __init__(self, ui_url: str):
        self._base = ui_url.rstrip("/") + "/api/v1"
        self._app = self._get("/applications")[0]["id"]

    def _get(self, path: str):
        with urllib.request.urlopen(self._base + path, timeout=30) as r:
            return json.load(r)

    def _app_get(self, path: str):
        return self._get(f"/applications/{self._app}{path}")

    def groups(self, match) -> dict[str, dict[str, float]]:
        """job group → summed counters, for every group accepted by
        ``match(group) -> bool``."""
        jobs = [j for j in self._app_get("/jobs") if j.get("jobGroup") and match(j["jobGroup"])]
        stage_group: dict[int, str] = {}
        out: dict[str, dict[str, float]] = {}
        for j in jobs:
            g = j["jobGroup"]
            out.setdefault(g, dict.fromkeys(ENGINE_KEYS, 0.0))["jobs"] += 1
            for sid in j.get("stageIds", []):
                stage_group[sid] = g
        if not stage_group:
            return out
        for st in self._app_get("/stages?status=complete"):
            g = stage_group.get(st["stageId"])
            if g is None:
                continue
            c = out[g]
            c["stages"] += 1
            c["tasks"] += st.get("numCompleteTasks", 0)
            c["task_run_s"] += st.get("executorRunTime", 0) / 1e3
            c["task_cpu_s"] += st.get("executorCpuTime", 0) / 1e9
            if st.get("inputBytes", 0) > 0:  # stages that read files
                c["scan_task_s"] += st.get("executorRunTime", 0) / 1e3
            c["gc_s"] += st.get("jvmGcTime", 0) / 1e3
            c["shuffle_write_mb"] += st.get("shuffleWriteBytes", 0) / 1e6
            c["spill_mb"] += (st.get("diskBytesSpilled", 0) + st.get("memoryBytesSpilled", 0)) / 1e6
            tasks = self._app_get(
                f"/stages/{st['stageId']}/{st['attemptId']}/taskList?length=100000"
            )
            c["scheduler_delay_s"] += sum(t.get("schedulerDelay", 0) for t in tasks) / 1e3
        self._add_files_read(out, {j["jobId"]: j["jobGroup"] for j in jobs})
        return out

    def _add_files_read(self, out: dict, job_group: dict[int, str]) -> None:
        """Scan-node 'number of files read' from the SQL REST endpoint,
        attributed to a group through the execution's job ids."""
        try:
            execs = self._app_get("/sql?details=true&planDescription=false&length=100000")
        except OSError:
            return
        for ex in execs:
            groups = {job_group[j] for j in ex.get("successJobIds", []) if j in job_group}
            if len(groups) != 1:
                continue
            g = groups.pop()
            for node in ex.get("nodes", []):
                for m in node.get("metrics", []):
                    if m.get("name") == "number of files read":
                        out[g]["files_read"] += _metric_number(m.get("value", "0"))


def _metric_number(value: str) -> float:
    """SQL metric values render as '12' or '1,234'; totals of several
    tasks as 'total (min, med, max)\\n12 (...)'."""
    token = value.strip().split("\n")[-1].split(" ")[0].replace(",", "")
    try:
        return float(token)
    except ValueError:
        return 0.0


def sum_counters(groups: dict[str, dict[str, float]]) -> dict[str, float]:
    total = dict.fromkeys(ENGINE_KEYS, 0.0)
    for c in groups.values():
        for k in ENGINE_KEYS:
            total[k] += c[k]
    return total
