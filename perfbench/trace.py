"""Span recorder and Spark status-store reader.

A span is one call into one layer. ``Recorder.span(layer)`` tags every
Spark job started inside it with a job group of its own
(``sc.setJobGroup``), keeps name, start, end, parent and operation id in
memory, and afterwards reads what Spark did for that group from the
driver's status REST API on loopback
(``/api/v1/applications/<id>/{jobs,stages,sql}``): jobs, tasks,
executor run and CPU time, GC, shuffle write, spill and the SQL plan
node metrics. When the UI is off (``spark.ui.enabled=false``) there is
no endpoint and spans carry wall time only.

A span's self time is its wall time minus the wall time of its direct
children, so a layer's number is that layer's own work.
"""

from __future__ import annotations

import json
import re
import threading
import time
import urllib.error
import urllib.request
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

# the counters every layer reports, summed over its spans
COMMON = ("self_s", "jobs", "tasks", "cpu_s", "gc_s", "shuffle_write_bytes", "spill_bytes", "util")

_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "ns": 1e-9,
}
_VALUE = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """A SQL node metric string as Spark renders it → a number in base
    units (bytes, seconds or a count). Task-level metrics render as
    ``total (min, med, max ...)\\n<total> (...)``; the total is kept."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = _VALUE.match(text)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: int | None = None
    id: int = 0
    counters: dict[str, float] = field(default_factory=dict)
    nodes: dict[str, float] = field(default_factory=dict)  # "<node>.<metric>" -> total

    @property
    def wall(self) -> float:
        return self.end - self.start


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id → wall minus the summed wall of its direct children."""
    child = defaultdict(float)
    for s in spans:
        if s.parent is not None:
            child[s.parent] += s.wall
    return {s.id: s.wall - child[s.id] for s in spans}


class StatusStore:
    """Loopback reader of the driver's status REST API."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        url = self.sc.uiWebUrl
        self.base = f"{url}/api/v1/applications/{self.sc.applicationId}" if url else None
        self._sql_seen = 0  # executions before this offset are all in _execs
        self._execs: dict[int, tuple[set[int], dict[str, float]]] = {}

    @property
    def available(self) -> bool:
        return self.base is not None

    def _get(self, path: str):
        try:
            with urllib.request.urlopen(self.base + path, timeout=10) as r:
                return json.load(r)
        except (urllib.error.URLError, OSError, ValueError):
            return None

    def _settled_jobs(self, ids: list[int]) -> list[dict]:
        """The jobs' REST records, once the listener bus has caught up
        (every job finished and counted)."""
        deadline = time.monotonic() + 5.0
        while True:
            jobs = [self._get(f"/jobs/{i}") for i in ids]
            done = all(j and j.get("status") in ("SUCCEEDED", "FAILED") for j in jobs)
            if done or time.monotonic() > deadline:
                return [j for j in jobs if j]
            time.sleep(0.05)

    def group_counters(self, group: str) -> tuple[dict[str, float], dict[str, float]]:
        """(stage counters, SQL node totals) of every job in ``group``."""
        ids = sorted(self.sc.statusTracker().getJobIdsForGroup(group))
        jobs = self._settled_jobs(ids)
        c = dict.fromkeys(("jobs", "tasks", "run_s", "cpu_s", "gc_s", "shuffle_write_bytes", "spill_bytes"), 0.0)
        c["jobs"] = float(len(jobs))
        stage_ids = sorted({s for j in jobs for s in j.get("stageIds", [])})
        for sid in stage_ids:
            for st in self._get(f"/stages/{sid}?details=false") or []:
                if st.get("status") != "COMPLETE":
                    continue
                c["tasks"] += st.get("numCompleteTasks", 0)
                c["run_s"] += st.get("executorRunTime", 0) / 1e3
                c["cpu_s"] += st.get("executorCpuTime", 0) / 1e9
                c["gc_s"] += st.get("jvmGcTime", 0) / 1e3
                c["shuffle_write_bytes"] += st.get("shuffleWriteBytes", 0)
                c["spill_bytes"] += st.get("memoryBytesSpilled", 0) + st.get("diskBytesSpilled", 0)
        return c, self._sql_nodes(set(ids))

    def _sql_nodes(self, job_ids: set[int]) -> dict[str, float]:
        """Plan-node metric totals over the SQL executions that ran any
        of ``job_ids``. Finished executions are parsed once and kept by
        id, so each read only fetches what is new since the last one."""
        out: dict[str, float] = defaultdict(float)
        if not job_ids:
            return out
        deadline = time.monotonic() + 5.0
        while True:
            execs = self._get(f"/sql?details=true&planDescription=false&offset={self._sql_seen}&length=100000") or []
            pending = [e for e in execs if e.get("status") == "RUNNING" and job_ids & _job_ids(e)]
            if not pending or time.monotonic() > deadline:
                break
            time.sleep(0.05)
        for e in execs:
            if e.get("status") == "RUNNING":
                continue
            totals: dict[str, float] = defaultdict(float)
            for n in e.get("nodes", []):
                name = n.get("nodeName", "").split(" (")[0]
                for m in n.get("metrics", []):
                    totals[f"{name}.{m['name']}"] += parse_metric(m.get("value", ""))
            self._execs[e["id"]] = (_job_ids(e), totals)
        # the offset moves past the leading run of finished executions
        for e in execs:
            if e["id"] not in self._execs:
                break
            self._sql_seen += 1
        for jobs, totals in self._execs.values():
            if jobs & job_ids:
                for k, v in totals.items():
                    out[k] += v
        return out


def _job_ids(execution: dict) -> set[int]:
    return set(execution.get("successJobIds", [])) | set(execution.get("failedJobIds", [])) | set(
        execution.get("runningJobIds", []))


class Recorder:
    """Keeps spans in memory; with a status store, fills each span's
    Spark counters when it closes."""

    def __init__(self, spark, enabled: bool, cores: int):
        self.spark = spark
        self.enabled = enabled
        self.cores = cores
        self.store = StatusStore(spark) if enabled else None
        self.spans: list[Span] = []
        self._stack = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, op: int | None = None):
        """Time one layer call. Spans nest per thread; the innermost
        open span's job group is restored when a child closes."""
        if not self.enabled:
            yield None
            return
        stack = getattr(self._stack, "open", None)
        if stack is None:
            stack = self._stack.open = []
        with self._lock:
            s = Span(name, time.time(), parent=stack[-1].id if stack else None,
                     op=op if op is not None else (stack[-1].op if stack else None), id=len(self.spans))
            self.spans.append(s)
        group = f"{name}#{s.id}"
        sc = self.spark.sparkContext
        sc.setJobGroup(group, name)
        stack.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            stack.pop()
            if stack:
                sc.setJobGroup(f"{stack[-1].name}#{stack[-1].id}", stack[-1].name)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            if self.store.available:
                s.counters, s.nodes = self.store.group_counters(group)

    def add(self, name: str, start: float, end: float) -> None:
        """Record a span timed elsewhere (e.g. a streaming micro-batch),
        in ``time.time()`` seconds like every span."""
        with self._lock:
            self.spans.append(Span(name, start, end, id=len(self.spans)))

    def layer_totals(self) -> dict[str, dict[str, float]]:
        """Layer → the common counters summed over its spans, with
        ``util`` = executor run time ÷ (wall × cores)."""
        selfs = self_times(self.spans)
        out: dict[str, dict[str, float]] = {}
        for s in self.spans:
            t = out.setdefault(s.name, {k: 0.0 for k in COMMON} | {"wall": 0.0, "run_s": 0.0})
            t["self_s"] += selfs[s.id]
            t["wall"] += s.wall
            for k in ("jobs", "tasks", "cpu_s", "gc_s", "shuffle_write_bytes", "spill_bytes", "run_s"):
                t[k] += s.counters.get(k, 0.0)
        for t in out.values():
            t["util"] = t["run_s"] / (t["wall"] * self.cores) if t["wall"] > 0 else 0.0
        return out

    def nodes(self, name: str) -> dict[str, float]:
        """SQL node totals summed over every span called ``name``."""
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s.name == name:
                for k, v in s.nodes.items():
                    out[k] += v
        return out

    def dump(self, path: str) -> None:
        selfs = self_times(self.spans)
        with open(path, "w", encoding="utf-8") as fh:
            for s in self.spans:
                fh.write(json.dumps({
                    "id": s.id, "name": s.name, "parent": s.parent, "op": s.op,
                    "start": s.start, "end": s.end, "self_s": selfs[s.id],
                    "counters": s.counters, "nodes": s.nodes,
                }, sort_keys=True) + "\n")
