"""In-memory spans and engine counters for the traced run.

Spans are recorded from the benchmark's own files, around each call into
a layer of the engine: name, start, end, parent span and op id. They
stay in memory and are written out once, when the run ends. A layer's
self time is its spans' durations minus the part covered by their
child spans.

Counters come from two places the engine already exposes:

- the status tracker (``SparkContext.statusTracker``): job, stage and
  task counts of one op, found through the op's own job group;
- the local REST API (``<ui>/api/v1``): executor run, CPU and GC time,
  shuffle, spill and broadcast bytes, and block-manager storage.
"""

from __future__ import annotations

import json
import re
import time
import urllib.request
from contextlib import contextmanager
from datetime import datetime, timezone


class Span:
    __slots__ = ("id", "name", "op", "parent", "start", "end")

    def __init__(self, sid: int, name: str, op: str | None,
                 parent: int | None):
        self.id, self.name, self.op, self.parent = sid, name, op, parent
        self.start = time.perf_counter()
        self.end = self.start

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Times every layer call; keeps the spans only when ``enabled``."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, op: str | None = None):
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), name, op, parent)
        if self.enabled:
            self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus time covered by children."""
        child: dict[int, float] = {}
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] = child.get(s.parent, 0.0) + s.dur
        out: dict[str, float] = {}
        for s in self.spans:
            out[s.name] = out.get(s.name, 0.0) + s.dur - child.get(s.id, 0.0)
        return out

    def dump(self, path: str, extra: dict) -> None:
        t0 = self.spans[0].start if self.spans else 0.0
        doc = {
            "spans": [{"id": s.id, "name": s.name, "op": s.op,
                       "parent": s.parent,
                       "start_s": round(s.start - t0, 6),
                       "end_s": round(s.end - t0, 6)} for s in self.spans],
            "self_time_s": {k: round(v, 6)
                            for k, v in sorted(self.self_times().items())},
            **extra,
        }
        with open(path, "w") as fh:
            json.dump(doc, fh, indent=1)


def op_counts(sc, group: str) -> dict[str, int]:
    """Jobs, distinct stages and tasks run by one job group."""
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages: set[int] = set()
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        if info is not None:
            stages.update(info.stageIds)
    tasks = 0
    ran = 0
    for sid in stages:
        st = tracker.getStageInfo(sid)
        if st is not None and st.numCompletedTasks > 0:
            ran += 1
            tasks += st.numCompletedTasks
    return {"jobs": len(jobs), "stages": ran, "tasks": tasks}


class Rest:
    """Thin client for the driver's monitoring REST API."""

    def __init__(self, sc) -> None:
        self.base = (f"{sc.uiWebUrl}/api/v1/applications/"
                     f"{sc.applicationId}")

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def storage_bytes(self) -> int:
        return sum(int(r.get("memoryUsed", 0)) + int(r.get("diskUsed", 0))
                   for r in self.get("/storage/rdd"))

    def settle(self, timeout_s: float = 10.0) -> None:
        """Wait until the status store shows no running job (the REST
        view is fed asynchronously by the listener bus)."""
        end = time.monotonic() + timeout_s
        while time.monotonic() < end:
            if all(j["status"] != "RUNNING" for j in self.get("/jobs")):
                return
            time.sleep(0.2)

    def window_metrics(self, t0: float, t1: float) -> dict[str, float]:
        """Sum stage metrics over jobs submitted in epoch window [t0, t1]."""
        jobs = [j for j in self.get("/jobs")
                if t0 <= epoch(j.get("submissionTime")) <= t1]
        stage_ids = {s for j in jobs for s in j.get("stageIds", [])}
        m = dict.fromkeys(("run_s", "cpu_s", "gc_s", "shuffle_read",
                           "shuffle_write", "spill"), 0.0)
        for st in self.get("/stages"):
            if st["stageId"] not in stage_ids or st["status"] == "SKIPPED":
                continue
            m["run_s"] += st.get("executorRunTime", 0) / 1e3
            m["cpu_s"] += st.get("executorCpuTime", 0) / 1e9
            m["gc_s"] += st.get("jvmGcTime", 0) / 1e3
            m["shuffle_read"] += st.get("shuffleReadBytes", 0)
            m["shuffle_write"] += st.get("shuffleWriteBytes", 0)
            m["spill"] += (st.get("memoryBytesSpilled", 0)
                           + st.get("diskBytesSpilled", 0))
        m["broadcast"] = 0.0
        for ex in self.get("/sql?details=true&planDescription=false"
                           "&length=100000"):
            if not t0 <= epoch(ex.get("submissionTime")) <= t1:
                continue
            for node in ex.get("nodes", []):
                if not node.get("nodeName", "").startswith("BroadcastExchange"):
                    continue
                for met in node.get("metrics", []):
                    if met.get("name") == "data size":
                        m["broadcast"] += _bytes(met.get("value", ""))
        m["jobs"] = float(len(jobs))
        return m


def epoch(stamp: str | None) -> float:
    """Seconds since the epoch of a UTC timestamp as the REST API
    (``2026-01-01T00:00:00.000GMT``) or a streaming progress event
    (``2026-01-01T00:00:00.000Z``) writes it."""
    if not stamp:
        return float("nan")
    bare = stamp.removesuffix("GMT").removesuffix("Z")
    dt = datetime.strptime(bare, "%Y-%m-%dT%H:%M:%S.%f")
    return dt.replace(tzinfo=timezone.utc).timestamp()


_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
          "TiB": 1 << 40}


def _bytes(text: str) -> float:
    """First size in a SQL metric string such as ``8.0 MiB`` or
    ``total (min, med, max ...)\\n8.0 MiB (...)``."""
    hit = re.search(r"([\d.,]+)\s*(B|KiB|MiB|GiB|TiB)\b", text)
    if not hit:
        return 0.0
    return float(hit.group(1).replace(",", "")) * _UNITS[hit.group(2)]


def jvm_peak_rss_mb(spark) -> float:
    """The driver JVM's peak resident set (VmHWM), in MiB."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def tail_percentile(values: list[float]) -> tuple[float, float, int]:
    """Highest percentile with at least 10 samples beyond it.

    Returns ``(percentile, value, samples)``; with fewer than 20 samples
    the median stands in (percentile 50)."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return 0.0, 0.0, 0
    limit = 100.0 * (n - 10) / n
    pct = next((p for p in (99.9, 99.0, 95.0, 90.0, 75.0) if p <= limit),
               50.0)
    return pct, _pct(xs, pct), n


def _pct(xs: list[float], p: float) -> float:
    k = (len(xs) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)
