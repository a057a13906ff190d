"""Spans around calls into the engine's layers, attributed to Spark work.

A span has a name, start and end (epoch seconds), the span that caused
it and the Spark job group its work ran under. Spans are kept in memory
and attributed after the traced pass, from Spark's monitoring REST API:
``/jobs`` (job group, stage ids, submit/complete times), ``/stages``
(task counts, task and CPU time, shuffle and spill bytes), the per-stage
``taskSummary`` (longest task) and ``/sql?details=true`` (bytes that
crossed the JVM/Python boundary, from the Python plan nodes' metrics).
Nothing here runs inside ``pagerank_spark``: ``instrument`` wraps the
layers' public functions from the outside, for the traced pass only.
"""

from __future__ import annotations

import calendar
import contextlib
import functools
import importlib
import json
import re
import statistics
import time
import urllib.error
import urllib.request
from dataclasses import dataclass, field

# (module, attribute, layer): the public function of each layer, at the
# place its callers look it up when the call happens.
LAYER_FUNCTIONS = [
    ("pagerank_spark.sources.snap", "read_snap_edges", "sources"),
    ("__spark_entry__", "pagerank", "operators.pagerank"),
    ("pagerank_spark.operators.pagerank", "pagerank", "operators.pagerank"),
    ("__spark_entry__", "connected_components", "operators.components"),
    ("pagerank_spark.operators.components", "connected_components",
     "operators.components"),
    ("__spark_entry__", "label_propagation", "operators.labelprop"),
    ("pagerank_spark.operators.mst", "minimum_spanning_forest",
     "operators.mst"),
    ("pagerank_spark.operators.mis", "maximal_matching", "operators.mis"),
    ("pagerank_spark.operators.absorbing", "hitting_time",
     "operators.absorbing"),
    ("__spark_entry__", "triangle_count", "operators.triangles"),
    ("pagerank_spark.operators.cores", "k_truss", "operators.cores"),
]

PER_OP = (
    "jobs", "stages", "tasks", "task_s", "cpu_s", "utilisation",
    "max_task_s", "shuffle_read_bytes", "shuffle_write_bytes",
    "spill_bytes", "python_bytes", "driver_s",
)


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    group: str | None = None
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Records spans; ``enabled=False`` makes every method a no-op, so
    the untraced passes run the same benchmark code without tracing."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, group: str | None = None):
        if not self.enabled:
            yield None
            return
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        if group is None and parent is not None:
            group = self.spans[parent].group
        elif group is not None:
            sc.setJobGroup(group, group)
        s = Span(name, time.time(), parent=parent, group=group)
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if group is not None and parent is None:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    @contextlib.contextmanager
    def instrument(self):
        """Wrap every LAYER_FUNCTIONS entry so each call records a span
        (PageRank's per-iteration seconds ride along); restore after."""
        if not self.enabled:
            yield
            return
        saved = []
        for mod_name, attr, layer in LAYER_FUNCTIONS:
            mod = importlib.import_module(mod_name)
            fn = getattr(mod, attr)
            saved.append((mod, attr, fn))
            setattr(mod, attr, self._wrap(fn, f"{layer}.{attr}"))
        try:
            yield
        finally:
            for mod, attr, fn in reversed(saved):
                setattr(mod, attr, fn)

    def _wrap(self, fn, name):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name) as s:
                out = fn(*args, **kwargs)
                iters = getattr(out, "metrics", None)
                if isinstance(iters, list) and iters:
                    s.attrs["iter_seconds"] = [m["seconds"] for m in iters]
                return out
        return traced


# --------------------------------------------------------------------------
# REST attribution
# --------------------------------------------------------------------------

_SIZE = re.compile(r"([\d.]+)\s*(B|KiB|MiB|GiB|TiB)\b")
_UNIT = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def _epoch(ts: str | None) -> float | None:
    # "2026-10-17T04:13:38.350GMT"
    if not ts:
        return None
    secs = calendar.timegm(time.strptime(ts[:19], "%Y-%m-%dT%H:%M:%S"))
    return secs + int(ts[20:23]) / 1000.0


def _size_bytes(value: str) -> float:
    # SQL size metrics are formatted: "total (min, med, max ...)\n1.2 MiB (...)"
    m = _SIZE.search(value.split("\n")[-1])
    return float(m.group(1)) * _UNIT[m.group(2)] if m else 0.0


class Rest:
    def __init__(self, spark, timeout: float = 10.0):
        sc = spark.sparkContext
        self.base = (
            f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
            if sc.uiWebUrl else None
        )
        self.timeout = timeout

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=self.timeout) as r:
            return json.load(r)

    def settled_jobs(self, tries: int = 50, pause_s: float = 0.1):
        """The job list once the status store has caught up: no job
        running and two consecutive reads equal (it is fed by an
        asynchronous listener bus)."""
        prev = None
        for _ in range(tries):
            jobs = self.get("/jobs")
            if prev == jobs and not any(j["status"] == "RUNNING" for j in jobs):
                return jobs
            prev = jobs
            time.sleep(pause_s)
        return prev


def attribute(spark, spans: list[Span], cores: int) -> dict[str, dict] | None:
    """Per-layer numbers for every span that set a job group, keyed by
    span name; ``None`` when the REST endpoint cannot be reached (the
    numbers are then unmeasured, not zero)."""
    rest = Rest(spark)
    if rest.base is None:
        return None
    try:
        return _attribute(rest, spans, cores)
    except (urllib.error.URLError, OSError, ValueError):
        return None


def _attribute(rest: Rest, spans: list[Span], cores: int) -> dict[str, dict]:
    jobs = rest.settled_jobs()
    stages = {
        (s["stageId"], s["attemptId"]): s
        for s in rest.get("/stages?status=complete")
    }
    sql = rest.get("/sql?details=true&planDescription=false&length=100000")
    groups = {s.group for s in spans if s.parent is None and s.group}
    jobs_of = {g: [j for j in jobs if j.get("jobGroup") == g] for g in groups}
    # A shuffle stage reused by a later job appears in both jobs' stage
    # lists but runs once: credit it to the earliest job that lists it.
    owner: dict[int, str] = {}
    for j in sorted(jobs, key=lambda j: j["jobId"]):
        for sid in j["stageIds"]:
            if j.get("jobGroup") in groups:
                owner.setdefault(sid, j["jobGroup"])
    py_bytes: dict[str, float] = {g: 0.0 for g in groups}
    group_of_job = {j["jobId"]: j.get("jobGroup") for j in jobs}
    for ex in sql:
        ids = ex.get("successJobIds", []) + ex.get("failedJobIds", [])
        gs = {group_of_job.get(i) for i in ids} & groups
        if len(gs) != 1:
            continue
        g = gs.pop()
        for node in ex.get("nodes", []):
            for m in node.get("metrics", []):
                if m["name"] in (
                    "data sent to Python workers",
                    "data returned from Python workers",
                ):
                    py_bytes[g] += _size_bytes(m["value"])

    out = {}
    for s in spans:
        if s.parent is not None or not s.group:
            continue
        wall = s.end - s.start
        st = [
            v for (sid, _att), v in stages.items() if owner.get(sid) == s.group
        ]
        max_task_ms = 0.0
        for v in st:
            summ = rest.get(
                f"/stages/{v['stageId']}/{v['attemptId']}/taskSummary"
                "?quantiles=1.0"
            )
            max_task_ms = max(max_task_ms, summ["executorRunTime"][0])
        task_s = sum(v["executorRunTime"] for v in st) / 1e3
        out[s.name] = {
            "jobs": len(jobs_of[s.group]),
            "stages": len(st),
            "tasks": sum(v["numCompleteTasks"] for v in st),
            "task_s": task_s,
            "cpu_s": sum(v["executorCpuTime"] for v in st) / 1e9,
            "utilisation": task_s / (cores * wall),
            "max_task_s": max_task_ms / 1e3,
            "shuffle_read_bytes": sum(v["shuffleReadBytes"] for v in st),
            "shuffle_write_bytes": sum(v["shuffleWriteBytes"] for v in st),
            "spill_bytes": sum(v["diskBytesSpilled"] for v in st),
            "python_bytes": py_bytes[s.group],
            "driver_s": wall - _covered(s, jobs_of[s.group]),
            "wall_s": wall,
        }
    return out


def _covered(s: Span, jobs: list[dict]) -> float:
    """Seconds of the span during which at least one of ``jobs`` ran."""
    iv = sorted(
        (max(a, s.start), min(b, s.end))
        for a, b in (
            (_epoch(j.get("submissionTime")), _epoch(j.get("completionTime")))
            for j in jobs
        )
        if a is not None and b is not None and b > s.start and a < s.end
    )
    total, cur_a, cur_b = 0.0, None, None
    for a, b in iv:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def pagerank_phases(spans: list[Span]) -> dict[str, float | None]:
    """PageRank's prepare time (call wall minus the iterations) and the
    median iteration, from the outermost traced ``pagerank`` call."""
    for s in spans:
        if s.name == "operators.pagerank.pagerank" and "iter_seconds" in s.attrs:
            secs = s.attrs["iter_seconds"]
            return {
                "pagerank.prepare_s": (s.end - s.start) - sum(secs),
                "pagerank.iter_s": statistics.median(secs),
            }
    return {"pagerank.prepare_s": None, "pagerank.iter_s": None}
