"""Spans around calls into the engine's layers, with Spark and streaming metrics.

A span is opened by the benchmark around one call into a layer's public
function; the program itself is not instrumented. Each span sets a Spark
job group, so the jobs and stages Spark ran inside it can be read back from
the UI's REST API and attributed to it. Streaming queries run their
micro-batches under their own job group (the query's run id), so a
``StreamingQueryListener`` maps each run id to the span that started the
query and collects its progress events.

Spans stay in memory and are written out once, when the run ends.
"""

from __future__ import annotations

import datetime as _dt
import itertools
import json
import threading
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from pyspark.sql.streaming import StreamingQueryListener


@dataclass
class Span:
    span_id: int
    parent: int | None
    name: str
    op_id: int
    start: float
    end: float = 0.0
    counts: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of its interval its children cover.

    Children may overlap each other; the covered part is the union of their
    intervals, clipped to the parent's.
    """
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, lo, hi = 0.0, None, None
        for a, b in sorted(
            (max(c.start, s.start), min(c.end, s.end)) for c in children.get(s.span_id, [])
        ):
            if b <= a:
                continue
            if hi is None or a > hi:
                if hi is not None:
                    covered += hi - lo
                lo, hi = a, b
            else:
                hi = max(hi, b)
        if hi is not None:
            covered += hi - lo
        out[s.span_id] = s.seconds - covered
    return out


def _group(span_id: int) -> str:
    return f"perfbench-span-{span_id}"


class _ProgressListener(StreamingQueryListener):
    """Collects progress events per query run id, and which span started it."""

    def __init__(self, tracer: "Tracer"):
        self.tracer = tracer
        self.lock = threading.Lock()
        self.progress: dict[str, list[dict]] = {}
        self.started: dict[str, int | None] = {}
        self.terminated: set[str] = set()

    def onQueryStarted(self, event):
        # Called before DataStreamWriter.start() returns, so the span open
        # on the benchmark's thread is the one that started the query.
        current = self.tracer.current()
        with self.lock:
            self.started[str(event.runId)] = current.span_id if current else None

    def onQueryProgress(self, event):
        p = json.loads(event.progress.json)
        with self.lock:
            self.progress.setdefault(p["runId"], []).append(p)

    def onQueryTerminated(self, event):
        with self.lock:
            self.terminated.add(str(event.runId))

    def wait_terminated(self, timeout: float = 30.0) -> None:
        """Progress events arrive on the listener bus after the query has
        returned; wait until every started query reported its end."""
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            with self.lock:
                if set(self.started) <= self.terminated:
                    return
            time.sleep(0.05)


class Tracer:
    """In-memory spans; one op id per benchmark op."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        self.op_id = 0
        self.listener = _ProgressListener(self)
        spark.streams.addListener(self.listener)

    def close(self) -> None:
        self.spark.streams.removeListener(self.listener)

    def current(self) -> Span | None:
        return self._stack[-1] if self._stack else None

    def new_op(self) -> int:
        self.op_id += 1
        return self.op_id

    @contextmanager
    def span(self, name: str):
        parent = self.current()
        s = Span(next(self._ids), parent.span_id if parent else None, name, self.op_id, 0.0)
        self._stack.append(s)
        self.sc.setJobGroup(_group(s.span_id), name)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self.spans.append(s)
            if parent:
                self.sc.setJobGroup(_group(parent.span_id), parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def op_spans(self, op_id: int) -> list[Span]:
        return [s for s in self.spans if s.op_id == op_id]

    def spark_totals(self, op_id: int, cores: int) -> tuple[dict, dict]:
        """``spark.*`` metrics of one op, over every job its spans ran, and
        each span's own totals by span id (streaming queries it started
        included)."""
        groups, stages = _jobs_and_stages(self.sc)
        spans = self.op_spans(op_id)
        per_span = {}
        for s in spans:
            jobs = list(groups.get(_group(s.span_id), []))
            for run_id, started_in in self.listener.started.items():
                if started_in == s.span_id:
                    jobs += groups.get(run_id, [])
            per_span[s.span_id] = stage_totals(jobs, stages)
        out = {f"spark.{k}": sum(t[k] for t in per_span.values()) for k in next(iter(per_span.values()))}
        root = next(s for s in spans if s.parent is None)
        out["spark.busy_share"] = out["spark.executor_run_s"] / (root.seconds * cores)
        return out, per_span

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


# --- Spark job and stage metrics --------------------------------------------


def _ts(value: str | None) -> float | None:
    if not value:
        return None
    return _dt.datetime.strptime(value.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


def _jobs_and_stages(sc) -> tuple[dict[str, list[dict]], dict[int, list[dict]]]:
    """Jobs keyed by job group, and stage attempts keyed by stage id, from
    the Spark UI's REST API on localhost."""
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def get(path: str):
        with urllib.request.urlopen(base + path, timeout=30) as r:
            return json.load(r)

    groups: dict[str, list[dict]] = {}
    for j in get("/jobs"):
        groups.setdefault(j.get("jobGroup") or "", []).append(j)
    stages: dict[int, list[dict]] = {}
    for s in get("/stages"):
        if s["status"] in ("COMPLETE", "FAILED"):
            stages.setdefault(s["stageId"], []).append(s)
    return groups, stages


def stage_totals(jobs: list[dict], stages: dict[int, list[dict]]) -> dict[str, float]:
    """Totals over the stage attempts the given jobs ran (skipped stages excluded)."""
    seen: set[int] = set()
    t = dict(
        jobs=len(jobs), stages=0, tasks=0, sched_wait_s=0.0, executor_run_s=0.0,
        executor_cpu_s=0.0, gc_s=0.0, shuffle_write_mb=0.0,
    )
    for j in jobs:
        for sid in j["stageIds"]:
            if sid in seen:
                continue
            seen.add(sid)
            for s in stages.get(sid, []):
                t["stages"] += 1
                t["tasks"] += s["numCompleteTasks"] + s["numFailedTasks"]
                sub, first = _ts(s.get("submissionTime")), _ts(s.get("firstTaskLaunchedTime"))
                if sub is not None and first is not None:
                    t["sched_wait_s"] += max(0.0, first - sub)
                t["executor_run_s"] += s["executorRunTime"] / 1e3
                t["executor_cpu_s"] += s["executorCpuTime"] / 1e9
                t["gc_s"] += s["jvmGcTime"] / 1e3
                t["shuffle_write_mb"] += s["shuffleWriteBytes"] / 2**20
    return t
