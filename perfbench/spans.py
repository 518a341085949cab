"""Spans, Spark stage counters and the statistics the benchmark reports.

A span is recorded around each call the benchmark makes into a layer of
the engine: name, start, end, parent and run id, kept in memory and
written out when the run ends. After the run, Spark's own per-stage
counters are pulled from its status store in one call and each stage is
charged to the innermost span that was open when it was submitted.
"""

from __future__ import annotations

import contextlib
import json
import math
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans when enabled; a disabled tracer records nothing."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.bookkeeping_s = 0.0

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        sp = Span(len(self.spans), name, time.time(),
                  parent=self._stack[-1] if self._stack else None, attrs=attrs)
        self.spans.append(sp)
        self._stack.append(sp.id)
        self.bookkeeping_s += time.perf_counter() - t0
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()

    def dump(self, path: str, stages: list[dict]) -> None:
        with open(path, "w") as fh:
            json.dump({"run_id": self.run_id,
                       "spans": [vars(s) for s in self.spans],
                       "stages": stages}, fh)


# --------------------------------------------------------------------------
# interval arithmetic
# --------------------------------------------------------------------------

def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """A span's self time: its duration minus the part of its interval
    that its child spans cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {s.id: s.dur - covered(kids.get(s.id, []), s.start, s.end) for s in spans}


# --------------------------------------------------------------------------
# Spark status store
# --------------------------------------------------------------------------

def pull_stages(spark) -> tuple[list[dict], list[dict]]:
    """All stages and jobs the status store holds, as dicts, in one call
    each (Jackson serializes them on the JVM side)."""
    jvm = spark._jvm
    store = spark.sparkContext._jsc.sc().statusStore()
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    scala_mod = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
    mapper.registerModule(getattr(scala_mod, "MODULE$"))
    no_quantiles = spark.sparkContext._gateway.new_array(jvm.double, 0)
    stages = json.loads(mapper.writeValueAsString(
        store.stageList(None, False, False, no_quantiles, None)))
    jobs = json.loads(mapper.writeValueAsString(store.jobsList(None)))
    keep = ("stageId", "attemptId", "status", "numTasks", "numFailedTasks",
            "submissionTime", "completionTime", "executorRunTime",
            "executorCpuTime", "jvmGcTime", "inputBytes", "inputRecords",
            "shuffleReadBytes", "shuffleWriteBytes", "memoryBytesSpilled",
            "diskBytesSpilled", "outputBytes", "outputRecords")
    stages = [{k: st.get(k) for k in keep} for st in stages
              if st.get("submissionTime") and st.get("status") != "SKIPPED"]
    jobs = [{k: j.get(k) for k in ("jobId", "submissionTime", "completionTime",
                                   "status", "stageIds")} for j in jobs]
    return stages, jobs


def descendants(spans: list[Span], root_id: int) -> list[int]:
    """Ids of ``root_id`` and every span below it."""
    kids: dict[int, list[int]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s.id)
    out, todo = [], [root_id]
    while todo:
        i = todo.pop()
        out.append(i)
        todo.extend(kids.get(i, []))
    return out


def assign_stages(spans: list[Span], stages: list[dict]) -> dict[int, list[dict]]:
    """Charge each stage to the innermost span open at its submission."""
    out: dict[int, list[dict]] = {}
    for st in stages:
        t = st["submissionTime"] / 1000.0
        best = None
        for s in spans:
            if s.start <= t <= s.end and (best is None or s.start >= best.start):
                best = s
        if best is not None:
            out.setdefault(best.id, []).append(st)
    return out


def in_windows(t_ms: float | None, windows: list[tuple[float, float]]) -> bool:
    return t_ms is not None and any(a <= t_ms / 1000.0 <= b for a, b in windows)


def spark_counters(stages: list[dict], jobs: list[dict],
                   windows: list[tuple[float, float]], cores: int) -> dict[str, float]:
    """The ``spark.*`` counters of the stages and jobs submitted inside
    ``windows`` (the requests' intervals)."""
    stages = [st for st in stages if in_windows(st["submissionTime"], windows)]
    jobs = [j for j in jobs if in_windows(j.get("submissionTime"), windows)]
    ms = lambda k: sum((st.get(k) or 0) for st in stages) / 1000.0  # noqa: E731
    busy = ms("executorRunTime")
    ids = {st["stageId"] for st in stages}
    intervals = [(st["submissionTime"] / 1000.0,
                  (st.get("completionTime") or st["submissionTime"]) / 1000.0)
                 for st in stages]
    wall_s = sum(b - a for a, b in windows)
    stage_time = sum(covered(intervals, a, b) for a, b in windows)
    return {
        "spark.jobs": len(jobs),
        "spark.stages": len(ids),
        "spark.tasks": sum(st.get("numTasks") or 0 for st in stages),
        "spark.failed_tasks": sum(st.get("numFailedTasks") or 0 for st in stages),
        "spark.stage_retries": sum(1 for st in stages if (st.get("attemptId") or 0) > 0),
        "spark.executor_busy_s": busy,
        "spark.executor_cpu_s": sum((st.get("executorCpuTime") or 0) for st in stages) / 1e9,
        "spark.gc_s": ms("jvmGcTime"),
        "spark.utilization": busy / (wall_s * cores) if wall_s > 0 else 0.0,
        "spark.driver_wait_s": max(0.0, wall_s - stage_time),
        "spark.shuffle_write_bytes": sum(st.get("shuffleWriteBytes") or 0 for st in stages),
        "spark.shuffle_read_bytes": sum(st.get("shuffleReadBytes") or 0 for st in stages),
        "spark.spill_bytes": sum((st.get("memoryBytesSpilled") or 0)
                                 + (st.get("diskBytesSpilled") or 0) for st in stages),
        "spark.input_bytes": sum(st.get("inputBytes") or 0 for st in stages),
    }


# --------------------------------------------------------------------------
# statistics
# --------------------------------------------------------------------------

def tail_percentile(xs: list[float], beyond: int = 10) -> tuple[float, float] | None:
    """The highest percentile with at least ``beyond`` samples above it,
    as (percentile, value) by the nearest-rank rule; None when there are
    not enough samples for any percentile to qualify."""
    n = len(xs)
    if n <= beyond:
        return None
    k = n - beyond                       # rank with exactly `beyond` samples after it
    pct = math.floor(100.0 * k / n)      # largest whole percentile whose rank is <= k
    rank = max(1, math.ceil(pct / 100.0 * n))
    return float(pct), sorted(xs)[rank - 1]
