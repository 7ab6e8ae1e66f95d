"""In-memory spans plus Spark job-group counters for traced runs.

Every call the benchmark makes into a layer runs inside ``Tracer.span``.
With tracing on, each span is tagged with its own Spark job group
(``sc.setJobGroup``), and when it ends the tracer reads, from outside
the engine, what Spark did under that group: job, stage and task counts
from ``statusTracker()`` and executor time, GC, shuffle, spill and input
bytes from the application status store. Spans stay in memory and are
written out once, when the run ends. With tracing off a span only
records its wall time.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

COUNTERS = (
    "jobs", "stages", "tasks", "executor_run_s", "gc_s",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "input_bytes",
)


@dataclass
class Span:
    span_id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    counters: dict = field(default_factory=dict)
    error: str | None = None

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Span recorder for one benchmark run (``run_id`` tags every span)."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._spark = None

    def attach(self, spark) -> None:
        """Start reading job-group counters from ``spark``."""
        self._spark = spark

    @contextmanager
    def span(self, name: str, counted: bool = True):
        """Time the block; with tracing on and ``counted``, tag its Spark
        jobs with a fresh job group and read their counters at exit.
        Job groups do not nest, so ``counted`` spans must not enclose one
        another; an outer grouping span passes ``counted=False``."""
        s = Span(len(self.spans), name, self._stack[-1] if self._stack else None,
                 time.perf_counter())
        self.spans.append(s)
        self._stack.append(s.span_id)
        group = f"{self.run_id}:{s.span_id}"
        sc = self._spark.sparkContext if (self._spark and self.enabled and counted) else None
        if sc is not None:
            sc.setJobGroup(group, name)
        try:
            yield s
        except Exception as ex:
            s.error = f"{type(ex).__name__}: {ex}"[:500]
            raise
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if sc is not None:
                sc._jsc.clearJobGroup()
                s.counters = job_group_counters(sc, group)

    def self_seconds(self, span: Span) -> float:
        """Span duration minus the part its direct children cover."""
        kids = sorted((c.start, c.end) for c in self.spans if c.parent == span.span_id)
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in kids:
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        return span.seconds - covered

    def write(self, path: str, config: dict) -> None:
        out = {
            "run_id": self.run_id,
            "config": config,
            "spans": [
                {**asdict(s), "seconds": s.seconds, "self_seconds": self.self_seconds(s)}
                for s in self.spans
            ],
        }
        with open(path, "w", encoding="utf-8") as f:
            json.dump(out, f, indent=1)


def job_group_counters(sc, group: str) -> dict:
    """Totals over every job Spark ran under ``group``."""
    jsc = sc._jsc.sc()
    # the status store is fed by the asynchronous listener bus: drain it
    # so the jobs that just finished are fully recorded
    jsc.listenerBus().waitUntilEmpty(10_000)
    tracker = sc.statusTracker()
    store = jsc.statusStore()
    gw = sc._gateway
    no_quantiles = gw.new_array(gw.jvm.double, 0)
    no_status = gw.jvm.java.util.ArrayList()
    out = dict.fromkeys(COUNTERS, 0)
    seen_stages: set[int] = set()
    for job_id in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(job_id)
        if info is None:
            continue
        out["jobs"] += 1
        for stage_id in info.stageIds:
            if stage_id in seen_stages:
                continue
            seen_stages.add(stage_id)
            attempts = store.stageData(stage_id, False, no_status, False, no_quantiles)
            for i in range(attempts.size()):
                sd = attempts.apply(i)
                if str(sd.status()) == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += sd.numCompleteTasks()
                out["executor_run_s"] += sd.executorRunTime() / 1000.0
                out["gc_s"] += sd.jvmGcTime() / 1000.0
                out["shuffle_read_bytes"] += sd.shuffleReadBytes()
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                out["input_bytes"] += sd.inputBytes()
    return out
