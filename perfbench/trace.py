"""Spans around the benchmark's calls into each layer, with Spark stage data.

Each span runs its Spark jobs under its own job group. When the run ends,
``finish`` reads the jobs of every group from ``statusTracker()`` and, for
each stage, executor run time, tasks, failed tasks and input / shuffle /
spill / output bytes from the SparkContext status store (works with the UI
disabled). Stage time is attributed to program modules by the file of each
stage's call site. Spans stay in memory and are written once, at the end.
"""

from __future__ import annotations

import json
import re
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

from .env import PACKAGE

_CALL_SITE = re.compile(r" at (\S+?\.py):\d+")


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    group: str
    start: float
    end: float = 0.0
    job_ids: list[int] = field(default_factory=list)
    stages: list[dict] = field(default_factory=list)

    @property
    def wall_s(self) -> float:
        return self.end - self.start


def module_of(stage_name: str) -> str:
    """'collect at .../information_retrieval_project_spark/index/bucketing.py:28'
    -> 'index.bucketing'; call sites outside the package -> 'benchmark'."""
    m = _CALL_SITE.search(stage_name)
    if not m or f"/{PACKAGE}/" not in m.group(1):
        return "benchmark"
    rel = m.group(1).split(f"/{PACKAGE}/", 1)[1]
    return rel[: -len(".py")].replace("/", ".")


class Tracer:
    def __init__(self, spark, run_id: str) -> None:
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(
            id=len(self.spans),
            name=name,
            parent=parent.id if parent else None,
            group=f"{self.run_id}-{len(self.spans)}",
            start=time.perf_counter(),
        )
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(s.group, name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent:
                self.sc.setJobGroup(parent.group, parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            s.job_ids = sorted(self.sc.statusTracker().getJobIdsForGroup(s.group))

    def children(self, span: Span) -> list[Span]:
        return [c for c in self.spans if c.parent == span.id]

    def self_s(self, span: Span) -> float:
        return span.wall_s - sum(c.wall_s for c in self.children(span))

    def finish(self, timeout_s: float = 15.0) -> None:
        """Wait for the listener bus to report every stage, then read them."""
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        stage_ids: dict[int, list[int]] = {}
        for s in self.spans:
            ids = []
            for j in s.job_ids:
                info = tracker.getJobInfo(j)
                if info is not None:
                    ids.extend(info.stageIds)
            stage_ids[s.id] = sorted(set(ids))
        wanted = sorted({i for ids in stage_ids.values() for i in ids})
        data: dict[int, dict] = {}
        deadline = time.monotonic() + timeout_s
        while True:
            for sid in wanted:
                if sid in data:
                    continue
                try:
                    sd = store.lastStageAttempt(sid)
                except Py4JJavaError:  # not yet posted by the listener bus
                    continue
                status = sd.status().toString()
                if status in ("ACTIVE", "PENDING"):
                    continue
                data[sid] = {
                    "stage": sid,
                    "status": status,
                    "name": sd.name(),
                    "module": module_of(sd.name()),
                    "tasks": int(sd.numTasks()) if status != "SKIPPED" else 0,
                    "failed_tasks": int(sd.numFailedTasks()),
                    "run_s": sd.executorRunTime() / 1000.0,
                    "input_bytes": int(sd.inputBytes()),
                    "output_bytes": int(sd.outputBytes()),
                    "shuffle_read_bytes": int(sd.shuffleReadBytes()),
                    "shuffle_write_bytes": int(sd.shuffleWriteBytes()),
                    "spill_bytes": int(sd.memoryBytesSpilled() + sd.diskBytesSpilled()),
                }
            if len(data) == len(wanted) or time.monotonic() > deadline:
                break
            time.sleep(0.1)
        for s in self.spans:
            s.stages = [data[i] for i in stage_ids[s.id] if i in data]

    def totals(self, span: Span) -> dict:
        """Stage sums of one span (its child spans' jobs are in their groups)."""
        run = [st for st in span.stages if st["status"] != "SKIPPED"]
        out = {
            "jobs": len(span.job_ids),
            "stages": len(run),
            "tasks": sum(st["tasks"] for st in run),
            "busy_s": sum(st["run_s"] for st in run),
        }
        for key in (
            "failed_tasks",
            "input_bytes",
            "output_bytes",
            "shuffle_read_bytes",
            "shuffle_write_bytes",
            "spill_bytes",
        ):
            out[key] = sum(st[key] for st in run)
        return out

    def dump(self, path: str) -> None:
        out = []
        for s in self.spans:
            by_module: dict[str, float] = {}
            for st in s.stages:
                by_module[st["module"]] = by_module.get(st["module"], 0.0) + st["run_s"]
            out.append(
                {
                    "id": s.id,
                    "name": s.name,
                    "parent": s.parent,
                    "start_s": s.start,
                    "end_s": s.end,
                    "self_s": self.self_s(s),
                    "totals": self.totals(s),
                    "busy_s_by_module": by_module,
                    "stages": s.stages,
                }
            )
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": out}, f, indent=1)
