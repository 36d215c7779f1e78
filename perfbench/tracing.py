"""Outside-in tracing for the benchmark: spans, Spark counters, residue.

Spans are timed from the benchmark's side of each call into the program
(session start, a query builder, an action, a pipeline stage, a streaming
runner, a direct operator probe). They live in memory and are written out
once, when the run ends. Counters come from Spark's own status stores, which
are populated with the UI off.
"""

from __future__ import annotations

import json
import os
import re
import resource
import time
from collections import defaultdict
from contextlib import contextmanager

_PYTHON_NODE = re.compile(r"Python|Pandas|InArrow")


class Tracer:
    """Records ``(name, start, end, parent, run_id)`` spans when enabled;
    a disabled tracer's ``span`` costs one generator step."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        rec = {
            "id": idx,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the time its children cover."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s["name"]] += s["end"] - s["start"] - child[s["id"]]
        return dict(out)

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "self_s": self.self_times(), **extra}, fh)


class SparkCounters:
    """Per-op execution counters read after the op from the scheduler's
    status tracker (jobs, stages, tasks), the app status store (shuffle
    write, spill) and the SQL status store (executed plan nodes). Call
    ``start`` before the op and ``collect`` after it."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.app_store = self.sc._jsc.sc().statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self._mark = -1

    def _execution(self, i: int):
        return self.sql_store.executionsList(i, 1).head()

    def start(self) -> None:
        n = self.sql_store.executionsCount()
        self._mark = self._execution(n - 1).executionId() if n else -1

    def _new_executions(self) -> list:
        """SQL executions that began after ``start``, newest first (the
        store lists them by ascending id)."""
        out = []
        for i in range(self.sql_store.executionsCount() - 1, -1, -1):
            e = self._execution(i)
            if e.executionId() <= self._mark:
                break
            out.append(e)
        return out

    def collect(self, group: str) -> dict[str, float]:
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        stage_ids = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        tasks = shuffle = spill = 0
        for s in stage_ids:
            try:
                data = self.app_store.lastStageAttempt(s)
            except Exception:  # stage skipped, so the store never saw an attempt
                continue
            tasks += data.numTasks()
            shuffle += data.shuffleWriteBytes()
            spill += data.memoryBytesSpilled() + data.diskBytesSpilled()
        exchanges = python_nodes = 0
        for e in self._new_executions():
            nodes = self.sql_store.planGraph(e.executionId()).allNodes()
            for i in range(nodes.size()):
                name = nodes.apply(i).name()
                exchanges += name.endswith("Exchange")
                python_nodes += bool(_PYTHON_NODE.search(name))
        return {
            "exec.jobs": len(jobs),
            "exec.stages": len(stage_ids),
            "exec.tasks": tasks,
            "exec.exchanges": exchanges,
            "exec.python_nodes": python_nodes,
            "exec.shuffle_write_mb": shuffle / 2**20,
            "exec.spill_mb": spill / 2**20,
        }


def residue(spark) -> tuple[int, float]:
    """(persisted RDD count, cached MB in memory and on disk) right now."""
    sc = spark.sparkContext
    rdds = sc._jsc.sc().statusStore().rddList(True)
    used = sum(rdds.apply(i).memoryUsed() + rdds.apply(i).diskUsed() for i in range(rdds.size()))
    return sc._jsc.getPersistentRDDs().size(), used / 2**20


def peak_rss_mb(spark) -> float:
    """Peak resident set of this Python process plus the driver JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    proc = spark.sparkContext._gateway.proc
    if proc is not None:
        with open(f"/proc/{proc.pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024


def dir_bytes(path: str) -> tuple[int, int]:
    """(total bytes, file count) under ``path``."""
    total = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            try:
                total += os.path.getsize(os.path.join(root, n))
                files += 1
            except OSError:  # a shuffle file removed while walking
                pass
    return total, files
