"""In-memory layer spans with Spark job/stage/task counters.

A :class:`Tracer` records one span per layer call: name, start, end, parent
span and run id.  Each span runs inside its own Spark job group, so once
the run is over (``collect``) the jobs each span launched are read back from
``statusTracker()`` and their stages from Spark's status store (executor-run
time, GC, shuffle, spill), which both work with the UI disabled.  Spans stay
in memory and are written out once, when the benchmark ends.

A disabled tracer (``Tracer(spark, enabled=False)``) makes ``span`` a
plain no-op, so the untraced run pays nothing for the instrumentation.
"""

from __future__ import annotations

import contextlib
import json
import time
import uuid

STAGE_COUNTERS = ("exec_run_ms", "gc_ms", "shuffle_bytes", "spill_bytes")


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        """Time one layer call.  Yields the span dict, whose
        ``extra_groups`` list takes further job groups whose jobs belong to
        the span (a streaming query tags its jobs with its run id)."""
        sp = {"name": name, "run_id": self.run_id, "extra_groups": []}
        if not self.enabled:
            yield sp
            return
        sc = self.spark.sparkContext
        idx = len(self.spans)
        group = f"pb-{self.run_id}-{idx}"
        sp["parent"] = self._stack[-1] if self._stack else None
        sp["group"] = group
        self.spans.append(sp)
        self._stack.append(idx)
        outer = self.spans[sp["parent"]]["group"] if sp["parent"] is not None else None
        sc.setJobGroup(group, name)
        sp["start"] = time.time()
        try:
            yield sp
        finally:
            sp["end"] = time.time()
            self._stack.pop()
            if outer is None:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            else:
                sc.setJobGroup(outer, self.spans[sp["parent"]]["name"])
            sp["groups"] = [group, *sp.pop("extra_groups")]

    def collect(self) -> None:
        """Resolve every span's Spark counters (after the listener bus has
        delivered all events).  A parent's counters include its children's."""
        if not self.enabled or not self.spans:
            return
        sc = self.spark.sparkContext
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        own: dict[int, dict] = {}
        for i, sp in enumerate(self.spans):
            jobs = sorted(
                {j for g in sp["groups"] for j in tracker.getJobIdsForGroup(g)}
            )
            own[i] = _job_counters(tracker, store, jobs)
        for i, sp in enumerate(self.spans):
            tot = dict(own[i])
            for j in self._descendants(i):
                for k, v in own[j].items():
                    tot[k] += v
            sp["spark"] = tot

    def _descendants(self, i: int) -> list[int]:
        out, todo = [], [i]
        while todo:
            p = todo.pop()
            kids = [j for j, s in enumerate(self.spans) if s.get("parent") == p]
            out += kids
            todo += kids
        return out

    def get(self, name: str) -> dict:
        """The last span with this name."""
        for sp in reversed(self.spans):
            if sp["name"] == name:
                return sp
        raise KeyError(name)

    def seconds(self, name: str) -> float:
        sp = self.get(name)
        return sp["end"] - sp["start"]

    def top_level_seconds(self, start: float, end: float) -> float:
        """Wall time inside [start, end] covered by root spans."""
        return sum(
            min(sp["end"], end) - max(sp["start"], start)
            for sp in self.spans
            if sp["parent"] is None and sp["end"] > start and sp["start"] < end
        )

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps(sp, sort_keys=True) + "\n")


def _job_counters(tracker, store, job_ids: list[int]) -> dict:
    c = {"jobs": len(job_ids), "stages": 0, "tasks": 0, "failed_tasks": 0}
    c.update({k: 0 for k in STAGE_COUNTERS})
    for jid in job_ids:
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        for sid in info.stageIds:
            attempts = store.stageData(int(sid), False, None, False, None)
            for a in range(attempts.size()):
                sd = attempts.apply(a)
                if str(sd.status()) == "SKIPPED":
                    continue
                c["stages"] += 1
                c["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
                c["failed_tasks"] += sd.numFailedTasks()
                c["exec_run_ms"] += sd.executorRunTime()
                c["gc_ms"] += sd.jvmGcTime()
                c["shuffle_bytes"] += sd.shuffleReadBytes() + sd.shuffleWriteBytes()
                c["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
    return c
