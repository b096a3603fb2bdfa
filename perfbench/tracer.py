"""Per-call Spark counters for the traced run.

Each call gets its own job group. Before the call the tracer drains the
listener bus and skips every job the benchmark ran since the last call
(its checks and untimed preparation). After the call it drains the bus
again and reads every job and stage the call created from the driver's
status store through py4j; the store is kept with the UI off. Jobs and
stages are read in bulk, serialised to JSON inside the JVM, because one
py4j round trip per field costs seconds per call on a busy machine.
The counters:

- ``jobs``: jobs in the call's job group;
- ``jobs_ungrouped``: jobs the call started outside its group (for
  example from a background thread that did not inherit the group);
- ``stages``: stages of those jobs that ran (skipped stages excluded);
- ``driver_only_s``: call wall time minus the union of all its job
  intervals, i.e. time no job was running;
- ``task_s``: summed executor run time of those stages;
- ``shuffle_write_bytes``: summed shuffle write of those stages;
- ``driver_cpu_s``: CPU time of this Python process during the call.

The session must retain enough jobs and stages for one call
(``RETAIN_CONF``), or the store drops them before they are read.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

RETAIN_CONF = {
    "spark.ui.retainedJobs": "100000",
    "spark.ui.retainedStages": "100000",
}


class Tracer:
    """Attributes Spark jobs and stages to one call at a time."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        gw = self.sc._gateway
        # the status API's own JSON mapping, as Spark's REST API uses it
        scala_module = getattr(gw.jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._json = gw.jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._json.registerModule(getattr(scala_module, "MODULE$"))
        # stageList's Scala default arguments, spelled out for py4j
        self._no_status = gw.jvm.java.util.ArrayList()
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)
        self._next_job = 0
        self._next_stage = 0
        self.overhead_s = 0.0  # time spent inside the tracer's own hooks

    def _read(self, seq) -> list[dict]:
        return json.loads(self._json.writeValueAsString(seq))

    def _new_jobs(self) -> list[dict]:
        """Every job created since the last call, drained from the bus."""
        self._bus.waitUntilEmpty()
        jobs = self._read(self._store.jobsList(None))
        return [j for j in jobs if j["jobId"] >= self._next_job]

    def _skip(self, jobs: list[dict]) -> None:
        """Move the first job and stage id a call can own past ``jobs``."""
        self._next_job = max([self._next_job] + [j["jobId"] + 1 for j in jobs])
        self._next_stage = max(
            [self._next_stage] + [s + 1 for j in jobs for s in j["stageIds"]]
        )

    @contextmanager
    def call(self, name: str):
        """Run the body as one traced call; yields a dict filled on exit."""
        t = time.perf_counter()
        self._skip(self._new_jobs())
        group = f"perfbench:{name}:{self._next_job}"
        self.sc.setJobGroup(group, name)
        self.overhead_s += time.perf_counter() - t
        out: dict = {}
        wall0, cpu0 = time.time(), time.process_time()
        try:
            yield out
        finally:
            wall1, cpu1 = time.time(), time.process_time()
            t = time.perf_counter()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            out.update(self._collect(group, wall0, wall1))
            out["driver_cpu_s"] = cpu1 - cpu0
            self.overhead_s += time.perf_counter() - t

    def _collect(self, group: str, wall0: float, wall1: float) -> dict:
        jobs = self._new_jobs()
        grouped = sum(1 for j in jobs if j.get("jobGroup") == group)
        intervals = []
        for j in jobs:
            if j.get("submissionTime") is not None:
                start = j["submissionTime"] / 1000.0
                end = j.get("completionTime")
                stop = end / 1000.0 if end is not None else wall1
                intervals.append((max(start, wall0), min(stop, wall1)))
        own = {s for j in jobs for s in j["stageIds"] if s >= self._next_stage}
        stages = task_ms = shuffle = 0
        if own:
            every = self._read(
                self._store.stageList(
                    None, False, False, self._no_quantiles, self._no_status
                )
            )
            for attempt in every:
                if attempt["stageId"] in own and attempt["status"] != "SKIPPED":
                    stages += 1
                    task_ms += attempt["executorRunTime"]
                    shuffle += attempt["shuffleWriteBytes"]
        self._skip(jobs)
        return {
            "jobs": grouped,
            "jobs_ungrouped": len(jobs) - grouped,
            "stages": stages,
            "driver_only_s": max(0.0, (wall1 - wall0) - _union(intervals)),
            "task_s": task_ms / 1000.0,
            "shuffle_write_bytes": shuffle,
        }


def _union(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of [start, end] intervals."""
    total, cur_start, cur_end = 0.0, None, None
    for start, end in sorted(i for i in intervals if i[1] > i[0]):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total
