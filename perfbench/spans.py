"""In-memory spans with Spark stage metrics attributed per span.

Each span runs its Spark jobs under its own job group, set with
``setJobGroup(g, g)``. ``StageData`` in pyspark 4.1 has no
``jobGroup()``, so stages are found per group through
``statusTracker().getJobIdsForGroup(g)`` and each job's ``stageIds``.
Their metrics come from the status store (``lastStageAttempt``),
which works with ``spark.ui.enabled=false``.

A span's job metrics are its own: jobs started inside a child span
belong to the child's group. Durations are inclusive; ``self_s`` is
the duration minus the part covered by child spans.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

# the stage status the store reports for stages that ran tasks
_RAN = ("COMPLETE", "FAILED")


class Tracer:
    """Records spans and their job groups; ``enabled=False`` keeps only
    the per-execution group (for end-to-end cpu/shuffle) and records
    no layer spans."""

    def __init__(self, spark, run_id: str, enabled: bool):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._next = 0

    def _set_group(self, group: str | None) -> None:
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(group, group)

    @contextmanager
    def span(self, name: str, layer: bool = True):
        """Open a span. ``layer=False`` marks the per-execution root,
        which is recorded even when layer tracing is off."""
        if layer and not self.enabled:
            yield None
            return
        self._next += 1
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "span_id": self._next,
               "parent": parent["span_id"] if parent else None,
               "run_id": self.run_id,
               "group": f"{self.run_id}:{self._next}:{name}",
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec)
        self._set_group(rec["group"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(parent["group"] if parent else None)

    def collect(self, recs: list[dict], task_quantiles: bool = True) -> None:
        """Attach stage metrics to finished spans. Call after the
        execution, outside any timed window: it drains the listener bus
        so the status store has every stage end event.
        ``task_quantiles`` adds the median and max task run time."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        gw = self.sc._gateway
        quantiles = None
        if task_quantiles:
            quantiles = gw.new_array(gw.jvm.double, 2)
            quantiles[0], quantiles[1] = 0.5, 1.0
        for rec in recs:
            jobs = tracker.getJobIdsForGroup(rec["group"])
            stage_ids = set()
            for j in jobs:
                info = tracker.getJobInfo(j)
                if info is not None:
                    stage_ids.update(info.stageIds)
            rec["jobs"] = len(jobs)
            rec["stage_ids"] = sorted(stage_ids)
            rec["stages"] = [m for m in (_stage_metrics(store, s, quantiles)
                                         for s in sorted(stage_ids)) if m]


def _stage_metrics(store, stage_id: int, quantiles) -> dict | None:
    try:
        sd = store.lastStageAttempt(stage_id)
    except Py4JJavaError:  # evicted from the store (retainedStages)
        return None
    if sd.status().toString() not in _RAN:
        return None  # skipped: a reused shuffle, no tasks ran
    out = {
        "stage_id": stage_id,
        "tasks": sd.numTasks(),
        "run_s": sd.executorRunTime() / 1e3,
        "cpu_s": sd.executorCpuTime() / 1e9,
        "gc_s": sd.jvmGcTime() / 1e3,
        "fetch_wait_s": sd.shuffleFetchWaitTime() / 1e3,
        "shuffle_write_b": sd.shuffleWriteBytes(),
        "output_b": sd.outputBytes(),
    }
    if quantiles is None or sd.numTasks() < 2:
        return out
    q = store.taskSummary(stage_id, sd.attemptId(), quantiles)
    if q.isDefined():
        d = q.get().executorRunTime()
        out["task_p50_s"] = d.apply(0) / 1e3
        out["task_max_s"] = d.apply(1) / 1e3
    return out


def totals(rec: dict) -> dict:
    """Sum a span's own stage metrics."""
    st = rec.get("stages", [])
    return {k: sum(s[k] for s in st)
            for k in ("run_s", "cpu_s", "gc_s", "fetch_wait_s",
                      "shuffle_write_b", "output_b")}


def task_skew(rec: dict) -> float:
    """max / median task run time of the span's heaviest stage."""
    st = [s for s in rec.get("stages", []) if "task_max_s" in s]
    if not st:
        return 1.0
    s = max(st, key=lambda s: s["run_s"])
    return s["task_max_s"] / max(s["task_p50_s"], 1e-3)


def self_times(recs: list[dict]) -> dict[int, float]:
    """span_id -> duration minus the union of its children's intervals
    (children of one parent never overlap: execution is sequential)."""
    out = {r["span_id"]: r["end"] - r["start"] for r in recs}
    for r in recs:
        if r["parent"] is not None and r["parent"] in out:
            out[r["parent"]] -= r["end"] - r["start"]
    return out


def write_jsonl(path: str, recs: list[dict]) -> None:
    with open(path, "w") as f:
        for r in recs:
            f.write(json.dumps({k: r[k] for k in (
                "name", "span_id", "parent", "run_id", "start", "end")}
                | {"jobs": r.get("jobs"), "stage_ids": r.get("stage_ids")})
                + "\n")
