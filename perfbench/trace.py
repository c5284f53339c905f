"""Spans, and readers for the metrics Spark already keeps.

Spans are recorded from the benchmark's own files around the calls into each
layer, kept in memory and written once at the end. Micro-batch spans are
rebuilt from ``StreamingQueryProgress`` records, with the ``durationMs`` parts
as children in the order ``MicroBatchExecution`` runs them. Stage metrics come
from the status store, which Spark fills even with the UI disabled.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import itertools
import json
import time

# MicroBatchExecution's phases in execution order.
_PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")


class Tracer:
    """In-memory spans of one workload run; a no-op when disabled."""

    def __init__(self, trace_id: str, enabled: bool):
        self.trace_id = trace_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._stack: list[int] = []

    def add(self, name: str, start: float, end: float, parent: int | None = None, **attrs) -> int:
        """Record a finished span (epoch seconds); returns its id."""
        if not self.enabled:
            return 0
        sid = next(self._ids)
        if parent is None and self._stack:
            parent = self._stack[-1]
        self.spans.append(
            {"id": sid, "trace": self.trace_id, "name": name, "start": start, "end": end, "parent": parent, **attrs}
        )
        return sid

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        sid = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        start = time.time()
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans.append(
                {"id": sid, "trace": self.trace_id, "name": name, "start": start, "end": time.time(), "parent": parent, **attrs}
            )

    def add_batches(self, progress: list[dict], parent: int | None) -> None:
        """One span per micro-batch progress record, phases as children."""
        for p in progress:
            start = dt.datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
            dur = p["durationMs"]
            bid = self.add(
                "microbatch",
                start,
                start + dur.get("triggerExecution", 0) / 1000,
                parent,
                batch=p["batchId"],
                input_rows=p["numInputRows"],
            )
            t = start
            for phase in _PHASES:
                if phase in dur:
                    self.add(phase, t, t + dur[phase] / 1000, bid)
                    t += dur[phase] / 1000

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"trace": self.trace_id, **extra, "spans": sorted(self.spans, key=lambda s: s["start"])}, f)


def wait_for_listeners(spark) -> None:
    """Block until the listener bus has delivered every event, so the status
    store holds the stages of jobs that already returned."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def last_stage_id(spark) -> int:
    stages = _stage_list(spark)
    return max((stages.apply(i).stageId() for i in range(stages.size())), default=-1)


def _stage_list(spark):
    sc = spark.sparkContext
    jvm = sc._jvm
    return sc._jsc.sc().statusStore().stageList(
        jvm.java.util.ArrayList(), False, False, sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList()
    )


def stages_after(spark, stage_id: int) -> list[dict]:
    """Metrics of every stage with an id above `stage_id`."""
    wait_for_listeners(spark)
    stages = _stage_list(spark)
    out = []
    for i in range(stages.size()):
        s = stages.apply(i)
        if s.stageId() <= stage_id:
            continue
        out.append(
            {
                "id": s.stageId(),
                "skipped": s.status().toString() == "SKIPPED",
                "tasks": s.numTasks(),
                "run_s": s.executorRunTime() / 1e3,
                "cpu_s": s.executorCpuTime() / 1e9,
                "gc_s": s.jvmGcTime() / 1e3,
                "shuffle_read": s.shuffleReadBytes(),
                "shuffle_write": s.shuffleWriteBytes(),
                "spill": s.memoryBytesSpilled() + s.diskBytesSpilled(),
            }
        )
    return out


def stage_totals(stages: list[dict]) -> dict[str, float]:
    run = sum(s["run_s"] for s in stages)
    cpu = sum(s["cpu_s"] for s in stages)
    return {
        "count": len(stages),
        "tasks": sum(s["tasks"] for s in stages if not s["skipped"]),
        "skipped": sum(s["skipped"] for s in stages),
        "run_s": run,
        "cpu_s": cpu,
        "run_cpu_ratio": run / cpu if cpu else 0.0,
        "shuffle_read_bytes": sum(s["shuffle_read"] for s in stages),
        "shuffle_write_bytes": sum(s["shuffle_write"] for s in stages),
        "spill_bytes": sum(s["spill"] for s in stages),
        "gc_s": sum(s["gc_s"] for s in stages),
    }
