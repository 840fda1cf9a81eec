"""Spans, Spark status-store counters and streaming progress.

Everything here lives in the benchmark: the program under test is
called through its public entry points and gets no tracing code.

- :class:`Tracer` records spans (name, layer, start, end, parent, and
  the call id shared by the spans of one call) in memory; ``dump``
  writes them out at the end.  When disabled, ``span`` costs one
  branch and records nothing.
- :func:`job_counters` reads the jobs of one Spark job group and their
  stages from the status store (works with ``spark.ui.enabled=false``).
- :class:`ProgressLog` is a ``StreamingQueryListener`` that keeps every
  micro-batch's progress.  It is attached in untraced runs too, because
  the micro-batch latency metric comes from it.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._stack: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str, layer: str, call_id: str | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": next(self._ids),
            "name": name,
            "layer": layer,
            "call_id": call_id or (parent["call_id"] if parent else None),
            "parent": parent["id"] if parent else None,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.spans.append(rec)

    def self_times(self, root: str) -> dict[str, float]:
        """Seconds per layer not covered by a child span, over the
        subtrees of the spans named ``root``."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        todo = [s for s in self.spans if s["name"] == root]
        while todo:
            s = todo.pop()
            kids = children.get(s["id"], [])
            own = s["end"] - s["start"] - sum(k["end"] - k["start"] for k in kids)
            out[s["layer"]] = out.get(s["layer"], 0.0) + own
            todo.extend(kids)
        return out

    def dump(self, path: str, **records) -> None:
        """Write the spans (times relative to the first span) and any
        other ``records`` as one JSON object."""
        t0 = min((s["start"] for s in self.spans), default=0.0)
        spans = [
            {**s, "start": s["start"] - t0, "end": s["end"] - t0}
            for s in sorted(self.spans, key=lambda s: s["start"])
        ]
        with open(path, "w") as fh:
            json.dump({"spans": spans, **records}, fh, indent=0, default=str)


def _opt(o, default=None):
    """Unwrap a py4j-proxied scala.Option."""
    return o.get() if o.isDefined() else default


COUNTERS = ("jobs", "stages", "tasks", "job_wall_s", "run_s", "cpu_s",
            "gc_s", "shuffle_bytes", "spill_bytes", "input_bytes")


def job_counters(spark, groups) -> dict:
    """Jobs, stages and task counters of the given job groups, summed.

    Times are seconds, sizes bytes.  ``job_wall_s`` sums each job's
    submission-to-completion wall; the caller subtracts it from the
    call's wall to get driver time between jobs.  Stages skipped
    because their shuffle output was reused never ran and add nothing.
    """
    from py4j.protocol import Py4JJavaError

    sc = spark._jsc.sc()
    sc.listenerBus().waitUntilEmpty()  # the store is fed asynchronously
    store = sc.statusStore()
    tracker = spark.sparkContext.statusTracker()
    out = dict.fromkeys(COUNTERS, 0)
    stage_ids = set()
    for group in groups:
        for jid in tracker.getJobIdsForGroup(group):
            j = store.job(jid)
            out["jobs"] += 1
            sub, done = _opt(j.submissionTime()), _opt(j.completionTime())
            if sub is not None and done is not None:
                out["job_wall_s"] += (done.getTime() - sub.getTime()) / 1000.0
            ids = j.stageIds()
            stage_ids.update(int(ids.apply(k)) for k in range(ids.size()))
    for sid in sorted(stage_ids):
        try:
            st = store.lastStageAttempt(sid)
        except Py4JJavaError:  # skipped stage: nothing stored
            continue
        if st.numCompleteTasks() == 0:
            continue
        out["stages"] += 1
        out["tasks"] += st.numCompleteTasks()
        out["run_s"] += st.executorRunTime() / 1000.0
        out["cpu_s"] += st.executorCpuTime() / 1e9
        out["gc_s"] += st.jvmGcTime() / 1000.0
        out["shuffle_bytes"] += st.shuffleReadBytes() + st.shuffleWriteBytes()
        out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        out["input_bytes"] += st.inputBytes()
    return out


class ProgressLog(StreamingQueryListener):
    """Collects ``StreamingQueryProgress`` of every micro-batch."""

    def __init__(self):
        self._lock = threading.Lock()
        self.progress: list = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        with self._lock:
            self.progress.append(event.progress)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def take(self) -> list:
        with self._lock:
            out, self.progress = self.progress, []
        return out


def batch_record(p) -> dict:
    """The per-micro-batch numbers the benchmark uses."""
    d = p.durationMs
    states = p.stateOperators or []
    return {
        "query": p.name or str(p.id),
        "run_id": str(p.runId),
        "batch": p.batchId,
        "input_rows": p.numInputRows,
        "trigger_ms": d.get("triggerExecution", 0),
        "add_batch_ms": d.get("addBatch", 0),
        "planning_ms": d.get("queryPlanning", 0),
        "commit_ms": d.get("walCommit", 0) + d.get("commitOffsets", 0),
        "offset_ms": d.get("latestOffset", 0) + d.get("getBatch", 0),
        "state_rows": sum(s.numRowsTotal for s in states),
        "state_bytes": sum(s.memoryUsedBytes for s in states),
        "state_partitions": sum(s.numShufflePartitions for s in states),
        "late_rows_dropped": sum(s.numRowsDroppedByWatermark for s in states),
    }
