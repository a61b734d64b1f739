"""Spans with Spark job/stage/task counts, recorded from the benchmark
side of the engine's public calls.

A span is opened around one call into a layer (``Tracer.span``), or by
wrapping a bound method on an instance (``Tracer.wrap``): the engine
resolves ``self.gate.process_batch`` through the instance, so the
wrapper sees every call without any change to the program. Each span
runs its Spark jobs under its own job group; on exit the previous
group is restored and the group's jobs, stages and tasks are read back
from ``statusTracker``. Counts are therefore per span, never shared
with a child span. Spans stay in memory until ``dump``.
"""

from __future__ import annotations

import json
import statistics
import threading
import time
from contextlib import contextmanager

_GROUP_KEYS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")


class Tracer:
    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        self._status = self._sc.statusTracker()
        self._local = threading.local()
        self._seq = 0
        self.t0 = time.monotonic()
        self.spans: list[dict] = []
        self.progress: list[dict] = []

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, trace_id):
        stack = self._stack()
        parent = stack[-1] if stack else None
        self._seq += 1
        group = f"perfbench-span-{self._seq}"
        saved = {k: self._sc.getLocalProperty(k) for k in _GROUP_KEYS}
        self._sc.setJobGroup(group, name)
        rec = {
            "id": self._seq,
            "name": name,
            "trace_id": str(trace_id),
            "parent": parent["id"] if parent else None,
            "start": time.monotonic() - self.t0,
        }
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.monotonic() - self.t0
            stack.pop()
            for k, v in saved.items():
                self._sc.setLocalProperty(k, v)
            rec.update(self._counts(group))
            self.spans.append(rec)

    def _counts(self, group: str) -> dict:
        jobs = stages = tasks = 0
        for jid in self._status.getJobIdsForGroup(group):
            info = self._status.getJobInfo(jid)
            if info is None:
                continue
            jobs += 1
            for sid in info.stageIds:
                st = self._status.getStageInfo(sid)
                # skipped stages (shuffle output reused) ran no task
                if st is not None and st.numCompletedTasks > 0:
                    stages += 1
                    tasks += st.numCompletedTasks
        return {"jobs": jobs, "stages": stages, "tasks": tasks}

    def wrap(self, obj, method: str, name: str, trace_id_arg: int | None = 1) -> None:
        """Shadow ``obj.<method>`` with a spanned call. The trace id is
        the positional argument at ``trace_id_arg`` (the batch id of a
        ``process_batch(df, batch_id)``), or the enclosing span's."""
        inner = getattr(obj, method)

        def traced(*args, **kwargs):
            if trace_id_arg is not None and len(args) > trace_id_arg:
                tid = args[trace_id_arg]
            else:
                stack = self._stack()
                tid = stack[-1]["trace_id"] if stack else "-"
            with self.span(name, tid):
                return inner(*args, **kwargs)

        setattr(obj, method, traced)

    # ---- derived numbers --------------------------------------------
    def self_times(self) -> None:
        """Set ``dur`` and ``self_s`` (duration minus the part covered by
        child spans) on every span."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            s["dur"] = s["end"] - s["start"]
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        for s in self.spans:
            covered = 0.0
            for c in children.get(s["id"], []):
                covered += c["end"] - c["start"]
            s["self_s"] = s["dur"] - covered

    def by_name(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def subtree(self, root: dict) -> list[dict]:
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out, todo = [], [root]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(kids.get(s["id"], []))
        return out

    def per_trace(self, name: str, field: str) -> dict[str, float]:
        """``field`` summed per trace id over spans called ``name``."""
        acc: dict[str, float] = {}
        for s in self.by_name(name):
            acc[s["trace_id"]] = acc.get(s["trace_id"], 0.0) + s[field]
        return acc

    def p50(self, name: str, field: str, trace_ids) -> float:
        """Median over ``trace_ids`` of the per-trace sum of ``field``
        (0 for a trace in which the span never ran)."""
        acc = self.per_trace(name, field)
        vals = [acc.get(str(t), 0.0) for t in trace_ids]
        return float(statistics.median(vals)) if vals else 0.0

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w", encoding="utf-8") as f:
            json.dump({**extra, "spans": self.spans, "progress": self.progress}, f, indent=1)


def progress_listener(tracer: Tracer):
    """A ``StreamingQueryListener`` that keeps each micro-batch's
    ``durationMs`` breakdown (Structured Streaming's progress model)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Progress(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            tracer.progress.append(
                {
                    "run_id": str(p.runId),
                    "batch_id": p.batchId,
                    "num_input_rows": p.numInputRows,
                    "duration_ms": dict(p.durationMs),
                }
            )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return _Progress()


def trigger_overhead_p50(spark, tracer: Tracer, listener, query, batch_ids: list[int]) -> float:
    """Median over ``batch_ids`` of ``triggerExecution - addBatch``
    seconds: the micro-batch engine's own cost around the foreachBatch
    body. Waits for the asynchronous listener bus to deliver the
    batches' progress events, then removes ``listener``."""
    run_id = str(query.runId)
    want = set(batch_ids)
    deadline = time.monotonic() + 10
    while time.monotonic() < deadline and not want <= {
        p["batch_id"] for p in tracer.progress if p["run_id"] == run_id
    }:
        time.sleep(0.05)
    spark.streams.removeListener(listener)
    out = []
    for p in tracer.progress:
        d = p["duration_ms"]
        if p["run_id"] == run_id and p["batch_id"] in want and "addBatch" in d:
            out.append((d["triggerExecution"] - d["addBatch"]) / 1000.0)
    return statistics.median(out) if out else 0.0
