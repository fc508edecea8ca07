"""Spans and Spark attribution for the traced run.

Spans are recorded only here, around calls into the package's public
functions; nothing in the package is instrumented.  Spark work is attributed
to a span by running the call under ``sc.setJobGroup(<group>)`` and reading
the group's jobs and stages back from the status store afterwards.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import time
from pathlib import Path


class Tracer:
    """In-memory span list; ``dump`` writes it out once, at the end of a run."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, rid: str, group: str | None = None, **attrs):
        """Record ``name`` around the block.  With ``group`` the block's Spark
        jobs are tagged with that job group and their stages become child
        ``spark.stage`` spans; the span's ``spark`` attribute sums them."""
        sid = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": sid, "name": name, "rid": rid, "parent": parent, **attrs}
        if group is not None:
            self.sc.setJobGroup(group, name, interruptOnCancel=False)
        self._stack.append(sid)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if group is not None:
                self.sc.setJobGroup(None, None)
                rec["spark"] = self._attribute(group, sid, rid)
            self.spans.append(rec)

    def add(self, name: str, rid: str, start: float, end: float, **attrs) -> None:
        """Record a span measured elsewhere (client-side wire timings)."""
        self.spans.append({"id": next(self._ids), "name": name, "rid": rid,
                           "parent": None, "start": start, "end": end, **attrs})

    def _attribute(self, group: str, parent: int, rid: str) -> dict:
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        out = {"jobs": 0, "stages": 0, "tasks": 0, "run_ms": 0,
               "shuffle_read": 0, "shuffle_write": 0, "spill": 0}
        for job in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(job)
            if info is None:
                continue
            out["jobs"] += 1
            for stage_id in info.stageIds:
                stage = store.lastStageAttempt(stage_id)
                if not stage.submissionTime().isDefined():
                    continue  # skipped: its output was reused from an earlier job
                out["stages"] += 1
                out["tasks"] += stage.numTasks()
                out["run_ms"] += stage.executorRunTime()
                out["shuffle_read"] += stage.shuffleReadBytes()
                out["shuffle_write"] += stage.shuffleWriteBytes()
                out["spill"] += stage.memoryBytesSpilled() + stage.diskBytesSpilled()
                end = stage.completionTime()
                self.spans.append({
                    "id": next(self._ids), "name": "spark.stage", "rid": rid,
                    "parent": parent, "stage": stage_id, "job": job,
                    "start": stage.submissionTime().get().getTime() / 1000,
                    "end": end.get().getTime() / 1000 if end.isDefined() else None,
                })
        return out

    def dump(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps(self.spans))


def maybe_span(tracer: Tracer | None, name: str, rid: str, group: str | None, **attrs):
    """``tracer.span(...)``, or a no-op context when tracing is off."""
    if tracer is None:
        return contextlib.nullcontext()
    return tracer.span(name, rid, group=group, **attrs)


def storage_bytes(sc) -> int:
    """Bytes Spark's block manager holds for cached/checkpointed RDDs."""
    return sum(r.memSize() + r.diskSize() for r in sc._jsc.sc().getRDDStorageInfo())


def python_eval_nodes(df) -> int:
    """Python/Arrow UDF evaluation nodes in the executed plan of ``df``."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.count("ArrowEvalPython") + plan.count("BatchEvalPython")


@contextlib.contextmanager
def patched(module, name: str, wrapper):
    """Temporarily replace ``module.name`` with ``wrapper(original)``."""
    original = getattr(module, name)
    setattr(module, name, wrapper(original))
    try:
        yield
    finally:
        setattr(module, name, original)


def timed_calls(tracer: Tracer, span_name: str, rid_of):
    """Wrapper factory: every call of the wrapped function becomes a span
    named ``span_name`` under the current request id ``rid_of()``."""
    def wrap(fn):
        def inner(*args, **kwargs):
            with tracer.span(span_name, rid_of()):
                return fn(*args, **kwargs)
        return inner
    return wrap


def stream_listener(spark, sink: dict):
    """Register a StreamingQueryListener that files each progress report
    under its query name in ``sink``; returns it for ``removeListener``."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Progress(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            sink.setdefault(p.name, []).append({
                "batch": p.batchId,
                "duration_ms": dict(p.durationMs),
                "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                "state_mem_bytes": sum(s.memoryUsedBytes for s in p.stateOperators),
            })

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = _Progress()
    spark.streams.addListener(listener)
    return listener
