"""Spans and counts recorded around the benchmark's calls into each layer.

A span records its name, start, end, parent span and op id; spans are
kept in memory and written out when the run ends. A layer's self time is
its span minus the part its child spans cover. With tracing off every
call is a no-op, so untraced runs pay nothing but a function call.
"""

from __future__ import annotations

import json
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id: int | None = None
        # metric name -> one value per op (or per event) that produced it
        self.samples: dict[str, list[float]] = defaultdict(list)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op_id,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def timed(self, name: str, fn, *args, **kwargs):
        """``fn(*args, **kwargs)`` inside a span named ``name``."""
        with self.span(name):
            return fn(*args, **kwargs)

    def add(self, metric: str, value: float) -> None:
        if self.enabled:
            self.samples[metric].append(float(value))

    def op_ms(self, op_id: int, name: str) -> float:
        """Total ms of spans called ``name`` inside op ``op_id``."""
        return sum(
            (s["end"] - s["start"]) * 1e3
            for s in self.spans
            if s["op"] == op_id and s["name"] == name and s["end"] is not None
        )

    def self_times_ms(self) -> dict[str, float]:
        """Per span name, the summed self time in ms: each span's duration
        minus the union of its children's intervals."""
        children: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                children[s["parent"]].append((s["start"], s["end"]))
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s["end"] is None:
                continue
            covered, cur_s, cur_e = 0.0, None, None
            for a, b in sorted(children.get(s["id"], ())):
                if cur_e is None or a > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = a, b
                else:
                    cur_e = max(cur_e, b)
            if cur_e is not None:
                covered += cur_e - cur_s
            out[s["name"]] += (s["end"] - s["start"] - covered) * 1e3
        return dict(out)

    def summary(self, means: set[str]) -> dict[str, dict]:
        """Sample count and value of every recorded metric: the mean for
        the names in ``means`` (counts, whose total matters), else the
        median."""
        return {
            name: {
                "value": (statistics.fmean if name in means else statistics.median)(vals),
                "samples": len(vals),
            }
            for name, vals in sorted(self.samples.items())
        }

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "self_ms": self.self_times_ms()}, f)


class JobCounter:
    """Spark job, stage and task counts of one op, read from the status
    tracker. Every op runs under its own job group; jobs are attributed by
    job-id range, because streaming micro-batches run on the stream's own
    thread and job group. The listener bus is drained first, so the counts
    are exact."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()  # noqa: SLF001
        self._first = 0

    def _next_job(self) -> int:
        return int(self._jsc.dagScheduler().nextJobId())

    def begin(self, group: str) -> None:
        self.sc.setJobGroup(group, group)
        self._first = self._next_job()

    def end(self) -> tuple[int, int, int]:
        self._jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        jobs = stages = tasks = 0
        for job_id in range(self._first, self._next_job()):
            info = tracker.getJobInfo(job_id)
            if info is None:
                continue
            jobs += 1
            for stage_id in info.stageIds:
                stage = tracker.getStageInfo(stage_id)
                if stage is not None:
                    stages += 1
                    tasks += stage.numTasks
        return jobs, stages, tasks


def stream_listener(tracer: Tracer):
    """A StreamingQueryListener that records, per stream, the time from
    start to first progress, and every progress event's durations."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def __init__(self):
            self.started: dict[str, float] = {}
            self.batches = 0

        def onQueryStarted(self, event):
            self.started[str(event.id)] = time.perf_counter()

        def onQueryProgress(self, event):
            p = event.progress
            t0 = self.started.pop(str(p.id), None)
            if t0 is not None:
                tracer.add("streaming.start_ms", (time.perf_counter() - t0) * 1e3)
            d = p.durationMs
            tracer.add("streaming.planning_ms", d.get("queryPlanning", 0))
            tracer.add("streaming.add_batch_ms", d.get("addBatch", 0))
            tracer.add("streaming.wal_commit_ms", d.get("walCommit", 0))
            self.batches += 1

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return _Listener()
