"""Spans and Spark-side counters recorded around calls into the engine.

Spans live in memory and are written out once, when the run ends. Each
span has a name, start, end, the span that caused it and an operation id
shared by the spans of one operation (one query execution, one set-up).
Spark-side counts come from outside the engine: every traced call runs
under its own job group, whose jobs and stages are read back from the
status tracker and the status store after the call returns.

With tracing off every method is a cheap no-op, so the end-to-end run
pays for neither the bookkeeping nor the status-store reads.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import time
from collections import defaultdict

STAGE_FIELDS = ("jobs", "tasks", "task_busy_s", "shuffle_write_bytes",
                "input_bytes", "input_rows", "task_gc_s")


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.self_s = 0.0  # time spent in the tracer's own bookkeeping
        self._stack: list[int] = []
        self._op = 0
        self._groups = itertools.count()
        self.sc = None

    def bind(self, spark) -> None:
        """Attach to the session whose jobs are read."""
        self.sc = spark.sparkContext

    def new_op(self) -> None:
        self._op += 1

    @contextlib.contextmanager
    def _span(self, name: str, counts: dict | None):
        t = time.perf_counter()
        group = None
        if counts is not None and self.sc is not None:
            group = f"perfbench-{next(self._groups)}"
            self.sc.setJobGroup(group, name, False)
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append({"name": name, "op": self._op, "parent": parent})
        self._stack.append(idx)
        start = time.perf_counter()
        self.self_s += start - t
        try:
            yield
        finally:
            end = time.perf_counter()
            self._stack.pop()
            self.spans[idx].update(start=start, end=end)
            if group is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
                counts.update(self.stage_counts(group))
                self.spans[idx]["spark"] = dict(counts)
            self.self_s += time.perf_counter() - end

    def span(self, name: str, counts: dict | None = None):
        """Context manager timing one call. When ``counts`` is a dict, the
        call runs under a fresh job group and the dict is filled with the
        Spark counters of the jobs it started (``STAGE_FIELDS``). The counts
        are read after the span's end is recorded, so a caller timing the
        call itself takes its clocks inside the ``with`` block."""
        if not self.enabled:
            return contextlib.nullcontext()
        return self._span(name, counts)

    def stage_counts(self, group: str) -> dict:
        """Jobs, tasks, task busy time, shuffle and input volume of every
        job in ``group``, summed over the stages that ran."""
        out = dict.fromkeys(STAGE_FIELDS, 0.0)
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        for job_id in tracker.getJobIdsForGroup(group):
            out["jobs"] += 1
            info = tracker.getJobInfo(job_id)
            for stage_id in (info.stageIds if info else ()):
                try:
                    sd = store.lastStageAttempt(stage_id)
                except Exception:  # noqa: BLE001 - stage evicted or never submitted
                    continue
                if str(sd.status()) != "COMPLETE":
                    continue
                out["tasks"] += sd.numTasks()
                out["task_busy_s"] += sd.executorRunTime() / 1000.0
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                out["input_bytes"] += sd.inputBytes()
                out["input_rows"] += sd.inputRecords()
                out["task_gc_s"] += sd.jvmGcTime() / 1000.0
        return out

    def dump(self, path: str, meta: dict) -> None:
        """Write every span, with its self time, as one JSON document."""
        if not self.enabled:
            return
        child = defaultdict(float)
        for s in self.spans:
            if s.get("parent") is not None and "end" in s:
                child[s["parent"]] += s["end"] - s["start"]
        spans = []
        for i, s in enumerate(self.spans):
            if "end" not in s:
                continue
            dur = s["end"] - s["start"]
            spans.append(dict(s, id=i, dur_s=dur, self_s=dur - child[i]))
        with open(path, "w") as f:
            json.dump({"meta": meta, "spans": spans}, f)
