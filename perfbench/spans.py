"""Span tracing from outside the program.

A ``Tracer`` records one span per call into a layer: name, start, end,
parent span and run id. Spans stay in memory and are written once, when
the run ends. While a span is open its Spark jobs run under a job group
of its own, so ``statusTracker().getJobIdsForGroup`` attributes every
job to the innermost span that launched it.

``Patcher`` swaps a layer's public function for a tracing wrapper at
every module-level binding in the program (the plan modules import
``read_table`` and ``pin`` by name, so patching the defining module
alone would miss them) and puts every original back on ``restore``.
"""

from __future__ import annotations

import contextlib
import functools
import json
import sys
import time


def covered(start: float, end: float, intervals: list[tuple[float, float]]) -> float:
    """Length of the part of [start, end] that the intervals cover."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, start), min(e, end)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Tracer:
    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @staticmethod
    def _sc():
        from pyspark import SparkContext

        return SparkContext._active_spark_context

    def _set_group(self, span: dict | None) -> None:
        sc = self._sc()
        if sc is None:
            return
        if span is None:
            sc._jsc.clearJobGroup()
        else:
            sc.setJobGroup(span["group"], span["name"])

    @contextlib.contextmanager
    def span(self, name: str, label: str | None = None):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "parent": parent["id"] if parent else None,
            "name": name,
            "label": label,
            "run": self.run_id,
            "group": f"{self.run_id}:{len(self.spans)}",
            "jobs": 0,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self._set_group(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            sc = self._sc()
            if sc is not None:
                rec["jobs"] = len(sc.statusTracker().getJobIdsForGroup(rec["group"]))
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        traced.__wrapped_by_tracer__ = fn
        return traced

    def children(self) -> dict[int, list[dict]]:
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        return kids

    def summary(self, spans: list[dict] | None = None) -> dict[str, dict]:
        """Per span name: calls, total wall, self wall (span minus the
        part its child spans cover), own jobs and jobs including those
        of descendant spans."""
        spans = self.spans if spans is None else spans
        kids = self.children()
        jobs_total: dict[int, int] = {}

        def total_jobs(s: dict) -> int:
            if s["id"] not in jobs_total:
                jobs_total[s["id"]] = s["jobs"] + sum(total_jobs(c) for c in kids.get(s["id"], []))
            return jobs_total[s["id"]]

        out: dict[str, dict] = {}
        for s in spans:
            row = out.setdefault(s["name"], {"calls": 0, "wall_s": 0.0, "self_s": 0.0, "jobs": 0, "jobs_total": 0})
            wall = s["end"] - s["start"]
            row["calls"] += 1
            row["wall_s"] += wall
            row["self_s"] += wall - covered(
                s["start"], s["end"], [(c["start"], c["end"]) for c in kids.get(s["id"], [])]
            )
            row["jobs"] += s["jobs"]
            row["jobs_total"] += total_jobs(s)
        return out

    def descendants(self, root_ids: set[int]) -> list[dict]:
        """Spans under (and including) the given spans."""
        keep = set(root_ids)
        out = []
        for s in self.spans:  # parents precede children
            if s["id"] in keep or s["parent"] in keep:
                keep.add(s["id"])
                out.append(s)
        return out

    @contextlib.contextmanager
    def executor_delta(self, spark, out: list[dict]):
        """Append the executor totals accrued inside the block to ``out``."""
        before = executor_totals(spark.sparkContext)
        yield
        after = executor_totals(spark.sparkContext)
        out.append({k: after[k] - before[k] for k in after})

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            json.dump(self.spans, fh)


class NullTracer:
    """Stands in for ``Tracer`` when tracing is off: records nothing."""

    def span(self, name: str, label: str | None = None):
        return contextlib.nullcontext()

    def executor_delta(self, spark, out: list[dict]):
        return contextlib.nullcontext()


class Patcher:
    """Replace bindings of functions and class attributes; undo all."""

    def __init__(self, package: str) -> None:
        self.package = package
        self._saved: list[tuple[object, str, object]] = []

    def _set(self, owner, attr: str, value) -> None:
        self._saved.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, value)

    def function(self, fn, wrapper) -> int:
        """Rebind every module-level name in the package that is ``fn``;
        returns the number of bindings replaced."""
        n = 0
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not (mod_name == self.package or mod_name.startswith(self.package + ".")):
                continue
            for attr, val in list(vars(mod).items()):
                if val is fn:
                    self._set(mod, attr, wrapper)
                    n += 1
        return n

    def method(self, cls, attr: str, wrapper) -> None:
        self._set(cls, attr, wrapper)

    def restore(self) -> None:
        while self._saved:
            owner, attr, val = self._saved.pop()
            setattr(owner, attr, val)


EXECUTOR_KEYS = ("tasks", "failed_tasks", "task_s", "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes")


def executor_totals(sc) -> dict[str, float]:
    """Task and byte totals over all executors, read from the driver's
    status store (works with ``spark.ui.enabled=false``). Waits for the
    listener bus first, so every finished task is counted."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    tot = dict.fromkeys(EXECUTOR_KEYS, 0)
    it = jsc.statusStore().executorList(True).iterator()
    while it.hasNext():
        e = it.next()
        tot["tasks"] += e.totalTasks()
        tot["failed_tasks"] += e.failedTasks()
        tot["task_s"] += e.totalDuration() / 1000.0
        tot["input_bytes"] += e.totalInputBytes()
        tot["shuffle_read_bytes"] += e.totalShuffleRead()
        tot["shuffle_write_bytes"] += e.totalShuffleWrite()
    return tot
