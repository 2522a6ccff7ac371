"""Spans recorded around layer calls, and Spark's own metrics.

:class:`Tracer` keeps spans (name, start, end, parent) in memory; the
benchmark opens one around every call it makes into a layer.  A span's
self time is its duration minus the part of it that its children cover
(:func:`self_times`).  Spark-side work that happens inside one call
(the jobs a job entry point runs) comes back from the status store as
child spans with the execution's own start and end.

:class:`SparkStatus` reads the SQL and stage status stores after each
action.  It needs no UI: the stores are filled by listeners that run
with ``spark.ui.enabled=false``.
"""

from __future__ import annotations

import re
import time
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder; while disabled, :meth:`span` records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append({"name": name, "start": time.time(), "end": None,
                           "parent": parent})
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx]["end"] = time.time()

    def add(self, name: str, start: float, end: float, parent: int | None) -> None:
        """Record a finished span measured elsewhere (e.g. by Spark)."""
        self.spans.append({"name": name, "start": start, "end": end,
                           "parent": parent})


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[dict]) -> list[float]:
    """Per span: duration minus the time its direct children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return [
        (s["end"] - s["start"])
        - _covered(children.get(i, []), s["start"], s["end"])
        for i, s in enumerate(spans)
    ]


def self_time_by_name(spans: list[dict]) -> dict[str, float]:
    out: dict[str, float] = {}
    for s, t in zip(spans, self_times(spans)):
        out[s["name"]] = out.get(s["name"], 0.0) + t
    return out


# ---------------------------------------------------------------------------
# Spark status store
# ---------------------------------------------------------------------------
_TIME_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}
_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
               "TiB": 1 << 40, "PiB": 1 << 50, "EiB": 1 << 60}
_VALUE = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def parse_metric(text: str | None) -> float:
    """A formatted SQL metric ("12.3 s (…)", "4.0 MiB (…)", "1,234") →
    seconds, bytes or a count.  Aggregated metrics put the total on the
    line after their "total (min, med, max …)" header."""
    if not text:
        return 0.0
    line = text.split("\n")[1] if "\n" in text else text
    m = _VALUE.match(line)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit in _TIME_UNITS:
        return value * _TIME_UNITS[unit]
    if unit in _SIZE_UNITS:
        return value * _SIZE_UNITS[unit]
    return value


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


class SparkStatus:
    """Reads executions, stages and tasks that ran after a mark."""

    def __init__(self, spark):
        self.spark = spark
        self._jvm = spark.sparkContext._jvm
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._app = spark.sparkContext._jsc.sc().statusStore()

    def mark(self) -> tuple[int, int]:
        """(last SQL execution id, last stage id) so far."""
        execs = self._sql.executionsList()
        last_exec = execs.apply(execs.size() - 1).executionId() if execs.size() else -1
        return last_exec, self._last_stage()

    def _last_stage(self) -> int:
        stages = self._stage_list()
        return max((s.stageId() for s in stages), default=-1)

    def _stage_list(self) -> list:
        gw = self.spark.sparkContext._gateway
        empty = self._jvm.java.util.ArrayList()
        quantiles = gw.new_array(self._jvm.double, 0)
        return _seq(self._app.stageList(empty, False, False, quantiles, empty))

    def executions(self, mark: tuple[int, int]) -> list[dict]:
        """Finished SQL executions after ``mark``: id, description,
        start/end (epoch s) and {node name: {metric name: value}}."""
        out = []
        for e in _seq(self._sql.executionsList()):
            eid = e.executionId()
            if eid <= mark[0]:
                continue
            end = e.completionTime()
            values = self._sql.executionMetrics(eid)
            nodes: dict[str, dict[str, float]] = {}
            for node in _seq(self._sql.planGraph(eid).allNodes()):
                name = node.name().strip()
                per = nodes.setdefault(name, {})
                for m in _seq(node.metrics()):
                    v = values.get(m.accumulatorId())
                    val = parse_metric(v.get() if v.isDefined() else None)
                    per[m.name()] = per.get(m.name(), 0.0) + val
            out.append({
                "id": eid,
                "description": e.description(),
                "start": e.submissionTime() / 1000.0,
                "end": (end.get().getTime() / 1000.0) if end.isDefined() else time.time(),
                "nodes": nodes,
            })
        return out

    def stages(self, mark: tuple[int, int], with_tasks: bool = False) -> list[dict]:
        """Stage attempts after ``mark`` with their task-summed metrics
        and, optionally, every task's duration (s)."""
        out = []
        for s in self._stage_list():
            if s.stageId() <= mark[1]:
                continue
            rec = {
                "stage": s.stageId(),
                "tasks": s.numTasks(),
                "failed_tasks": s.numFailedTasks(),
                "run_s": s.executorRunTime() / 1000.0,
                "gc_s": s.jvmGcTime() / 1000.0,
                "input_bytes": s.inputBytes(),
                "shuffle_bytes": s.shuffleWriteBytes(),
                "spill_bytes": s.memoryBytesSpilled() + s.diskBytesSpilled(),
            }
            if with_tasks:
                tasks = _seq(self._app.taskList(s.stageId(), s.attemptId(), 100_000))
                rec["task_s"] = [
                    t.duration().get() / 1000.0 for t in tasks if t.duration().isDefined()
                ]
            out.append(rec)
        return out

    def failed_tasks(self, mark: tuple[int, int]) -> int:
        return sum(s["failed_tasks"] for s in self.stages(mark))


def node_metric(executions: list[dict], node_prefix: str, metric: str) -> float:
    """Sum of ``metric`` over every node whose name starts with
    ``node_prefix``, across ``executions``."""
    return sum(
        vals.get(metric, 0.0)
        for e in executions
        for name, vals in e["nodes"].items()
        if name.startswith(node_prefix)
    )


def task_skew(task_s: list[float]) -> float:
    """max / median task time (1.0 = perfectly even)."""
    if not task_s:
        return 0.0
    ordered = sorted(task_s)
    med = ordered[len(ordered) // 2]
    return ordered[-1] / med if med > 0 else 0.0
