"""Per-layer measurement for the traced run.

``Tracer`` wraps public functions of each layer from the outside (nothing in
``surge_spark`` is edited) and records one span per call: name, start, end,
parent span and thread. Spans stay in memory and are written once, when the
run ends. ``spark_per_op`` reads Spark's own status stores after the timed
window, which works with the UI disabled.
"""

from __future__ import annotations

import functools
import json
import statistics
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    thread: int
    attrs: dict = field(default_factory=dict)

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1e3


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._stack = threading.local()
        self._restore: list[tuple[object, str, object]] = []

    def _push(self, name: str) -> tuple[int, int | None]:
        stack = getattr(self._stack, "ids", None)
        if stack is None:
            stack = self._stack.ids = []
        parent = stack[-1] if stack else None
        with self._lock:
            idx = len(self.spans)
            self.spans.append(Span(name, time.perf_counter(), 0.0, parent, threading.get_ident()))
        stack.append(idx)
        return idx, parent

    def _pop(self, idx: int, attrs: dict) -> None:
        self._stack.ids.pop()
        span = self.spans[idx]
        span.end = time.perf_counter()
        span.attrs.update(attrs)

    def wrap(self, owner: object, attr: str, name: str, on_result=None) -> None:
        """Replace ``owner.attr`` with a timing wrapper; ``on_result(args,
        kwargs, result)`` may return attributes to store on the span."""
        original = getattr(owner, attr)

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            idx, _ = self._push(name)
            attrs: dict = {}
            try:
                result = original(*args, **kwargs)
                if on_result is not None:
                    attrs = on_result(args, kwargs, result) or {}
                return result
            finally:
                self._pop(idx, attrs)

        setattr(owner, attr, wrapper)
        self._restore.append((owner, attr, original))

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._restore):
            setattr(owner, attr, original)
        self._restore.clear()

    def window(self, start: float, end: float) -> list[Span]:
        """Completed spans that started inside [start, end] (perf_counter)."""
        return [s for s in self.spans if s.end and start <= s.start <= end]

    def self_ms(self, span: Span) -> float:
        """``span`` minus the time its thread spent in spans of other layers
        nested under it. Spans on other threads (the commit's prewarm
        daemon) are not charged."""
        idx = next(i for i, s in enumerate(self.spans) if s is span)
        children: dict[int, list[int]] = {}
        for i, s in enumerate(self.spans):
            if s.parent is not None:
                children.setdefault(s.parent, []).append(i)

        def foreign(i: int) -> float:
            total = 0.0
            for c in children.get(i, []):
                child = self.spans[c]
                if child.layer != span.layer:
                    total += child.ms
                else:
                    total += foreign(c)
            return total

        return span.ms - foreign(idx)

    def dump(self, path: str, origin: float) -> None:
        """Write every span as one JSON line, times in ms from ``origin``."""
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                row = {
                    "id": i,
                    "name": s.name,
                    "start_ms": round((s.start - origin) * 1e3, 3),
                    "end_ms": round((s.end - origin) * 1e3, 3),
                    "parent": s.parent,
                    "thread": s.thread,
                    **s.attrs,
                }
                f.write(json.dumps(row) + "\n")


def p(values: list[float], q: float) -> float:
    """Percentile ``q`` in (0, 100) of ``values``; 0.0 when there are none.
    Uses the same interpolation as ``statistics.quantiles``."""
    if not values:
        return 0.0
    if len(values) == 1:
        return float(values[0])
    if q == 50:
        return float(statistics.median(values))
    return float(statistics.quantiles(values, n=100)[int(q) - 1])


# -- Spark status stores --------------------------------------------------------


def _metric_ms(text: str) -> float:
    """Total of one SQL timing metric as rendered by Spark (``"total (min,
    med, max ...)\\n1.2 s (...)"`` or a bare ``"35 ms"``), in ms."""
    line = text.strip().splitlines()[-1].split("(")[0].strip()
    number, _, unit = line.partition(" ")
    scale = {"ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6}.get(unit.strip())
    try:
        return float(number.replace(",", "")) * scale if scale else 0.0
    except ValueError:
        return 0.0


# summed over the tasks of every Python-evaluating operator (PythonSQLMetrics)
PYTHON_RUN_METRIC = "time to run Python workers"


def spark_per_op(spark, ops: list[tuple[float, float]]) -> dict:
    """Spark execution counters per op. ``ops`` are (start, end) wall-clock
    epoch seconds; a job or SQL execution belongs to the op during which it
    was submitted. Returns totals divided by the number of ops."""
    jvm = spark.sparkContext._jvm
    conv = jvm.scala.jdk.javaapi.CollectionConverters
    store = spark.sparkContext._jsc.sc().statusStore()

    def op_of(epoch_ms: float) -> int | None:
        t = epoch_ms / 1e3
        for i, (s, e) in enumerate(ops):
            if s <= t <= e:
                return i
        return None

    totals = dict(jobs=0, tasks=0, run_ms=0.0, cpu_ms=0.0, gc_ms=0.0, shuffle_bytes=0, py_ms=0.0)
    stages: set[int] = set()
    for job in conv.asJava(store.jobsList(None)):
        sub = job.submissionTime()
        if sub.isEmpty() or op_of(sub.get().getTime()) is None:
            continue
        totals["jobs"] += 1
        stages.update(int(s) for s in conv.asJava(job.stageIds()))
    for sid in stages:
        try:
            st = store.lastStageAttempt(sid)
        except Exception:  # noqa: BLE001 — a skipped stage has no attempt
            continue
        totals["tasks"] += st.numCompleteTasks()
        totals["run_ms"] += st.executorRunTime()
        totals["cpu_ms"] += st.executorCpuTime() / 1e6
        totals["gc_ms"] += st.jvmGcTime()
        totals["shuffle_bytes"] += st.shuffleWriteBytes()
    sql = spark._jsparkSession.sharedState().statusStore()
    for ex in conv.asJava(sql.executionsList()):
        if op_of(ex.submissionTime()) is None:
            continue
        accs = [m.accumulatorId() for m in conv.asJava(ex.metrics()) if m.name() == PYTHON_RUN_METRIC]
        if not accs:
            continue
        values = conv.asJava(sql.executionMetrics(ex.executionId()))
        for acc in accs:
            text = values.get(acc)
            if text:
                totals["py_ms"] += _metric_ms(text)
    n = max(len(ops), 1)
    return {
        "spark.jobs_per_op": totals["jobs"] / n,
        "spark.tasks_per_op": totals["tasks"] / n,
        "spark.executor_run_ms_per_op": totals["run_ms"] / n,
        "spark.executor_cpu_ms_per_op": totals["cpu_ms"] / n,
        "spark.gc_ms_per_op": totals["gc_ms"] / n,
        "spark.shuffle_bytes_per_op": totals["shuffle_bytes"] / n,
        "spark.python_worker_ms_per_op": totals["py_ms"] / n,
    }
