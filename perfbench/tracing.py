"""Spans and Spark status-store readings for the traced run.

:class:`Tracer` records one span per call into a layer — name, layer,
start, end and parent — in memory, and writes them out once when the run
ends.  :class:`StatusStore` reads Spark's own accounting of what a window
of work cost: jobs, stages and tasks from the ``AppStatusStore``, and the
per-node SQL metrics (scan time, whole-stage-codegen duration, Arrow
Python transfer and Python time) from the ``SQLAppStatusStore``.

A reading that fails is *missing* — :meth:`StatusStore.delta` returns
``None`` — and is never reported as zero.  So is a single metric that was
never read: a stage total with no completed stage in the window, and a SQL
metric whose node is absent or whose value did not parse, stay ``None``.
"""

from __future__ import annotations

import json
import re
import statistics
import time
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder.  ``enabled=False`` makes :meth:`span` a
    no-op so the untraced path runs the same code."""

    def __init__(self, enabled: bool = True) -> None:
        self.enabled = enabled
        self.spans: list = []
        self._stack: list = []

    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "layer": layer,
            "start": time.perf_counter(),
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def self_times(self) -> dict:
        """Per-layer self time: each span's duration minus what its child
        spans cover."""
        child = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict = {}
        for s in self.spans:
            d = s["end"] - s["start"] - child.get(s["id"], 0.0)
            out[s["layer"]] = out.get(s["layer"], 0.0) + d
        return out

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, **extra}, fh, indent=1)


_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME = {"ns": 1e-9, "us": 1e-6, "µs": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}
_NUM = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-zµ]*)")


def parse_sql_metric(text: str):
    """Total of one formatted SQL metric value, in bytes, seconds or a plain
    count.  Spark formats sums as ``"1,234"`` and size/timing metrics as
    ``"total (min, med, max ...)\\n12.3 MiB (...)"``; the total comes first
    on the last line."""
    line = text.strip().splitlines()[-1]
    m = _NUM.match(line)
    if not m:
        return None
    v = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit in _SIZE:
        return v * _SIZE[unit]
    if unit in _TIME:
        return v * _TIME[unit]
    return v if unit == "" else None


#: SQL metric (node name prefix, metric name) → reported key
SQL_METRICS = {
    ("Scan", "scan time"): "sql.scan_s",
    ("Scan", "size of files read"): "sql.files_read_bytes",
    ("WholeStageCodegen", "duration"): "sql.wscg_s",
    ("ArrowEvalPython", "data sent to Python workers"): "python.arrow_bytes_sent",
    ("ArrowEvalPython", "data returned from Python workers"): "python.arrow_bytes_returned",
    ("ArrowEvalPython", "time to run Python workers"): "python.udf_s",
    ("ArrowEvalPython", "time to initialize Python workers"): "python.worker_init_s",
}


class StatusStore:
    """Reads what Spark recorded about the jobs run since :meth:`mark`."""

    #: per-stage totals; ``None`` until a completed stage is read
    STAGE_FIELDS = (
        "executor_run_s",
        "executor_cpu_s",
        "gc_s",
        "input_bytes",
        "shuffle_write_bytes",
        "shuffle_read_bytes",
        "spill_bytes",
    )

    def __init__(self, spark) -> None:
        self.spark = spark
        jsc = spark.sparkContext._jsc.sc()
        self._sc = jsc
        self._jvm = spark.sparkContext._jvm
        self._store = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._mark = None

    def _drain(self) -> None:
        self._sc.listenerBus().waitUntilEmpty(30_000)

    def _stages(self):
        empty = self._jvm.java.util.ArrayList()
        d4 = getattr(self._store, "stageList$default$4")()
        d5 = getattr(self._store, "stageList$default$5")()
        s = self._store.stageList(empty, False, False, d4, d5)
        return [s.apply(i) for i in range(s.size())]

    def _jobs(self):
        j = self._store.jobsList(None)
        return [j.apply(i) for i in range(j.size())]

    def _executions(self):
        e = self._sql.executionsList()
        return [e.apply(i) for i in range(e.size())]

    def mark(self) -> None:
        """Start a window: later reads count only newer jobs/stages/SQL
        executions (their ids only grow)."""
        try:
            self._drain()
            self._mark = (
                max([j.jobId() for j in self._jobs()], default=-1),
                max([s.stageId() for s in self._stages()], default=-1),
                max([e.executionId() for e in self._executions()], default=-1),
            )
        except Exception:  # noqa: BLE001 - an internal API; failure = missing
            self._mark = None

    def delta(self, wall_s: float, cores: int):
        """Totals over the window, or ``None`` when the store cannot be
        read (never zeros in its place)."""
        if self._mark is None:
            return None
        try:
            self._drain()
            job0, stage0, exec0 = self._mark
            jobs = [j for j in self._jobs() if j.jobId() > job0]
            stages = [s for s in self._stages() if s.stageId() > stage0]
            # skipped stages reuse earlier shuffle output
            done = [s for s in stages if s.status().toString() == "COMPLETE"]
            out = {"jobs": float(len(jobs)), "stages": float(len(done)), "tasks": 0.0}
            out.update(dict.fromkeys(self.STAGE_FIELDS))
            largest = None
            for s in done:
                out["tasks"] += s.numCompleteTasks()
                for key, v in (
                    ("executor_run_s", s.executorRunTime() / 1e3),
                    ("executor_cpu_s", s.executorCpuTime() / 1e9),
                    ("gc_s", s.jvmGcTime() / 1e3),
                    ("input_bytes", s.inputBytes()),
                    ("shuffle_write_bytes", s.shuffleWriteBytes()),
                    ("shuffle_read_bytes", s.shuffleReadBytes()),
                    ("spill_bytes", s.memoryBytesSpilled() + s.diskBytesSpilled()),
                ):
                    out[key] = (out[key] or 0.0) + v
                if largest is None or s.executorRunTime() > largest.executorRunTime():
                    largest = s
            run_s = out["executor_run_s"]
            out["core_busy_ratio"] = run_s / (wall_s * cores) if run_s is not None and wall_s > 0 else None
            out["task_skew"] = self._skew(largest) if largest is not None else None
            out.update(self._sql_metrics(exec0))
            return out
        except Exception:  # noqa: BLE001 - an internal API; failure = missing
            return None

    def _skew(self, stage):
        tasks = self._store.taskList(stage.stageId(), stage.attemptId(), 1_000_000)
        durs = []
        for i in range(tasks.size()):
            d = tasks.apply(i).duration()
            if d.isDefined():
                durs.append(float(d.get()))
        if not durs or statistics.median(durs) <= 0:
            return None
        return max(durs) / statistics.median(durs)

    def _sql_metrics(self, exec0: int) -> dict:
        """Totals of :data:`SQL_METRICS` over the executions after *exec0*.
        A key stays ``None`` unless a matching node metric was read, and
        turns ``None`` for good if any of its values fails to parse."""
        out = dict.fromkeys(SQL_METRICS.values())
        bad = set()
        for e in self._executions():
            eid = e.executionId()
            if eid <= exec0:
                continue
            # iterate the (accumulator id → text) map: a py4j lookup would
            # box the id as Integer and miss the Long key
            values = {}
            it = self._sql.executionMetrics(eid).iterator()
            while it.hasNext():
                kv = it.next()
                values[kv._1()] = kv._2()
            nodes = self._sql.planGraph(eid).allNodes()
            for i in range(nodes.size()):
                node = nodes.apply(i)
                name = node.name()
                ms = node.metrics()
                for k in range(ms.size()):
                    m = ms.apply(k)
                    key = next(
                        (v for (p, n), v in SQL_METRICS.items() if name.startswith(p) and m.name() == n),
                        None,
                    )
                    # a metric no task updated has no value: it adds nothing
                    text = values.get(m.accumulatorId()) if key else None
                    if not text:
                        continue
                    parsed = parse_sql_metric(text)
                    if parsed is None:
                        bad.add(key)
                    else:
                        out[key] = (out[key] or 0.0) + parsed
        return {k: None if k in bad else v for k, v in out.items()}
