"""Spans around the benchmark's calls into the engine, and exact per-rep
counters read from Spark's status store.

Spans are kept in memory and written as JSON when the run ends.  Counters
come from two stores that are filled with or without the web UI:

- ``statusStore().stageList(...)``: per-stage task run time, CPU, GC,
  spill, scan, output and shuffle bytes (exact integers);
- ``SQLAppStatusStore(...).executionMetrics(id)``: the SQL metrics of the
  Python nodes (Arrow bytes into and out of the workers, worker time).
  Spark returns these as display strings such as
  ``"total (min, med, max ...)\\n641.0 MiB (...)"``, so they are parsed and
  carry the display rounding.
"""

from __future__ import annotations

import contextlib
import json
import re
import time

#: SQL metric name → counter name
PYTHON_METRICS = {
    "data sent to Python workers": "python.arrow_to_python_bytes",
    "data returned from Python workers": "python.arrow_from_python_bytes",
    "time to run Python workers": "python.run_task_s",
    "time to initialize Python workers": "python.init_task_s",
}
_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
          "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_VALUE = re.compile(r"([0-9][0-9,]*\.?[0-9]*)\s*(B|KiB|MiB|GiB|TiB|ms|s|m|h)\b")


def parse_metric(text: str, kind: str) -> float:
    """Total of one SQL metric display string, in bytes or seconds."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    if kind in ("size", "timing", "nsTiming"):
        m = _VALUE.search(line)
        if m is None:
            return 0.0
        return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)]
    return float(line.split()[0].replace(",", ""))


class Tracer:
    """Named spans with parent links; a no-op recorder when disabled."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list = []
        self._stack: list = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1]["id"] if self._stack else None,
               "id": len(self.spans), **attrs}
        if self.enabled:
            self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans}, fh, indent=1)


class StatusCounters:
    """Sums the stages, jobs and SQL executions that ran since a mark.

    The benchmark is the only client and submits one job at a time, so
    everything after the mark belongs to the measured call."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc
        jvm = sc._jvm
        self._store = sc._jsc.sc().statusStore()
        self._sql = jvm.org.apache.spark.sql.execution.ui.SQLAppStatusStore(
            self._store.store(), jvm.scala.Option.apply(None))
        self._no_quantiles = sc._gateway.new_array(jvm.double, 0)

    def _new_stages(self, after: int):
        """Stages with an id above ``after``; the store lists them newest first."""
        lst = self._store.stageList(None, False, False, self._no_quantiles, None)
        for i in range(lst.size()):
            s = lst.apply(i)
            if s.stageId() <= after:
                return
            yield s

    def _new_executions(self, after: int):
        """SQL executions with an id above ``after``; listed oldest first."""
        lst = self._sql.executionsList()
        for i in range(lst.size() - 1, -1, -1):
            e = lst.apply(i)
            if e.executionId() <= after:
                return
            yield e

    def mark(self) -> dict:
        """The newest stage and execution ids and the job count so far."""
        return {"stage": next((s.stageId() for s in self._new_stages(-1)), -1),
                "jobs": self._store.jobsList(None).size(),
                "execution": next((e.executionId() for e in self._new_executions(-1)), -1)}

    def since(self, mark: dict) -> dict:
        # stage and SQL metrics arrive through the asynchronous listener bus
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()
        out = {"spark.jobs": self._store.jobsList(None).size() - mark["jobs"],
               "spark.tasks": 0, "spark.run_task_s": 0.0,
               "spark.jvm_cpu_task_s": 0.0, "spark.gc_task_s": 0.0,
               "spark.scan_bytes": 0, "spark.bytes_written": 0,
               "spark.shuffle_write_bytes": 0, "spark.spill_bytes": 0}
        for s in self._new_stages(mark["stage"]):
            out["spark.tasks"] += s.numCompleteTasks()
            out["spark.run_task_s"] += s.executorRunTime() / 1e3
            out["spark.jvm_cpu_task_s"] += s.executorCpuTime() / 1e9
            out["spark.gc_task_s"] += s.jvmGcTime() / 1e3
            out["spark.scan_bytes"] += s.inputBytes()
            out["spark.bytes_written"] += s.outputBytes()
            out["spark.shuffle_write_bytes"] += s.shuffleWriteBytes()
            out["spark.spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        for name in PYTHON_METRICS.values():
            out[name] = 0.0
        for e in self._new_executions(mark["execution"]):
            kinds = {}
            ms = e.metrics()
            for i in range(ms.size()):
                m = ms.apply(i)
                if m.name() in PYTHON_METRICS:
                    kinds[m.accumulatorId()] = (PYTHON_METRICS[m.name()], m.metricType())
            if not kinds:
                continue
            values = self._sql.executionMetrics(e.executionId())
            it = values.iterator()
            while it.hasNext():
                kv = it.next()
                hit = kinds.get(kv._1())
                if hit:
                    out[hit[0]] += parse_metric(kv._2(), hit[1])
        return out

    @contextlib.contextmanager
    def measure(self, into: list):
        """Append the counters of the enclosed calls to ``into``."""
        mark = self.mark()
        yield
        into.append(self.since(mark))
