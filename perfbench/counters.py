"""Spark engine counters read from the driver's status store and JMX.

Work is counted by id, not by list length: the status store keeps only
the last ``spark.ui.retained*`` jobs, stages and executions, so a list
size pins at that cap in a long session. :meth:`SparkCounters.snapshot`
drains the listener bus first, then reads the highest job, stage and
SQL-execution ids; the difference of two snapshots is the work done in
between. :meth:`SparkCounters.delta` adds per-stage and per-job detail
(task time, shuffle, job intervals, Python bytes) for the ids in
that range.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

_PY_SENT = "data sent to Python workers"
_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def parse_size_metric(text: str) -> float:
    """Bytes in a formatted SQL size metric: either ``"1.2 MiB"`` or the
    ``"total (min, med, max ...)\\n1.2 MiB (...)"`` form."""
    if not text:
        return 0.0
    line = text.strip().splitlines()[-1] if "\n" in text else text
    m = re.match(r"\s*([0-9.,]+)\s*([KMGT]iB|B)", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)]


@dataclass
class Snapshot:
    job: int
    stage: int
    execution: int
    codegen_n: int
    codegen_ms: float
    gc_ms: int


class SparkCounters:
    def __init__(self, spark):
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        self._jvm = sc._jvm
        self._kv = self._jsc.statusStore().store()
        cls = self._jvm.java.lang.Class.forName
        self._job_cls = cls("org.apache.spark.status.JobDataWrapper")
        self._stage_cls = cls("org.apache.spark.status.StageDataWrapper")
        self._exec_cls = cls("org.apache.spark.sql.execution.ui.SQLExecutionUIData")
        self._codegen = (cls("org.apache.spark.metrics.source.CodegenMetrics$")
                         .getField("MODULE$").get(None))
        self._mgmt = self._jvm.java.lang.management.ManagementFactory

    def drain(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty()

    def _max_key(self, cls):
        it = self._kv.view(cls).reverse().max(1).iterator()
        return it.next() if it.hasNext() else None

    def max_job_id(self) -> int:
        self.drain()
        job = self._max_key(self._job_cls)
        return job.info().jobId() if job is not None else -1

    def snapshot(self) -> Snapshot:
        self.drain()
        job = self._max_key(self._job_cls)
        stage = self._max_key(self._stage_cls)
        ex = self._max_key(self._exec_cls)
        h = self._codegen.METRIC_COMPILATION_TIME()
        n = int(h.getCount())
        gc = sum(int(b.getCollectionTime()) for b in self._mgmt.getGarbageCollectorMXBeans())
        return Snapshot(
            job=job.info().jobId() if job is not None else -1,
            stage=stage.info().stageId() if stage is not None else -1,
            execution=ex.executionId() if ex is not None else -1,
            codegen_n=n,
            codegen_ms=float(n * h.getSnapshot().getMean()),
            gc_ms=gc,
        )

    def live_rdds(self) -> int:
        return int(self._jsc.getPersistentRDDs().size())

    def delta(self, a: Snapshot, b: Snapshot) -> dict:
        """Counters for the work between snapshots ``a`` and ``b``."""
        out = {
            "spark.jobs": b.job - a.job,
            "spark.stages": b.stage - a.stage,
            "spark.sql_executions": b.execution - a.execution,
            "spark.codegen_compiles": b.codegen_n - a.codegen_n,
            "spark.codegen_ms": b.codegen_ms - a.codegen_ms,
            "jvm.gc_s": (b.gc_ms - a.gc_ms) / 1000.0,
        }
        tasks = run_ms = cpu_ns = sr = sw = 0
        for w in self._newer(self._stage_cls, lambda w: w.info().stageId(), a.stage, b.stage):
            s = w.info()
            tasks += s.numCompleteTasks() + s.numFailedTasks()
            run_ms += s.executorRunTime()
            cpu_ns += s.executorCpuTime()
            sr += s.shuffleReadBytes()
            sw += s.shuffleWriteBytes()
        intervals = []
        for w in self._newer(self._job_cls, lambda w: w.info().jobId(), a.job, b.job):
            sub, done = w.info().submissionTime(), w.info().completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime(), done.get().getTime()))
        sent = 0.0
        for ex in self._newer(self._exec_cls, lambda w: w.executionId(), a.execution,
                              b.execution):
            ids = {m.accumulatorId() for m in _seq(ex.metrics()) if m.name() == _PY_SENT}
            values = ex.metricValues() if ids else None
            if values is None:
                continue
            it = values.iterator()
            while it.hasNext():
                kv = it.next()
                if kv._1() in ids:
                    sent += parse_size_metric(kv._2())
        out.update({
            "spark.tasks": tasks,
            "spark.executor_run_s": run_ms / 1000.0,
            "spark.executor_cpu_s": cpu_ns / 1e9,
            "spark.shuffle_read_mb": sr / 2**20,
            "spark.shuffle_write_mb": sw / 2**20,
            "spark.python_sent_mb": sent / 2**20,
            "spark.job_busy_s": union_seconds(intervals),
        })
        return out

    def _newer(self, cls, key, floor: int, ceiling: int) -> list:
        """Store entries with floor < key <= ceiling, newest first."""
        out = []
        it = self._kv.view(cls).reverse().iterator()
        while it.hasNext():
            w = it.next()
            k = key(w)
            if k <= floor:
                break
            if k <= ceiling:
                out.append(w)
        return out


def union_seconds(intervals_ms: list[tuple[int, int]]) -> float:
    """Length of the union of [start, end] millisecond intervals, in s."""
    total, end = 0, None
    for s, e in sorted(intervals_ms):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total / 1000.0


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]
