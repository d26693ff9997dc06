"""Spans and Spark counters for the benchmark.

``Tracer`` keeps spans (name, start, end, parent span, run id) in
memory and writes them out once, at the end of a run. ``SparkStats``
reads the driver's in-process status store: the jobs and stages that
ran between two marks (job and stage ids are sequential, and one
client runs one op at a time, so an id range is exactly one op's or
one pass's work, streaming micro-batch jobs included).
``BatchListener`` counts streaming micro-batches.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import re
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener


class Tracer:
    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._ids = itertools.count()

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        """Yield the span record; its ``end`` is set when the block exits.
        A disabled tracer still times the block but keeps nothing."""
        rec = {"id": next(self._ids), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "run": self.run_id, "start": time.time(), **attrs}
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()
            if self.enabled:
                self.spans.append(rec)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for rec in sorted(self.spans, key=lambda r: r["start"]):
                fh.write(json.dumps(rec) + "\n")


def _union_ms(spans: list[tuple[int, int]]) -> int:
    total, end = 0, None
    for s, e in sorted(spans):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


_PYTHON_NODE = re.compile(r"Python|Pandas|Arrow")
_UNIT_S = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def _metric_seconds(text: str) -> float:
    """The total of a formatted SQL timing metric, e.g.
    "total (min, med, max ...)\n1.2 s (0.1 s, ...)" -> 1.2."""
    m = re.search(r"(\d+(?:\.\d+)?) (ms|s|m|h)\b", text.split("\n")[-1])
    return float(m.group(1)) * _UNIT_S[m.group(2)] if m else 0.0


class SparkStats:
    def __init__(self, spark):
        sc = spark.sparkContext
        core = sc._jsc.sc()
        self._jsc = sc._jsc
        self._core = core
        self._dag = core.dagScheduler()
        self._store = core.statusStore()
        self._no_tasks = sc._jvm.java.util.ArrayList()
        self._no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
        self.jvm_pid = int(sc._jvm.ProcessHandle.current().pid())
        self._sql = spark._jsparkSession.sharedState().statusStore()

    def sql_mark(self) -> int:
        return int(self._sql.executionsCount())

    def python_worker_s(self, c0: int, c1: int) -> float:
        """Python-worker run time of the SQL executions in [c0, c1), from
        the "time to run Python workers" metric of their Arrow/pandas
        evaluation nodes (executions are kept in id order)."""
        total = 0.0
        execs = self._sql.executionsList(c0, max(c1 - c0, 0))
        for i in range(execs.size()):
            ex = execs.apply(i)
            values = ex.metricValues()
            if values is None:
                continue
            nodes = self._sql.planGraph(ex.executionId()).allNodes()
            for j in range(nodes.size()):
                node = nodes.apply(j)
                if not _PYTHON_NODE.search(node.name()):
                    continue
                metrics = node.metrics()
                for k in range(metrics.size()):
                    m = metrics.apply(k)
                    if m.name() == "time to run Python workers":
                        v = values.get(m.accumulatorId())
                        if v.isDefined():
                            total += _metric_seconds(v.get())
        return total

    def mark(self) -> tuple[int, int]:
        return int(self._dag.nextJobId()), int(self._dag.nextStageId())

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event so far."""
        self._core.listenerBus().waitUntilEmpty()

    def stage_counters(self, m0: tuple[int, int], m1: tuple[int, int]) -> dict:
        out = dict(stages=0, tasks=0, executor_run_s=0.0, executor_cpu_s=0.0,
                   gc_s=0.0, input_bytes=0, shuffle_write_bytes=0, spill_bytes=0)
        for sid in range(m0[1], m1[1]):
            attempts = self._store.stageData(sid, False, self._no_tasks, False,
                                             self._no_quantiles)
            for i in range(attempts.size()):
                sd = attempts.apply(i)
                if str(sd.status()) == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += sd.numCompleteTasks()
                out["executor_run_s"] += sd.executorRunTime() / 1e3
                out["executor_cpu_s"] += sd.executorCpuTime() / 1e9
                out["gc_s"] += sd.jvmGcTime() / 1e3
                out["input_bytes"] += sd.inputBytes()
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        return out

    def counters(self, m0: tuple[int, int], m1: tuple[int, int], wall_s: float) -> dict:
        """Everything the trace keeps for one op: stage sums, job count
        and the driver gap (wall minus the union of the job spans)."""
        out = self.stage_counters(m0, m1)
        spans = []
        for jid in range(m0[0], m1[0]):
            job = self._store.job(jid)
            if job.submissionTime().isDefined() and job.completionTime().isDefined():
                spans.append((job.submissionTime().get().getTime(),
                              job.completionTime().get().getTime()))
        out["jobs"] = m1[0] - m0[0]
        out["driver_gap_s"] = max(wall_s - _union_ms(spans) / 1e3, 0.0)
        return out

    def cached(self) -> tuple[int, int]:
        """Persisted RDDs alive now, and the bytes they hold."""
        held = sum(int(info.memSize()) + int(info.diskSize())
                   for info in self._core.getRDDStorageInfo())
        return int(self._jsc.getPersistentRDDs().size()), held

    def jvm_peak_rss_mb(self) -> float:
        with open(f"/proc/{self.jvm_pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        return 0.0


class BatchListener(StreamingQueryListener):
    """Counts micro-batches and their summed duration."""

    def __init__(self):
        self._lock = threading.Lock()
        self.batches = 0
        self.batch_s = 0.0

    def reset(self) -> None:
        with self._lock:
            self.batches, self.batch_s = 0, 0.0

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        with self._lock:
            self.batches += 1
            self.batch_s += event.progress.batchDuration / 1e3

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass
