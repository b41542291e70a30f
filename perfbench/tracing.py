"""Spans recorded around the benchmark's calls into the program, plus
Spark's own job, stage and SQL metrics for the work each span caused.

Nothing here runs inside the program: a span wraps a call the benchmark
makes into a module's public function. Spans are kept in memory and
written once, at the end of a traced run.

For a span opened with ``spark_jobs=True`` the tracer tags the Spark
jobs the call fires with a job group of its own; when the span closes it
waits for Spark's listener bus to drain, then reads from Spark's status
stores the span's jobs, their stages (tasks, shuffle bytes written,
spill) and the SQL executions submitted while the span was open (bytes
to and from Python workers, time in Python workers). That reading
happens after the span's end time is taken, so it is not in the span.
"""

from __future__ import annotations

import json
import re
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

#: SQL metric name -> span counter it adds to (bytes or seconds). Only
#: the workers' run time counts: Spark's "time to start" and "time to
#: initialize Python workers" read seconds for a reused worker on a task
#: that took a fraction of a second.
_SQL_METRICS = {
    "data sent to Python workers": "arrow_bytes_sent",
    "data returned from Python workers": "arrow_bytes_returned",
    "time to run Python workers": "python_worker_s",
}
_UNITS = {
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
}
_VALUE = re.compile(r"^\s*([0-9.,]+)\s*([A-Za-z]*)")


def parse_sql_metric(text: str) -> float:
    """Value of a formatted SQL metric: the total, in bytes or seconds.

    Spark formats a metric over one task as ``"1.2 s"`` and over many as
    ``"total (min, med, max ...)\\n1.2 s (...)"``."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _VALUE.match(line)
    if m is None:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: int | None = None
    counts: dict[str, float] = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class NullTracer:
    """Tracing off: spans cost a context manager and nothing else."""

    enabled = False

    @contextmanager
    def span(self, name: str, op: int | None = None, spark_jobs: bool = False):
        yield None


class Tracer(NullTracer):
    """Records spans, and Spark metrics for spans that ask for them."""

    enabled = True

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.sc = None  # set once the SparkContext exists
        self._sql_store = None
        self._grouped: set[int] = set()  # spans that tag their jobs
        self._acc_totals: dict[int, float] = {}  # SQL metric id -> total read

    def attach(self, spark) -> None:
        self.sc = spark.sparkContext
        self._sql_store = spark._jsparkSession.sharedState().statusStore()

    @contextmanager
    def span(self, name: str, op: int | None = None, spark_jobs: bool = False):
        parent = self._stack[-1] if self._stack else None
        s = Span(
            id=len(self.spans), name=name, start=time.time(),
            parent=parent.id if parent else None,
            op=op if op is not None else (parent.op if parent else None),
        )
        self.spans.append(s)
        self._stack.append(s)
        group = f"perfbench-span-{s.id}"
        if spark_jobs:
            self._grouped.add(s.id)
            self.sc.setJobGroup(group, name)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if spark_jobs:
                for key in ("spark.jobGroup.id", "spark.job.description",
                            "spark.job.interruptOnCancel"):
                    self.sc.setLocalProperty(key, None)
                self._read_spark(s, group)
                if parent is not None and parent.id in self._grouped:
                    self.sc.setJobGroup(f"perfbench-span-{parent.id}", parent.name)

    def _read_spark(self, s: Span, group: str) -> None:
        sc = self.sc
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        store = sc._jsc.sc().statusStore()
        tracker = sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        c = dict.fromkeys(
            ("jobs", "tasks", "shuffle_write_bytes", "spill_bytes",
             "arrow_bytes_sent", "arrow_bytes_returned", "python_worker_s"), 0.0)
        c["jobs"] = float(len(jobs))
        for j in jobs:
            info = tracker.getJobInfo(j)
            for stage in info.stageIds if info else ():
                data = store.lastStageAttempt(stage)
                c["tasks"] += data.numTasks()
                c["shuffle_write_bytes"] += data.shuffleWriteBytes()
                c["spill_bytes"] += data.memoryBytesSpilled() + data.diskBytesSpilled()
        for ex in self._executions_since(s.start):
            values = self._sql_store.executionMetrics(ex.executionId())
            metrics = ex.metrics().iterator()
            while metrics.hasNext():
                m = metrics.next()
                key = _SQL_METRICS.get(m.name())
                if key is None:
                    continue
                acc = m.accumulatorId()
                v = values.get(acc)
                if not v.isDefined():
                    continue
                # A plan lists a node's metrics once per place the node
                # shows, and a cached or checkpointed node shows again in
                # later executions with its running total: count only
                # what the accumulator grew by since it was last read.
                total = parse_sql_metric(v.get())
                c[key] += max(0.0, total - self._acc_totals.get(acc, 0.0))
                self._acc_totals[acc] = total
        s.counts.update(c)

    def _executions_since(self, start: float) -> list:
        """SQL executions submitted at or after ``start`` (newest last).
        One client drives the session, so these are the span's own."""
        store = self._sql_store
        n = store.executionsCount()
        start_ms = int(start * 1000)
        found: list = []
        while n > 0:
            chunk = min(32, n)
            n -= chunk
            batch = []
            it = store.executionsList(n, chunk).iterator()
            while it.hasNext():
                batch.append(it.next())
            newer = [e for e in batch if e.submissionTime() >= start_ms]
            found[:0] = newer
            if len(newer) < len(batch):
                break
        return found

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f, indent=0)
