"""Tracing from outside the program: Spark's status store and timed wrappers.

Nothing here changes what the program computes. Spark work is
attributed to benchmark operations by job group: ``SparkTrace.group``
tags every job launched after it with a fresh group, and
``SparkTrace.collect`` reads each group's jobs and stages from Spark's
status store (``sc._jsc.sc().statusStore()``) once the listener bus
has drained. Callers collect outside their timed regions.
"""

from __future__ import annotations

import statistics
import time
from collections import Counter
from contextlib import contextmanager
from dataclasses import dataclass, fields, replace


@dataclass
class SparkTotals:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_s: float = 0.0
    job_s: float = 0.0  # wall time with at least one job running
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    input_bytes: int = 0

    def add(self, other: "SparkTotals") -> None:
        for f in fields(self):
            setattr(self, f.name, getattr(self, f.name) + getattr(other, f.name))


def _millis(opt_date) -> int | None:
    return opt_date.get().getTime() if opt_date.isDefined() else None


def _union_ms(spans: list[tuple[int, int]]) -> int:
    """Length of the union of [start, end] intervals (jobs can overlap:
    broadcast and subquery jobs run while their parent job waits)."""
    total, reach = 0, None
    for start, end in sorted(spans):
        if reach is None or start > reach:
            total += end - start
            reach = end
        elif end > reach:
            total += end - reach
            reach = end
    return total


class SparkTrace:
    """Spark totals per label, read from the status store by job group."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._groups = 0
        self._pending: list[tuple[str, str]] = []
        self.by_label: dict[str, SparkTotals] = {}

    def group(self, label: str) -> None:
        """Attribute the jobs launched from now on to ``label``."""
        self._groups += 1
        gid = f"perfbench-{self._groups}"
        self.sc.setJobGroup(gid, label)
        self._pending.append((gid, label))

    def collect(self) -> None:
        """Add every pending group's jobs and stages to ``by_label``."""
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self._jsc.listenerBus().waitUntilEmpty()
        store = self._jsc.statusStore()
        tracker = self.sc.statusTracker()
        for gid, label in self._pending:
            tot = self.by_label.setdefault(label, SparkTotals())
            spans = []
            for job_id in tracker.getJobIdsForGroup(gid):
                job = store.job(job_id)
                tot.jobs += 1
                start, end = _millis(job.submissionTime()), _millis(job.completionTime())
                if start is not None and end is not None:
                    spans.append((start, end))
                it = job.stageIds().iterator()
                while it.hasNext():
                    st = store.lastStageAttempt(it.next())
                    if st.status().toString() != "COMPLETE":
                        continue  # skipped: an earlier job's shuffle output was reused
                    tot.stages += 1
                    tot.tasks += st.numCompleteTasks()
                    tot.task_s += st.executorRunTime() / 1000.0
                    tot.shuffle_read_bytes += st.shuffleReadBytes()
                    tot.shuffle_write_bytes += st.shuffleWriteBytes()
                    tot.spill_bytes += st.diskBytesSpilled()
                    tot.input_bytes += st.inputBytes()
            tot.job_s += _union_ms(spans) / 1000.0
        self._pending = []

    def total(self) -> SparkTotals:
        out = SparkTotals()
        for t in self.by_label.values():
            out.add(t)
        return out


def spark_layer(tot: SparkTotals, passes: int, cores: int, wall_s: float) -> dict:
    """Per-pass Spark runtime metrics, the same for every workload.

    ``wall_s`` is the timed wall of all passes; the part no Spark job
    covered is driver-side time (Python, HTTP, query planning).
    """
    per = max(passes, 1)
    out = {f"spark.{f.name}": getattr(tot, f.name) / per for f in fields(tot)}
    out["spark.core_utilization"] = tot.task_s / (tot.job_s * cores) if tot.job_s else 0.0
    out["driver.non_job_s"] = max(wall_s - tot.job_s, 0.0) / per
    return out


def jvm_peak_rss_mb(spark) -> float:
    """Peak resident set of the driver JVM (``VmHWM``), in MiB."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


class TimedTransport:
    """Wraps an async ``FetchFn``: per-request wall time and URL census."""

    def __init__(self, inner):
        self.inner = inner
        self.durations: list[float] = []
        self.urls: Counter[str] = Counter()

    async def __call__(self, url: str) -> dict:
        t0 = time.perf_counter()
        try:
            return await self.inner(url)
        finally:
            self.durations.append(time.perf_counter() - t0)
            self.urls[url] += 1


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile, ``q`` in (0, 100]."""
    s = sorted(values)
    k = -(-q * len(s) // 100)  # ceil
    return s[max(0, min(len(s), int(k)) - 1)]


def tail_percentile(values: list[float], wanted: int = 90) -> tuple[int, float]:
    """The ``wanted`` percentile, or the highest lower one that leaves at
    least ten samples above it. Returns ``(percentile, value)``; the
    percentile is 0 when fewer than eleven samples exist."""
    n = len(values)
    for q in range(wanted, 0, -1):
        if n - int(-(-q * n // 100)) >= 10:
            return q, percentile(values, q)
    return 0, max(values) if values else 0.0


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


@contextmanager
def timed_catalog(queries: dict, on_enter, on_exit):
    """Call ``on_enter(name)`` before and ``on_exit(query, seconds)``
    after every catalog query function called while the block runs;
    ``queries`` is the catalog registry (name → frozen ``Query``), whose
    entries are swapped back after."""
    originals = dict(queries)

    def wrap(name, q):
        def fn(*a, **kw):
            on_enter(name)
            t0 = time.perf_counter()
            try:
                return q.fn(*a, **kw)
            finally:
                on_exit(q, time.perf_counter() - t0)
        return replace(q, fn=fn)

    for name, q in originals.items():
        queries[name] = wrap(name, q)
    try:
        yield
    finally:
        queries.update(originals)

