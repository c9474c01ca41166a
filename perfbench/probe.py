"""Tracing from outside the program: spans around the benchmark's calls
into ``utils_spark``, Spark's own counters read per job group, and CPU and
memory of the driver JVM and its Python workers read from ``/proc``.

Nothing here patches ``utils_spark``. Each traced layer call runs under
its own Spark job group; its jobs, stages and task metrics are read from
the status store right after the call returns. A whole-store delta would
go wrong once the store drops its oldest stages (``spark.ui.retainedStages``);
a per-group read right after the call does not, because one call runs far
fewer stages than the store keeps, and a job or stage the store has dropped
raises ``CountersLost`` instead of reading as zero.
"""

from __future__ import annotations

import contextlib
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError
from pyspark.sql.streaming import StreamingQueryListener

MB = 1024 * 1024
_CLK_TCK = os.sysconf("SC_CLK_TCK")


class Spans:
    """In-memory span recorder: name, start, end, parent and run id."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._next = 0

    @contextmanager
    def span(self, name: str, **attrs):
        self._next += 1
        rec = {
            "id": self._next,
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "run": self.run_id,
            "start": time.time(),
            **attrs,
        }
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()
            self.spans.append(rec)


# ---------------------------------------------------------------- /proc


def _stat(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name, or None if the
    process has gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except (FileNotFoundError, ProcessLookupError):
        return None


def descendants(root: int) -> list[int]:
    """Every live descendant of ``root``."""
    parent: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            fields = _stat(int(entry))
            if fields is not None:
                parent[int(entry)] = int(fields[1])
    out, frontier = [], [root]
    while frontier:
        frontier = [p for p, pp in parent.items() if pp in frontier]
        out += frontier
    return out


def cpu_s(pid: int) -> float:
    """CPU seconds of ``pid`` and of its children it has reaped."""
    fields = _stat(pid)
    if fields is None:
        return 0.0
    return sum(int(x) for x in fields[11:15]) / _CLK_TCK


def peak_rss_mb(pid: int) -> float:
    """Peak resident memory of ``pid`` (VmHWM), in MB."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) * 1024 / MB
    except FileNotFoundError:
        pass
    return 0.0


@dataclass
class ProcessTree:
    """The driver JVM and the Python worker processes it forks."""

    jvm_pid: int

    def python_cpu_s(self) -> float:
        return sum(cpu_s(p) for p in descendants(self.jvm_pid))

    def cpu_s(self) -> float:
        return cpu_s(self.jvm_pid) + self.python_cpu_s()

    def peak_rss_mb(self) -> float:
        """Sum of each process's peak resident memory since the last
        ``reset_peak_rss()``."""
        return sum(peak_rss_mb(p) for p in [self.jvm_pid, *descendants(self.jvm_pid)])

    def reset_peak_rss(self) -> None:
        for p in [self.jvm_pid, *descendants(self.jvm_pid)]:
            with contextlib.suppress(FileNotFoundError):
                with open(f"/proc/{p}/clear_refs", "w") as f:
                    f.write("5")  # resets VmHWM to the current resident size


def host_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the whole machine so far, from
    /proc/stat: steal is time the hypervisor gave this machine's CPUs to
    someone else."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:9]]
    return fields[7], sum(fields)


# ---------------------------------------------------------------- Spark


def jit_s(spark) -> float:
    """Seconds the JVM's JIT compiler threads have spent compiling."""
    return spark.sparkContext._jvm.java.lang.management.ManagementFactory.getCompilationMXBean().getTotalCompilationTime() / 1000


def codegen_compiles(spark) -> int:
    """Classes Spark's code generator has compiled with Janino so far. Its
    cache (``spark.sql.codegen.cache.maxEntries``) answers the rest, so a
    pass that compiles again missed that cache."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


@dataclass
class JobCounters:
    """Counters of the jobs of some job groups, summed over their stages."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    task_skew: float = 0.0  # largest per-stage max/median task duration
    intervals: list[tuple[float, float]] = field(default_factory=list)  # epoch s


class StreamRecorder(StreamingQueryListener):
    """Streaming query listener: run ids started and per-batch progress."""

    def __init__(self):
        self._lock = threading.Lock()
        self.run_ids: list[str] = []
        self.batches: list[dict] = []

    def onQueryStarted(self, event):
        with self._lock:
            self.run_ids.append(str(event.runId))

    def onQueryProgress(self, event):
        p = event.progress
        d = p.durationMs
        state = p.stateOperators
        with self._lock:
            self.batches.append(
                {
                    "run_id": str(p.runId),
                    "trigger_ms": d.get("triggerExecution", 0),
                    "commit_ms": d.get("walCommit", 0)
                    + d.get("commitOffsets", 0)
                    + sum(o.commitTimeMs for o in state),
                    "state_rows": sum(o.numRowsTotal for o in state),
                }
            )

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def mark(self) -> tuple[int, int]:
        with self._lock:
            return len(self.run_ids), len(self.batches)

    def since(self, mark: tuple[int, int]) -> tuple[list[str], list[dict]]:
        with self._lock:
            return self.run_ids[mark[0] :], self.batches[mark[1] :]


class CountersLost(RuntimeError):
    """The status store dropped a job or stage before it was read."""


class SparkProbe:
    """Reads Spark's counters for one session from the outside."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc
        self._jvm = sc._jvm
        self._gateway = sc._gateway
        jsc = sc._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._jsc = jsc
        self.streams = StreamRecorder()
        spark.streams.addListener(self.streams)

    def set_group(self, group: str) -> None:
        self._sc.setJobGroup(group, group)

    def settle(self) -> None:
        """Wait until every posted event has reached the status store and
        the streaming listener."""
        self._bus.waitUntilEmpty()

    def job_ids(self, group: str) -> list[int]:
        return list(self._sc.statusTracker().getJobIdsForGroup(group))

    def _job(self, job_id: int):
        try:
            return self._store.job(job_id)
        except Py4JJavaError as exc:  # NoSuchElementException
            raise CountersLost(f"job {job_id} is no longer in the status store") from exc

    def next_job_id(self) -> int:
        """Id the scheduler gives the next job it submits."""
        return self._jsc.dagScheduler().nextJobId()

    def counters(self, groups: list[str], first_job: int) -> JobCounters:
        """Counters of every job in ``groups``, read after ``settle()``.
        ``first_job`` is ``next_job_id()`` from before the groups ran: if
        the store no longer holds that job it may have dropped some of
        theirs, so this raises rather than under-count."""
        if self.next_job_id() > first_job:
            self._job(first_job)
        c = JobCounters()
        for group in groups:
            for job_id in self.job_ids(group):
                job = self._job(job_id)
                c.jobs += 1
                if job.submissionTime().isDefined() and job.completionTime().isDefined():
                    c.intervals.append(
                        (job.submissionTime().get().getTime() / 1000, job.completionTime().get().getTime() / 1000)
                    )
                stage_ids = job.stageIds()
                for i in range(stage_ids.size()):
                    self._add_stage(c, job_id, stage_ids.apply(i))
        return c

    def _add_stage(self, c: JobCounters, job_id: int, stage_id: int) -> None:
        no_args = (self._jvm.java.util.ArrayList(), False, self._gateway.new_array(self._jvm.double, 0))
        attempts = self._store.stageData(stage_id, False, *no_args)
        if attempts.size() == 0:
            raise CountersLost(f"stage {stage_id} of job {job_id} is no longer in the status store")
        for k in range(attempts.size()):
            s = attempts.apply(k)
            if str(s.status()) == "SKIPPED":  # its output was reused; it never ran
                continue
            c.stages += 1
            c.tasks += s.numCompleteTasks() + s.numFailedTasks() + s.numKilledTasks()
            c.executor_run_s += s.executorRunTime() / 1000
            c.executor_cpu_s += s.executorCpuTime() / 1e9
            c.shuffle_read_mb += s.shuffleReadBytes() / MB
            c.shuffle_write_mb += s.shuffleWriteBytes() / MB
            c.spill_mb += (s.memoryBytesSpilled() + s.diskBytesSpilled()) / MB
            if s.numCompleteTasks() > 1:
                quantiles = self._gateway.new_array(self._jvm.double, 2)
                quantiles[0], quantiles[1] = 0.5, 1.0
                summary = self._store.taskSummary(stage_id, s.attemptId(), quantiles)
                if summary.isDefined():
                    median, top = summary.get().duration().apply(0), summary.get().duration().apply(1)
                    if median > 0:
                        c.task_skew = max(c.task_skew, top / median)

    def gc_s(self) -> float:
        beans = self._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(b.getCollectionTime() for b in beans) / 1000

    def cached_mb(self) -> float:
        """Memory and disk held by cached RDD blocks."""
        return sum(r.memSize() + r.diskSize() for r in self._jsc.getRDDStorageInfo()) / MB
