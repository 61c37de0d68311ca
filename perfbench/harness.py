"""Measurement helpers for the benchmark: medians and interval arithmetic,
Spark job figures addressed by job-id range, a span tracer that wraps a
layer's public entry points from outside the program, and a
``StreamingQueryListener`` that collects per-trigger phase durations.

Everything here reads Spark through public handles (the DAG scheduler's
job counter and the application status store); nothing in the program
is changed.
"""

from __future__ import annotations

import os
import statistics
import threading
import time
from collections import defaultdict
from collections.abc import Callable, Iterable, Iterator
from contextlib import contextmanager
from dataclasses import dataclass, field


def median(values: Iterable[float]) -> float:
    return float(statistics.median(list(values)))


def covered_s(intervals: Iterable[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def vm_rss_mb(pid: int | str = "self") -> float:
    """Resident set size (VmRSS) of one process, in MB."""
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmRSS:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmRSS for pid {pid}")


def retained_mb(spark) -> float:
    """Memory the run still holds at its end: the driver process's RSS
    plus the JVM's heap in use after a full GC and its non-heap in use
    (code cache, metaspace). Unlike peak RSS, which depends on when the
    collector last ran, this moves when work keeps data alive, as a
    cache does."""
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    used = mx.getHeapMemoryUsage().getUsed() + mx.getNonHeapMemoryUsage().getUsed()
    return vm_rss_mb() + used / 2**20


# -- Spark jobs by id range ---------------------------------------------------


@dataclass(frozen=True)
class Job:
    """One finished Spark job with the stage figures attributed to it.
    Times are epoch seconds; a stage reused by a later job counts only
    for the job that ran it."""

    start: float
    end: float
    tasks: int
    task_s: float
    gc_s: float
    shuffle_write_b: int


class JobLedger:
    """Counts jobs by the range of job ids issued between two points.

    ``next_job_id`` is the DAG scheduler's job counter, which advances
    synchronously when an action submits a job, so the jobs a serial
    client issued between two points are exactly ``range(a, b)``. The
    status store keeps only ``spark.ui.retainedJobs`` jobs, so a
    list-length difference undercounts (or goes negative) once it
    evicts; ids do not. Jobs evicted before :meth:`load` reads them are
    left out of the returned map and counted by the caller as missing.
    """

    def __init__(self, spark):
        jsc = spark.sparkContext._jsc.sc()
        self._dag = jsc.dagScheduler()
        self._store = jsc.statusStore()

    def next_job_id(self) -> int:
        return int(self._dag.numTotalJobs())

    def load(self, first: int, last: int) -> dict[int, Job]:
        jobs: dict[int, Job] = {}
        seen_stages: set[int] = set()
        for jid in range(first, last):
            try:
                jd = self._store.job(jid)
            except Exception:  # noqa: BLE001 — py4j NoSuchElementException: evicted
                continue
            sub, done = jd.submissionTime(), jd.completionTime()
            if not (sub.isDefined() and done.isDefined()):
                continue
            start = sub.get().getTime() / 1000.0
            task_ms = gc_ms = shuffle_b = 0
            ids = jd.stageIds()
            for i in range(ids.size()):
                sid = int(ids.apply(i))
                if sid in seen_stages:
                    continue
                try:
                    st = self._store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 — evicted stage
                    continue
                ssub = st.submissionTime()
                # a shuffle stage computed by an earlier job shows up in
                # this job's stage list as skipped: it ran before this job
                if str(st.status()) != "COMPLETE" or not ssub.isDefined():
                    continue
                if ssub.get().getTime() / 1000.0 < start - 0.001:
                    continue
                seen_stages.add(sid)
                task_ms += st.executorRunTime()
                gc_ms += st.jvmGcTime()
                shuffle_b += st.shuffleWriteBytes()
            jobs[jid] = Job(
                start=start,
                end=done.get().getTime() / 1000.0,
                tasks=int(jd.numCompletedTasks()),
                task_s=task_ms / 1000.0,
                gc_s=gc_ms / 1000.0,
                shuffle_write_b=int(shuffle_b),
            )
        return jobs


# -- spans --------------------------------------------------------------------


@dataclass
class Span:
    name: str
    op: int
    parent: int | None
    start: float
    epoch: float
    job0: int
    end: float = 0.0
    job1: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return self.end - self.start


def self_times(spans: list[Span]) -> list[float]:
    """Each span's wall minus the part of its interval covered by its
    direct children."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append((s.start, s.end))
    return [
        s.wall_s - covered_s(children.get(i, ()), s.start, s.end)
        for i, s in enumerate(spans)
    ]


class Tracer:
    """Records a span around each wrapped call: name, start, end, parent
    span and the operation (tick) id, plus the job-id range it issued.
    Each span also sets a Spark job group named after it, so the jobs it
    issues carry the span's name in the status store. Spans stay in
    memory until the run ends.

    The client is serial: a ``foreachBatch`` callback runs on another
    Python thread only while the main thread blocks in
    ``awaitTermination``, so one span stack serves both.
    """

    def __init__(self, spark, ledger: JobLedger):
        self._sc = spark.sparkContext
        self.ledger = ledger
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []
        self._lock = threading.Lock()
        self.spans: list[Span] = []
        self.op = -1

    @contextmanager
    def span(self, name: str) -> Iterator[Span]:
        with self._lock:
            parent = self._stack[-1] if self._stack else None
            rec = Span(name, self.op, parent, time.perf_counter(), time.time(), self.ledger.next_job_id())
            self.spans.append(rec)
            self._stack.append(len(self.spans) - 1)
        old_group = self._sc.getLocalProperty("spark.jobGroup.id")
        old_desc = self._sc.getLocalProperty("spark.job.description")
        self._sc.setJobGroup(name, name)
        try:
            yield rec
        finally:
            rec.job1 = self.ledger.next_job_id()
            rec.end = time.perf_counter()
            self._sc.setLocalProperty("spark.jobGroup.id", old_group)
            self._sc.setLocalProperty("spark.job.description", old_desc)
            with self._lock:
                self._stack.pop()

    def wrap(
        self,
        owner: object,
        attr: str,
        name: str | Callable[..., str],
        before: Callable[..., None] | None = None,
        after: Callable[..., None] | None = None,
    ) -> None:
        """Replace ``owner.attr`` with a traced call. ``name`` may be a
        function of the call's arguments; ``before(span, *args,
        **kwargs)`` and ``after(span, result, *args, **kwargs)`` record
        attributes on the span around the call."""
        orig = getattr(owner, attr)
        tracer = self

        def traced(*args, **kwargs):
            label = name(*args, **kwargs) if callable(name) else name
            with tracer.span(label) as sp:
                if before is not None:
                    before(sp, *args, **kwargs)
                out = orig(*args, **kwargs)
                if after is not None:
                    after(sp, out, *args, **kwargs)
                return out

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, traced)

    def unwrap(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()


def span_rollup(spans: list[Span], jobs: dict[int, Job], ops: set[int]) -> dict[str, dict[str, list[float]]]:
    """Per span name, one value per operation in ``ops`` for each of
    wall_s, self_s, jobs, tasks and shuffle_write_mb (summed over the
    calls of that name within the operation; 0 when it was not called)."""
    selfs = self_times(spans)
    acc: dict[str, dict[int, dict[str, float]]] = defaultdict(lambda: defaultdict(lambda: defaultdict(float)))
    for s, self_s in zip(spans, selfs):
        if s.op not in ops:
            continue
        cell = acc[s.name][s.op]
        cell["wall_s"] += s.wall_s
        cell["self_s"] += self_s
        cell["jobs"] += s.job1 - s.job0
        in_range = [jobs[j] for j in range(s.job0, s.job1) if j in jobs]
        cell["tasks"] += sum(j.tasks for j in in_range)
        cell["shuffle_write_mb"] += sum(j.shuffle_write_b for j in in_range) / 1e6
    out: dict[str, dict[str, list[float]]] = {}
    for name, per_op in acc.items():
        out[name] = {
            k: [per_op[o][k] if o in per_op else 0.0 for o in sorted(ops)]
            for k in ("wall_s", "self_s", "jobs", "tasks", "shuffle_write_mb")
        }
    return out


def spark_counters(root: Span, jobs: dict[int, Job], cores: int) -> dict[str, float]:
    """Cross-cutting Spark figures for one root span (one tick)."""
    in_range = [jobs[j] for j in range(root.job0, root.job1) if j in jobs]
    lo, hi = root.epoch, root.epoch + root.wall_s
    task_s = sum(j.task_s for j in in_range)
    return {
        "spark.jobs": float(root.job1 - root.job0),
        "spark.jobs_missing": float(root.job1 - root.job0 - len(in_range)),
        "spark.tasks": float(sum(j.tasks for j in in_range)),
        "spark.task_s": task_s,
        "spark.nojob_s": root.wall_s - covered_s(((j.start, j.end) for j in in_range), lo, hi),
        "spark.busy_ratio": task_s / (root.wall_s * cores),
        "spark.shuffle_write_mb": sum(j.shuffle_write_b for j in in_range) / 1e6,
        "spark.gc_s": sum(j.gc_s for j in in_range),
    }


# -- streaming phases ---------------------------------------------------------

TERMINATION_WAIT_S = 10.0

PHASES = {
    "triggerExecution": "streaming.trigger_s",
    "addBatch": "streaming.add_batch_s",
    "latestOffset": "streaming.latest_offset_s",
    "queryPlanning": "streaming.query_planning_s",
    "walCommit": "streaming.wal_commit_s",
    "commitOffsets": "streaming.commit_offsets_s",
}


def make_phase_listener():
    """A ``StreamingQueryListener`` that sums each trigger's
    ``durationMs`` phases per drain. Call :meth:`take` after a drain
    returns: it waits for the query's termination event (the bus
    delivers progress events before it) and returns the phase sums."""
    from pyspark.sql.streaming import StreamingQueryListener

    class PhaseListener(StreamingQueryListener):
        def __init__(self):
            self._lock = threading.Lock()
            self._done = threading.Event()
            self._sums: dict[str, float] = defaultdict(float)

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            with self._lock:
                for phase, ms in (event.progress.durationMs or {}).items():
                    self._sums[phase] += ms / 1000.0

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            self._done.set()

        def take(self) -> dict[str, float]:
            if not self._done.wait(TERMINATION_WAIT_S):
                raise RuntimeError("no termination event from the streaming query")
            with self._lock:
                out = {metric: self._sums.get(phase, 0.0) for phase, metric in PHASES.items()}
                self._sums.clear()
                self._done.clear()
            return out

    return PhaseListener()


def cores() -> int:
    return len(os.sched_getaffinity(0))
