"""In-memory spans around the benchmark's calls into the engine, with the
Spark jobs, stages and task metrics each span caused.

A span is opened with :meth:`Tracer.span` around one public call
(``get_spark``, ``pipeline.backfill``, a registry builder, a noop action,
...).  Spans nest; each records name, start, end, parent and run id.

With tracing on, a span that owns Spark work also records that work:

- by job group: the span sets ``setJobGroup`` on entry and afterwards asks
  ``statusTracker()`` for the group's jobs.  This covers every job
  submitted from the calling thread, eager actions inside query builders
  included;
- by time window, for calls that submit jobs from their own threads
  (``pipeline.backfill`` runs one thread per dump, and those threads do not
  inherit the job group): every job submitted between span start and end.
  The benchmark runs one operation at a time, so the window holds only
  this span's jobs.

Stage metrics come from Spark's own status store over Py4J, which is
populated with the UI disabled.  With tracing off, spans only time the
call; no Spark status is read.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

MB = float(1 << 20)


@dataclass
class SparkWork:
    """Jobs, stages and task metrics attributed to one span."""

    jobs: int = 0
    jobs_failed: int = 0
    stages: int = 0  # stages that ran (skipped stages excluded)
    tasks: int = 0
    tasks_failed: int = 0
    task_run_s: float = 0.0
    task_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0

    def add(self, other: SparkWork) -> None:
        for k, v in asdict(other).items():
            setattr(self, k, getattr(self, k) + v)


@dataclass
class Span:
    name: str
    run_id: str
    parent: int | None
    start: float  # epoch seconds
    end: float = 0.0
    seconds: float = 0.0  # perf_counter duration
    work: SparkWork | None = None


class Tracer:
    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._spark = None

    def attach(self, spark) -> None:
        """Point the tracer at the live session (after each restart)."""
        self._spark = spark

    @contextmanager
    def span(self, name: str, spark_work: str | None = None):
        """Time one call.  ``spark_work`` is ``"group"`` or ``"window"`` to
        attribute Spark jobs (tracing on only), ``None`` for none."""
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, self.run_id, parent, time.time())
        self.spans.append(sp)
        idx = len(self.spans) - 1
        self._stack.append(idx)
        track = spark_work if (self.enabled and self._spark is not None) else None
        sc = self._spark.sparkContext if track else None
        group = f"{self.run_id}/{idx}/{name}"
        last_job = self._max_job_id(sc) if track == "window" else None
        if track == "group":
            sc.setJobGroup(group, name)
        t0 = time.perf_counter()
        try:
            yield sp
        finally:
            sp.seconds = time.perf_counter() - t0
            sp.end = time.time()
            self._stack.pop()
            if track == "group":
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            if track:
                sc._jsc.sc().listenerBus().waitUntilEmpty()
                if track == "group":
                    job_ids = sc.statusTracker().getJobIdsForGroup(group)
                else:
                    job_ids = self._job_ids_after(sc, last_job)
                sp.work = self._work(sc, job_ids)

    # -- Spark status -----------------------------------------------------

    @staticmethod
    def _max_job_id(sc) -> int:
        jobs = sc._jsc.sc().statusStore().jobsList(None)  # newest first
        return jobs.apply(0).jobId() if jobs.size() else -1

    @staticmethod
    def _job_ids_after(sc, last_job: int) -> list[int]:
        jobs = sc._jsc.sc().statusStore().jobsList(None)
        out = []
        for i in range(jobs.size()):
            jid = jobs.apply(i).jobId()
            if jid <= last_job:
                break
            out.append(jid)
        return out

    @staticmethod
    def _work(sc, job_ids: list[int]) -> SparkWork:
        w = SparkWork()
        store = sc._jsc.sc().statusStore()
        gw = sc._gateway
        tracker = sc.statusTracker()
        seen: set[int] = set()
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            w.jobs += 1
            w.jobs_failed += info.status == "FAILED"
            for sid in info.stageIds:
                if sid in seen:
                    continue
                seen.add(sid)
                attempts = store.stageData(
                    sid, False, gw.jvm.java.util.ArrayList(), False,
                    gw.new_array(gw.jvm.double, 0),
                )
                for i in range(attempts.size()):
                    d = attempts.apply(i)
                    if d.status().toString() in ("SKIPPED", "PENDING"):
                        continue
                    w.stages += 1
                    w.tasks += d.numCompleteTasks() + d.numFailedTasks() + d.numKilledTasks()
                    w.tasks_failed += d.numFailedTasks()
                    w.task_run_s += d.executorRunTime() / 1e3
                    w.task_cpu_s += d.executorCpuTime() / 1e9
                    w.gc_s += d.jvmGcTime() / 1e3
                    w.shuffle_read_mb += d.shuffleReadBytes() / MB
                    w.shuffle_write_mb += d.shuffleWriteBytes() / MB
                    w.spill_mb += d.memoryBytesSpilled() / MB
        return w

    # -- output -----------------------------------------------------------

    def total_work(self, under: int) -> SparkWork:
        """Sum of the Spark work of the descendants of span ``under``."""
        total = SparkWork()
        for i, sp in enumerate(self.spans):
            if sp.work is not None and self._descends(i, under):
                total.add(sp.work)
        return total

    def _descends(self, i: int, ancestor: int) -> bool:
        p = self.spans[i].parent
        while p is not None:
            if p == ancestor:
                return True
            p = self.spans[p].parent
        return False

    def write(self, path: str, stamp: dict) -> None:
        with open(path, "w") as f:
            json.dump({"stamp": stamp, "spans": [asdict(s) for s in self.spans]}, f)
