"""Spans around the benchmark's calls into the pipeline, with Spark
counters read from the Spark driver's status store.

A span owns the window of job ids ``[first, end)`` that the DAG scheduler
handed out while it was open. Job ids come from one counter per
SparkContext and are assigned on the submitting thread, so the window also
holds jobs submitted from threads other than the caller's, such as a
streaming query's micro-batch thread, which a thread-local job group
misses. The benchmark is the only client of its session, so nothing else
lands in a window.

The status store keeps only the most recent jobs and stages
(``spark.ui.retainedJobs`` / ``retainedStages``, 1000 by default), so a
window is read when its span ends, after the listener bus has drained,
and a window whose jobs were already evicted raises instead of
under-counting.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass

COUNTERS = (
    "wall_s",
    "jobs",
    "stages",
    "task_cpu_s",
    "core_busy",
    "shuffle_mb",
    "input_mb",
    "output_mb",
)
_MB = 1024 * 1024


@dataclass
class Span:
    name: str
    counters: dict[str, float]


class StatusStore:
    """Job-id windows over one SparkContext's status store."""

    def __init__(self, spark):
        sc = spark.sparkContext
        jsc = sc._jsc.sc()
        self._dag = jsc.dagScheduler()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self.cores = sc.defaultParallelism

    def next_job_id(self) -> int:
        return int(self._dag.nextJobId())

    def window(self, first: int, end: int, wall_s: float) -> dict[str, float]:
        """Counters summed over jobs ``first .. end-1`` and their stages;
        a stage shared by several jobs (skipped re-use) counts once."""
        self._bus.waitUntilEmpty()
        stage_ids: set[int] = set()
        for job_id in range(first, end):
            try:
                job = self._store.job(job_id)
            except Exception as exc:  # py4j wraps NoSuchElementException
                raise RuntimeError(
                    f"job {job_id} left the status store before its span was read"
                ) from exc
            # one py4j call for the Scala Seq instead of one per element
            stage_ids.update(int(s) for s in job.stageIds().mkString(",").split(",") if s)
        run_ms = cpu_ns = shuffle = inp = out = 0
        stages = 0
        for sid in stage_ids:
            try:
                st = self._store.lastStageAttempt(sid)
            except Exception:
                continue  # a job's planned stage that never got an attempt
            if st.status().toString() == "SKIPPED":
                continue
            stages += 1
            run_ms += st.executorRunTime()
            cpu_ns += st.executorCpuTime()
            shuffle += st.shuffleWriteBytes()
            inp += st.inputBytes()
            out += st.outputBytes()
        return {
            "wall_s": wall_s,
            "jobs": end - first,
            "stages": stages,
            "task_cpu_s": cpu_ns / 1e9,
            "core_busy": run_ms / 1e3 / (wall_s * self.cores) if wall_s > 0 else 0.0,
            "shuffle_mb": shuffle / _MB,
            "input_mb": inp / _MB,
            "output_mb": out / _MB,
        }


class Tracer:
    """Records spans in memory when enabled; a no-op otherwise.
    ``overhead_s`` sums the time spent opening and reading windows, the
    cost tracing adds to the traced pass."""

    def __init__(self, store: StatusStore, enabled: bool):
        self.store = store
        self.enabled = enabled
        self.spans: list[Span] = []
        self.overhead_s = 0.0

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        t = time.perf_counter()
        first = self.store.next_job_id()
        t0 = time.perf_counter()
        yield
        t1 = time.perf_counter()
        end = self.store.next_job_id()
        self.spans.append(Span(name, self.store.window(first, end, t1 - t0)))
        self.overhead_s += (t0 - t) + (time.perf_counter() - t1)
