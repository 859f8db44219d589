"""Spark counters for one run, read from outside the program.

Stage counters come from Spark's status store, found through the run's job
group rather than by diffing the global stage list: the store keeps only the
last `spark.ui.retainedStages` (1,000) stages, so a before/after diff of the
global list goes wrong once a session has run that many. Session counters
come from the JVM (codegen metrics, persisted RDDs, block-manager memory)
and from the JVM log that the benchmark captures.
"""

from __future__ import annotations

import re
import statistics
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

MB = 1024 * 1024


@dataclass
class StageRecord:
    stage_id: int
    attempt: int
    tasks: int
    failed_tasks: int
    run_ms: float
    cpu_ns: float
    gc_ms: float
    shuffle_read_bytes: float
    shuffle_write_bytes: float
    spill_bytes: float
    submitted_ms: float | None
    completed_ms: float | None
    task_run_ms: list[float] = field(default_factory=list)


def union_seconds(intervals: list[tuple[float, float]], lo: float,
                  hi: float) -> float:
    """Length of the union of [a, b) intervals clipped to [lo, hi)."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals
                     if min(b, hi) > max(a, lo))
    total, cur_a, cur_b = 0.0, None, None
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


def run_counters(n_jobs: int, stages: list[StageRecord], t0: float,
                 t1: float, cores: int) -> dict[str, float]:
    """Counters of one run from its own stages; t0/t1 are the run's wall
    clock bounds in seconds since the epoch."""
    wall = t1 - t0
    # a job may list a stage whose shuffle output an earlier run wrote
    # (skipped here, or submitted before this run began): not this run's
    ran = [s for s in stages
           if s.submitted_ms is not None and s.submitted_ms >= t0 * 1e3 - 1]
    intervals = [(s.submitted_ms / 1e3,
                  (s.completed_ms if s.completed_ms is not None
                   else t1 * 1e3) / 1e3) for s in ran]
    run_s = sum(s.run_ms for s in ran) / 1e3
    heaviest = max(ran, key=lambda s: s.run_ms, default=None)
    skew = 1.0
    if heaviest is not None and heaviest.task_run_ms:
        mid = statistics.median(heaviest.task_run_ms)
        skew = max(heaviest.task_run_ms) / mid if mid > 0 else 1.0
    return {
        "jobs": n_jobs,
        "stages": len(ran),
        "tasks": sum(s.tasks for s in ran),
        "failed_tasks": sum(s.failed_tasks for s in ran),
        "driver_gap_s": wall - union_seconds(intervals, t0, t1),
        "executor_run_s": run_s,
        "executor_cpu_s": sum(s.cpu_ns for s in ran) / 1e9,
        "gc_s": sum(s.gc_ms for s in ran) / 1e3,
        "busy_frac": run_s / (cores * wall) if wall > 0 else 0.0,
        "shuffle_read_mb": sum(s.shuffle_read_bytes for s in ran) / MB,
        "shuffle_write_mb": sum(s.shuffle_write_bytes for s in ran) / MB,
        "spill_mb": sum(s.spill_bytes for s in ran) / MB,
        "task_skew": skew,
    }


def _opt_ms(opt) -> float | None:
    return float(opt.get().getTime()) if opt.isDefined() else None


def _seq(scala_seq) -> list:
    it = scala_seq.iterator()
    out = []
    while it.hasNext():
        out.append(it.next())
    return out


def group_stages(sc, group: str) -> tuple[int, list[StageRecord]]:
    """(job count, stage attempts) of the jobs tagged with `group`."""
    jsc = sc._jsc.sc()
    store = jsc.statusStore()
    job_ids = list(jsc.statusTracker().getJobIdsForGroup(group))
    seen: set[int] = set()
    for j in job_ids:
        seen.update(int(s) for s in _seq(store.job(j).stageIds()))
    no_status = getattr(store, "stageData$default$3")()
    no_quantiles = getattr(store, "stageData$default$5")()
    recs = []
    for sid in sorted(seen):
        try:
            attempts = _seq(store.stageData(sid, False, no_status, False,
                                            no_quantiles))
        except Py4JJavaError as exc:  # stage never submitted: not in store
            if "NoSuchElementException" in str(exc.java_exception):
                continue
            raise
        for sd in attempts:
            recs.append(StageRecord(
                stage_id=sid, attempt=sd.attemptId(),
                tasks=sd.numTasks(), failed_tasks=sd.numFailedTasks(),
                run_ms=sd.executorRunTime(), cpu_ns=sd.executorCpuTime(),
                gc_ms=sd.jvmGcTime(),
                shuffle_read_bytes=sd.shuffleReadBytes(),
                shuffle_write_bytes=sd.shuffleWriteBytes(),
                spill_bytes=sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
                submitted_ms=_opt_ms(sd.submissionTime()),
                completed_ms=_opt_ms(sd.completionTime())))
    ran = [r for r in recs if r.submitted_ms is not None]
    if ran:
        heaviest = max(ran, key=lambda r: r.run_ms)
        heaviest.task_run_ms = [
            float(t.taskMetrics().get().executorRunTime())
            for t in _seq(store.taskList(heaviest.stage_id,
                                         heaviest.attempt, 100_000))
            if t.taskMetrics().isDefined()]
    return len(job_ids), recs


class SessionCounters:
    """Session-wide counters from the JVM of a live SparkSession."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jvm = self.sc._jvm
        self._codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics
        self._generator = (jvm.org.apache.spark.sql.catalyst.expressions
                           .codegen.CodeGenerator)

    def codegen(self) -> tuple[int, float]:
        """(classes compiled so far, seconds spent compiling them)."""
        return (int(self._codegen.METRIC_COMPILATION_TIME().getCount()),
                self._generator.compileTime() / 1e9)

    def persisted_rdds(self) -> int:
        return int(self.sc._jsc.getPersistentRDDs().size())

    def block_memory_mb(self) -> float:
        """Storage memory in use across block managers."""
        it = self.sc._jsc.sc().getExecutorMemoryStatus().values().iterator()
        used = 0
        while it.hasNext():
            max_rem = it.next()
            used += max_rem._1() - max_rem._2()
        return used / MB


_ERROR_LINE = re.compile(r"^\d\d/\d\d/\d\d \d\d:\d\d:\d\d ERROR ")


class LogTail:
    """Counts log4j ERROR lines appended to a captured log since the
    previous call."""

    def __init__(self, path: str):
        self.path = path
        self.offset = 0

    def new_error_lines(self) -> int:
        with open(self.path, "rb") as fh:
            fh.seek(self.offset)
            data = fh.read()
        # keep a trailing partial line for the next call
        cut = max(data.rfind(b"\n"), data.rfind(b"\r")) + 1
        self.offset += cut
        text = data[:cut].decode("utf-8", "replace")
        return sum(1 for line in re.split(r"[\r\n]", text)
                   if _ERROR_LINE.match(line))
