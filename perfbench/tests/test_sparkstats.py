import pytest

from perfbench.sparkstats import (LogTail, StageRecord, group_stages,
                                  run_counters, union_seconds)


def _stage(sid, sub, done, run_ms=1000.0, tasks=4, tasks_ms=()):
    return StageRecord(stage_id=sid, attempt=0, tasks=tasks, failed_tasks=0,
                       run_ms=run_ms, cpu_ns=run_ms * 5e5, gc_ms=10.0,
                       shuffle_read_bytes=2 * 1024 * 1024,
                       shuffle_write_bytes=1024 * 1024, spill_bytes=0.0,
                       submitted_ms=sub, completed_ms=done,
                       task_run_ms=list(tasks_ms))


def test_union_of_intervals():
    assert union_seconds([], 0, 10) == 0
    assert union_seconds([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    # clipped to the run's bounds
    assert union_seconds([(-5, 2), (9, 20)], 0, 10) == 3
    assert union_seconds([(1, 2), (1, 2)], 0, 10) == 1


def test_run_counters_gap_busy_and_skew():
    t0 = 1000.0
    stages = [
        _stage(1, (t0 + 1) * 1e3, (t0 + 3) * 1e3, run_ms=4000,
               tasks_ms=(100, 100, 100, 400)),
        _stage(2, (t0 + 2) * 1e3, (t0 + 4) * 1e3, run_ms=2000),
        _stage(3, (t0 + 6) * 1e3, (t0 + 7) * 1e3, run_ms=1000),
        # skipped: never submitted
        _stage(4, None, None),
        # an earlier run's stage that a job of this run lists again
        _stage(5, (t0 - 50) * 1e3, (t0 - 40) * 1e3, run_ms=9e6),
    ]
    c = run_counters(7, stages, t0, t0 + 10, cores=4)
    assert c["jobs"] == 7 and c["stages"] == 3 and c["tasks"] == 12
    assert c["driver_gap_s"] == pytest.approx(10 - 4)
    assert c["executor_run_s"] == pytest.approx(7.0)
    assert c["busy_frac"] == pytest.approx(7.0 / 40)
    assert c["task_skew"] == pytest.approx(4.0)
    assert c["shuffle_read_mb"] == pytest.approx(6.0)


def test_log_tail_counts_new_error_lines(tmp_path):
    log = tmp_path / "driver.log"
    log.write_text("26/10/17 03:27:25 ERROR DAGScheduler: x\n"
                   "\tat org.apache.Foo\n"
                   "26/10/17 03:27:25 WARN Other: y\n")
    tail = LogTail(str(log))
    assert tail.new_error_lines() == 1
    with open(log, "a") as fh:
        fh.write("[Stage 3:>  (0 + 4) / 4]\r26/10/17 03:27:26 ERROR A: z\n"
                 "26/10/17 03:27:27 ERROR B: partial")
    assert tail.new_error_lines() == 1
    with open(log, "a") as fh:
        fh.write(" line\n")
    assert tail.new_error_lines() == 1


def test_group_stages_past_the_status_store_limit(spark):
    """After more stages than the status store retains (1,000 by default),
    a run's own stages still come out exactly through its job group."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    limit = int(sc.getConf().get("spark.ui.retainedStages", "1000"))
    one = sc._jvm.java.util.ArrayList()
    one.add(1)
    sc.setJobGroup("filler", "filler")
    for _ in range(limit + 100):
        sc._jsc.parallelize(one, 1).count()   # one stage, no Python worker
    sc.setJobGroup("probe", "probe")
    # one job: a map stage (3 tasks) feeding a result stage (2 tasks)
    sc.parallelize(range(30), 3).map(lambda x: (x % 5, 1)) \
        .reduceByKey(lambda a, b: a + b, 2).collect()
    n_jobs, stages = group_stages(sc, "probe")
    assert n_jobs == 1
    assert sorted(s.tasks for s in stages) == [2, 3]
    assert all(s.submitted_ms is not None and s.completed_ms is not None
               for s in stages)
    retained = store.stageList(None, False, False,
                               getattr(store, "stageList$default$4")(),
                               getattr(store, "stageList$default$5")())
    assert retained.size() <= limit < max(s.stage_id for s in stages)
