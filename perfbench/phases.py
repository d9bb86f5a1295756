"""Per-phase tracing of one op, done from outside the engine.

Each phase of an op (open, build, action, or an ETL batch) runs under its
own Spark job group. After the op, the jobs of each group come from
`statusTracker` and their stage metrics (tasks, task time, shuffle bytes,
spill) from the status store, which works with `spark.ui.enabled=false`.
The open phase is timed by wrapping `sources.catalog.load_tables`; the
wrapper has to be installed before `all_queries()` imports the operator
modules, because they bind the name at import.
"""

from __future__ import annotations

import time
from dataclasses import asdict, dataclass

import harness
from covid_weather_etl_spark.sources import catalog


@dataclass
class PhaseStats:
    """Scheduler and stage counters of the jobs in one job group."""
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0


def drain_listener(spark) -> None:
    """Wait until the status store has seen every finished task."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def group_stats(spark, group: str) -> PhaseStats:
    """Counters of every job run under `group`; skipped stages are not counted."""
    sc = spark.sparkContext
    tracker, store = sc.statusTracker(), sc._jsc.sc().statusStore()
    out = PhaseStats()
    for job_id in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(job_id)
        if info is None:
            continue
        out.jobs += 1
        for stage_id in info.stageIds:
            attempts = store.stageData(stage_id, False, None, False, None)
            ran = False
            for i in range(attempts.size()):
                d = attempts.apply(i)
                if d.status().toString() == "SKIPPED":
                    continue
                ran = True
                out.tasks += d.numCompleteTasks()
                out.task_s += d.executorRunTime() / 1000.0
                out.shuffle_read_bytes += d.shuffleReadBytes()
                out.shuffle_write_bytes += d.shuffleWriteBytes()
                out.spill_bytes += d.memoryBytesSpilled() + d.diskBytesSpilled()
            out.stages += ran
    return out


class OpenSpy:
    """Times `load_tables` calls and runs them under the op's open group."""

    def __init__(self):
        self.group = None
        self.reset()

    def reset(self) -> None:
        self.seconds, self.calls, self.tables = 0.0, 0, 0

    def install(self) -> None:
        original = catalog.load_tables

        def load_tables(spark, sf_dir, names=catalog.TABLES):
            sc = spark.sparkContext
            if self.group:
                sc.setJobGroup(f"{self.group}/open", "open")
            t0 = time.perf_counter()
            try:
                return original(spark, sf_dir, names)
            finally:
                self.seconds += time.perf_counter() - t0
                self.calls += 1
                self.tables += len(names)
                if self.group:
                    sc.setJobGroup(f"{self.group}/build", "build")

        catalog.load_tables = load_tables


def empty_job_s(spark, n: int = 5) -> list[float]:
    """Wall time of `n` empty single-task jobs: the scheduler's floor."""
    rdd = spark.sparkContext.parallelize([0], 1)
    out = []
    for _ in range(n):
        t0 = time.perf_counter()
        rdd.count()
        out.append(time.perf_counter() - t0)
    return out


def run_query_traced(spark, spy, q, sf_dir: str, tag: str) -> dict:
    """Run one registered query under per-phase job groups; return its
    seconds and the counters of each phase, flat."""
    sc = spark.sparkContext
    spy.reset()
    spy.group = tag
    try:
        sc.setJobGroup(f"{tag}/build", "build")
        t0 = time.perf_counter()
        df = q.fn(spark, sf_dir)
        t1 = time.perf_counter()
        sc.setJobGroup(f"{tag}/action", "action")
        harness.materialize(df)
        t2 = time.perf_counter()
    finally:
        spy.group = None
        sc.setJobGroup("perfbench/idle", "idle")
    rec = {"op": q.name, "wall_s": t2 - t0, "open_s": spy.seconds,
           "open_calls": spy.calls, "tables_opened": spy.tables,
           "build_s": t1 - t0 - spy.seconds, "action_s": t2 - t1}
    drain_listener(spark)
    for phase in ("open", "build", "action"):
        for key, value in asdict(group_stats(spark, f"{tag}/{phase}")).items():
            rec[f"{phase}_{key}"] = value
    rec["jobs"] = rec["open_jobs"] + rec["build_jobs"] + rec["action_jobs"]
    rec["trace_s"] = time.perf_counter() - t2
    return rec
