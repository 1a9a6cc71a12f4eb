"""Tracing from outside the program: phase counters and layer timers.

A :class:`Phase` brackets one stretch of a workload. On entry it sets a
Spark job group; on exit it reads, for every job of that group, the job
and stage records from ``sc.statusTracker()`` and the status store
(both work with the UI off), and sums per stage: tasks, executor run and
CPU time, input, shuffle and spill bytes. It also takes wall time and
the CPU time of this Python process and of the JVM child. Harvesting
happens at phase exit because the status store keeps only the last
``spark.ui.retainedStages`` stages.

:class:`Layers` collects the per-call timings the workloads take around
public calls into single layers (``driver_index.query_sum``,
``WheelSqlRouter.explain``, ...), keyed by the per-layer metric name.
"""

from __future__ import annotations

import os
import statistics
import time
import uuid

from py4j.protocol import Py4JJavaError

_CLK_TCK = os.sysconf("SC_CLK_TCK")

#: counters summed over the stages of a phase's jobs
STAGE_FIELDS = (
    ("spark_stages", None),
    ("spark_tasks", "numTasks"),
    ("executor_run_ms", "executorRunTime"),
    ("executor_cpu_ms", "executorCpuTime"),
    ("input_bytes", "inputBytes"),
    ("shuffle_read_bytes", "shuffleReadBytes"),
    ("shuffle_write_bytes", "shuffleWriteBytes"),
    ("spill_bytes", "diskBytesSpilled"),
)
PHASE_FIELDS = (
    ("wall_s", "s"),
    ("python_cpu_s", "s"),
    ("jvm_cpu_s", "s"),
    ("spark_jobs", "count"),
) + tuple(
    (name, "ms" if name.endswith("_ms") else "bytes" if "bytes" in name else "count")
    for name, _ in STAGE_FIELDS
)


def python_cpu_s() -> float:
    t = os.times()
    return t.user + t.system


def jvm_cpu_s(spark) -> float:
    """User+system CPU of the JVM the session runs in (read from
    /proc; the py4j gateway process is that JVM)."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is None:
        return 0.0
    try:
        with open(f"/proc/{proc.pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0.0
    return (int(fields[11]) + int(fields[12])) / _CLK_TCK


def stage_totals(spark, job_ids) -> dict:
    """Sum the STAGE_FIELDS counters over the stages of ``job_ids``."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out = {name: 0 for name, _ in STAGE_FIELDS}
    stages = set()
    for jid in job_ids:
        info = tracker.getJobInfo(jid)
        if info is not None:
            stages.update(info.stageIds)
    for sid in stages:
        try:
            st = store.lastStageAttempt(sid)
        except Py4JJavaError:  # a skipped stage has no attempt
            continue
        out["spark_stages"] += 1
        for name, getter in STAGE_FIELDS[1:]:
            if name == "spill_bytes":
                out[name] += int(st.diskBytesSpilled()) + int(st.memoryBytesSpilled())
            else:
                out[name] += int(getattr(st, getter)())
    out["executor_cpu_ms"] //= 1_000_000  # the store keeps CPU time in ns
    return out


class Phase:
    """Counters for one stretch of work, read from outside the program.

    ``group`` is the Spark job group to harvest; streaming queries run
    their micro-batches under their own group (the query's run id), so
    a caller may pass extra groups through :meth:`also_group`."""

    def __init__(self, spark, name: str) -> None:
        self.spark = spark
        self.name = name
        self.group = f"perfbench-{name}-{uuid.uuid4().hex[:12]}"
        #: other job groups to harvest, with the jobs they already had
        self.extra_groups: dict[str, set] = {}
        self.values: dict = {}

    def also_group(self, group: str) -> None:
        """Harvest ``group`` too (a streaming query's run id), counting
        only the jobs it starts from now on."""
        tracker = self.spark.sparkContext.statusTracker()
        self.extra_groups[group] = set(tracker.getJobIdsForGroup(group))

    def __enter__(self) -> "Phase":
        self.spark.sparkContext.setJobGroup(self.group, self.name)
        self._t0 = time.perf_counter()
        self._py0 = python_cpu_s()
        self._jvm0 = jvm_cpu_s(self.spark)
        return self

    def __exit__(self, *exc) -> None:
        wall = time.perf_counter() - self._t0
        py = python_cpu_s() - self._py0
        jvm = jvm_cpu_s(self.spark) - self._jvm0
        sc = self.spark.sparkContext
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        tracker = sc.statusTracker()
        jobs = list(tracker.getJobIdsForGroup(self.group))
        for g, before in self.extra_groups.items():
            jobs.extend(j for j in tracker.getJobIdsForGroup(g) if j not in before)
        self.values = {
            "wall_s": wall,
            "python_cpu_s": py,
            "jvm_cpu_s": jvm,
            "spark_jobs": len(jobs),
            **stage_totals(self.spark, jobs),
        }


class NoPhase:
    """Stand-in for :class:`Phase` in untraced runs."""

    values: dict = {}

    def also_group(self, group: str) -> None:
        pass

    def __enter__(self) -> "NoPhase":
        return self

    def __exit__(self, *exc) -> None:
        pass


class Layers:
    """Per-layer metric values of one traced run, by metric name."""

    def __init__(self) -> None:
        self.values: dict[str, float] = {}

    def set(self, name: str, value) -> None:
        self.values[name] = value

    def time_calls(self, name: str, fn, args_list, scale: float) -> list:
        """Call ``fn(*args)`` for each args tuple; record the median
        per-call time in units of ``scale`` seconds under ``name``.
        Returns the results."""
        out, times = [], []
        for args in args_list:
            t0 = time.perf_counter_ns()
            out.append(fn(*args))
            times.append(time.perf_counter_ns() - t0)
        self.values[name] = statistics.median(times) / 1e9 / scale
        return out

    def time_once(self, name: str, fn, scale: float = 1.0):
        t0 = time.perf_counter()
        r = fn()
        self.values[name] = (time.perf_counter() - t0) / scale
        return r
