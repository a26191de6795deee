"""Per-layer measurement taken from outside the package.

Nothing here changes how the program runs. A traced op runs under its
own Spark job group; afterwards the tracer reads

- jobs, stages and tasks of that group from ``statusTracker``, and the
  shuffle bytes written and bytes spilled from the status store's
  per-stage task metrics (the store is kept even with the UI off);
- JVM garbage-collection time from the ``GarbageCollectorMXBean``s;
- for registry ops, the SQL metrics of the terminal action's executed
  plan, with adaptive query stages unwrapped: the Arrow/Python boundary
  (``pythonTotalTime``, ``pythonDataSent``, ``pythonDataReceived``) and
  the object-hash-aggregate sort fallbacks.
"""

from __future__ import annotations

import statistics
import time
from collections.abc import Callable, Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

# plan-walk SQL metric -> per-layer metric
PLAN_METRICS = {
    "pythonTotalTime": "arrow.python_s",
    "pythonDataSent": "arrow.bytes_to_python",
    "pythonDataReceived": "arrow.bytes_from_python",
    "numTasksFallBacked": "agg.sort_fallback_tasks",
}


def _seq(scala_seq) -> list:
    out, it = [], scala_seq.iterator()
    while it.hasNext():
        out.append(it.next())
    return out


def plan_metrics(plan) -> dict[str, float]:
    """Sum the PLAN_METRICS over an executed physical plan."""
    totals = dict.fromkeys(PLAN_METRICS.values(), 0.0)
    stack = [plan]
    while stack:
        node = stack.pop()
        kind = node.getClass().getSimpleName()
        if kind == "ReusedExchangeExec":
            continue  # its metrics belong to the exchange it reuses
        for kv in _seq(node.metrics()):
            name = PLAN_METRICS.get(kv._1())
            if name:
                totals[name] += kv._2().value()
        if kind == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
        elif kind.endswith("QueryStageExec"):
            stack.append(node.plan())
        else:
            stack.extend(_seq(node.children()))
    totals["arrow.python_s"] /= 1000.0  # the SQL timing metric is in ms
    return totals


def gc_seconds(spark: SparkSession) -> float:
    jvm = spark.sparkContext._jvm
    beans = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1000.0


class Tracer:
    """Collects per-op layer records when enabled; a no-op otherwise."""

    def __init__(self, spark: SparkSession, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.ops: list[dict[str, float]] = []
        self._current: dict[str, float] | None = None
        self._n = 0

    @contextmanager
    def op(self) -> Iterator[dict[str, float] | None]:
        """Run one op; yields the op's record (``None`` when disabled)."""
        if not self.enabled:
            yield None
            return
        sc = self.spark.sparkContext
        self._n += 1
        group = f"perfbench-op-{self._n}"
        rec: dict[str, float] = {}
        self._current = rec
        gc0 = gc_seconds(self.spark)
        sc.setJobGroup(group, group)
        try:
            yield rec
        finally:
            sc.setJobGroup(None, None)
            self._current = None
        rec["jvm.gc_s"] = gc_seconds(self.spark) - gc0
        # the status store is fed by the listener bus; let it catch up
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        rec.update(self._group_stats(group))
        self.ops.append(rec)

    def span(self, name: str, fn: Callable, *args, **kwargs):
        """Call ``fn`` and add its wall time to ``name`` in the op record."""
        if self._current is None:
            return fn(*args, **kwargs)
        t0 = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            self._current[name] = (
                self._current.get(name, 0.0) + time.perf_counter() - t0
            )

    def count(self, df: DataFrame) -> int:
        """The count terminal; traced, it also walks the executed plan."""
        counted = df.groupBy().count()
        n = self.span("queries.exec_s", counted.collect)[0][0]
        if self._current is not None:
            plan = counted._jdf.queryExecution().executedPlan()
            self._current.update(plan_metrics(plan))
        return n

    def _group_stats(self, group: str) -> dict[str, float]:
        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        jobs = tracker.getJobIdsForGroup(group)
        stats = {
            "spark.jobs": float(len(jobs)),
            "spark.stages": 0.0,
            "spark.tasks": 0.0,
            "exchange.shuffle_bytes": 0.0,
            "sort.spill_bytes": 0.0,
        }
        for job in jobs:
            info = tracker.getJobInfo(job)
            if info is None:
                continue
            for stage in info.stageIds:
                data = store.lastStageAttempt(stage)
                if data.numCompleteTasks() == 0 and data.numTasks() > 0:
                    continue  # skipped: its output was reused
                stats["spark.stages"] += 1
                stats["spark.tasks"] += data.numCompleteTasks()
                stats["exchange.shuffle_bytes"] += data.shuffleWriteBytes()
                stats["sort.spill_bytes"] += (
                    data.diskBytesSpilled() + data.memoryBytesSpilled()
                )
        return stats


# Per-layer metrics reported by a traced run, with their units.
PER_LAYER_UNITS = {
    "session.start_s": "s",
    "sources.read_json_s": "s",
    "sources.files": "count",
    "playback.plan_s": "s",
    "sinks.clean_write_s": "s",
    "sinks.files_written": "count",
    "sinks.bytes_written": "bytes",
    "delta.append_s": "s",
    "delta.rows_in": "count",
    "delta.rows_appended": "count",
    "delta.append_ratio": "ratio",
    "queries.plan_s": "s",
    "queries.exec_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "jvm.gc_s": "s",
    "arrow.python_s": "s",
    "arrow.bytes_to_python": "bytes",
    "arrow.bytes_from_python": "bytes",
    "exchange.shuffle_bytes": "bytes",
    "sort.spill_bytes": "bytes",
    "agg.sort_fallback_tasks": "count",
    "calib.cpu_s": "s",
    "calib.scan_s": "s",
    "calib.job_s": "s",
    "trace.overhead": "s",
}


def per_layer(
    op_records: list[dict[str, float]],
    traced_times: list[float],
    untraced_times: list[float],
    start_s: float,
    box: dict,
) -> dict[str, tuple[float, str]]:
    """Median over the traced ops of each per-op metric, plus the run-wide
    ones. A layer an op does not pass through reads 0 for that op."""
    out = {}
    for name, unit in PER_LAYER_UNITS.items():
        values = [rec.get(name, 0.0) for rec in op_records]
        out[name] = (statistics.median(values) if values else 0.0, unit)
    out["session.start_s"] = (start_s, "s")
    for name in ("calib.cpu_s", "calib.scan_s", "calib.job_s"):
        out[name] = (box[name], "s")
    out["trace.overhead"] = (
        statistics.median(traced_times) - statistics.median(untraced_times)
        if traced_times and untraced_times
        else float("nan"),
        "s",
    )
    return out
