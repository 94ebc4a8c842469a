"""Per-layer readings taken from Spark itself, outside the timed window.

- execution: per-stage task metrics from the status store, for the jobs
  of one job group (one group per op and phase);
- Catalyst: ``QueryExecution.tracker().phases()``;
- operators: Python-node metrics of the final adaptive plan and of the
  persisted relations it reads;
- session: JVM garbage-collection time and cached bytes.
"""

from __future__ import annotations

from dataclasses import dataclass, fields

MB = 1e6


@dataclass
class StageTotals:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0

    def add(self, other: "StageTotals") -> None:
        for f in fields(self):
            setattr(self, f.name, getattr(self, f.name) + getattr(other, f.name))


def set_group(spark, group: str | None) -> None:
    sc = spark.sparkContext
    if group is None:
        sc._jsc.clearJobGroup()
    else:
        sc.setJobGroup(group, group)


def wait_for_listeners(spark) -> None:
    """The status store is filled by the listener bus asynchronously."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(30000)


def group_totals(spark, group: str) -> StageTotals:
    """Totals over every job of ``group``; skipped stages are not counted."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out = StageTotals()
    stage_ids: set[int] = set()
    for job_id in tracker.getJobIdsForGroup(group):
        out.jobs += 1
        info = tracker.getJobInfo(job_id)
        if info is not None:
            stage_ids.update(info.stageIds)
    for sid in stage_ids:
        try:
            sd = store.lastStageAttempt(sid)
        except Exception:  # noqa: BLE001 - stage evicted from the store
            continue
        if sd.status().toString() == "SKIPPED" or sd.numCompleteTasks() == 0:
            continue
        out.stages += 1
        out.tasks += sd.numCompleteTasks()
        out.executor_run_s += sd.executorRunTime() / 1e3
        out.executor_cpu_s += sd.executorCpuTime() / 1e9
        out.gc_s += sd.jvmGcTime() / 1e3
        out.shuffle_read_mb += (sd.shuffleRemoteBytesRead() + sd.shuffleLocalBytesRead()) / MB
        out.shuffle_write_mb += sd.shuffleWriteBytes() / MB
        out.spill_mb += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / MB
    return out


def catalyst_phases(jqe) -> dict[str, float]:
    """Seconds spent in analysis, optimization and planning."""
    phases = jqe.tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        opt = phases.get(phase)
        out[phase] = opt.get().durationMs() / 1e3 if opt.isDefined() else 0.0
    return out


def _metric(node, key: str) -> float:
    opt = node.metrics().get(key)
    return float(opt.get().value()) if opt.isDefined() else 0.0


def _walk(node, cached: set[int]):
    """Every node of a physical plan, looking through adaptive plans, query
    stages and persisted relations. A persisted relation's plan ran when
    it was materialized, perhaps while the query was being built; each one
    is walked once, however often the plan scans it."""
    yield node
    cls = node.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        yield from _walk(node.executedPlan(), cached)
        return
    if cls.endswith("QueryStageExec"):
        yield from _walk(node.plan(), cached)
        return
    if cls == "InMemoryTableScanExec":
        plan = node.relation().cachedPlan()
        if plan.id() not in cached:
            cached.add(plan.id())
            yield from _walk(plan, cached)
        return
    children = node.children()
    for i in range(children.size()):
        yield from _walk(children.apply(i), cached)


def python_nodes(jqe) -> dict[str, float]:
    """Python-worker nodes of the final plan and of the persisted relations
    it reads: count, rows returned from the workers, and megabytes sent to
    and received from them."""
    nodes = rows = nbytes = 0.0
    for node in _walk(jqe.executedPlan(), set()):
        if not node.metrics().contains("pythonDataSent"):
            continue
        nodes += 1
        rows += _metric(node, "pythonNumRowsReceived")
        nbytes += _metric(node, "pythonDataSent") + _metric(node, "pythonDataReceived")
    return {"nodes": nodes, "rows": rows, "mb": nbytes / MB}


def jvm_gc_s(spark) -> float:
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(beans.get(i).getCollectionTime() for i in range(beans.size())) / 1e3


def cached_mb(spark, rdd_ids: set[int] | None = None) -> float:
    """In-memory plus on-disk bytes of cached RDDs (of ``rdd_ids`` if given)."""
    total = 0
    for info in spark.sparkContext._jsc.sc().getRDDStorageInfo():
        if rdd_ids is None or info.id() in rdd_ids:
            total += info.memSize() + info.diskSize()
    return total / MB
