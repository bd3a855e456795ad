"""Outside-in reads of Spark's own counters.

Nothing here touches the program under test: every number comes from the
driver JVM through py4j.

- Stage deltas come from the application status store.  On Spark 4.1
  ``AppStatusStore.stageList`` takes five arguments ``(statuses, details,
  withSummaries, unsortedQuantiles, taskStatus)``; the one-argument form
  raises.  Stages and jobs are listed newest first, so a delta walks the
  list only until it reaches the id recorded by :meth:`SparkCounters.mark`.
- Plan metrics come from the executed plan of the DataFrame the benchmark
  consumed, unwrapping adaptive execution (``AdaptiveSparkPlanExec`` →
  ``executedPlan()``, ``*QueryStageExec`` → ``plan()``).  An
  ``InMemoryTableScan`` is a leaf, so the walk also enters the cached plan
  behind it (``relation().cachedPlan()``).  A cached plan's metrics
  accumulate over every time the cache is computed, so it contributes
  what it gained since the :class:`Mark`: a cache an op builds counts
  once, a cache it only reads counts zero.  The mark snapshots the cached
  plans the probe has already walked and whose cache is still held; one
  it meets for the first time counts in full.

Units, pinned by ``test_counters.py``:

- ``executorRunTime`` is milliseconds summed over tasks, so it exceeds wall
  time when tasks run in parallel.
- ``pythonDataSent`` / ``pythonDataReceived`` are bytes.
- ``pythonTotalTime`` is milliseconds summed over tasks, like
  ``executorRunTime`` (the benchmark does not report it; it is pinned so a
  later reader can quote it).
- ``shuffleWriteBytes`` (stage) equals the plan's ``shuffleBytesWritten``,
  both bytes; ``diskBytesSpilled`` is bytes.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

PY_SENT = "pythonDataSent"
PY_RECV = "pythonDataReceived"


@dataclass(frozen=True)
class Mark:
    stage: int
    job: int
    cached: dict[int, dict[str, int]]   # cached plan id -> its metrics at the mark


@dataclass(frozen=True)
class StageDelta:
    task_s: float              # summed executorRunTime
    jobs: int
    shuffle_write_bytes: int
    spill_bytes: int           # diskBytesSpilled
    stages: int


class SparkCounters:
    def __init__(self, spark: SparkSession, plan_names=(PY_SENT, PY_RECV)):
        """``plan_names``: the SQL metrics :meth:`plan_metrics` sums.  Each
        read is a py4j round trip, so only these are read."""
        sc = spark.sparkContext
        self._cache_manager = spark._jsparkSession.sharedState().cacheManager()
        self._plan_names = tuple(plan_names)
        # plan id -> (RDD id, metrics, nested cached relations) of every
        # cached plan walked whose cache is still held
        self._cached_plans = {}
        self._jsc = sc._jsc
        self._sc = sc._jsc.sc()
        self._jvm = sc._jvm
        self._store = self._sc.statusStore()
        self._asjava = sc._jvm.scala.jdk.javaapi.CollectionConverters.asJava
        self._no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        status store holds the jobs an action just ran."""
        self._sc.listenerBus().waitUntilEmpty()

    def _stages(self):
        return self._asjava(
            self._store.stageList(None, False, False, self._no_quantiles, None)
        )

    def _jobs(self):
        return self._asjava(self._store.jobsList(None))

    def mark(self) -> Mark:
        self.drain()
        live = self.persistent_rdds()      # forget caches released since
        self._cached_plans = {pid: v for pid, v in self._cached_plans.items() if v[0] in live}
        stages, jobs = self._stages(), self._jobs()
        return Mark(
            stage=stages.get(0).stageId() if stages.size() else -1,
            job=jobs.get(0).jobId() if jobs.size() else -1,
            cached={pid: self._sum(refs) for pid, (_, refs, _) in self._cached_plans.items()},
        )

    def delta(self, since: Mark) -> StageDelta:
        """Sum the stages and count the jobs started after ``since``."""
        self.drain()
        run_ms = shuffle = spill = n_stages = 0
        stages = self._stages()
        for i in range(stages.size()):
            s = stages.get(i)
            if s.stageId() <= since.stage:
                break
            if s.status().toString() == "SKIPPED":
                continue
            n_stages += 1
            run_ms += s.executorRunTime()
            shuffle += s.shuffleWriteBytes()
            spill += s.diskBytesSpilled()
        jobs = self._jobs()
        n_jobs = 0
        for i in range(jobs.size()):
            if jobs.get(i).jobId() <= since.job:
                break
            n_jobs += 1
        return StageDelta(run_ms / 1000.0, n_jobs, shuffle, spill, n_stages)

    def _walk(self, root) -> tuple[list, list]:
        """The named SQL metrics of ``root``'s nodes, as ``(name, metric)``
        pairs, and the cached relations behind its ``InMemoryTableScan``
        leaves, whose plans the walk does not enter."""
        refs, relations = [], []
        stack = [root]
        while stack:
            node = stack.pop()
            kind = node.nodeName()
            if kind == "AdaptiveSparkPlan":
                stack.append(node.executedPlan())
                continue
            if kind.endswith("QueryStage"):
                stack.append(node.plan())
                continue
            if kind == "InMemoryTableScan":
                relations.append(node.relation())
            metrics = self._asjava(node.metrics())
            for name in self._plan_names:
                m = metrics.get(name)
                if m is not None:
                    refs.append((name, m))
            stack.extend(self._asjava(node.children()))
        return refs, relations

    def _sum(self, refs) -> dict[str, int]:
        totals = dict.fromkeys(self._plan_names, 0)
        for name, m in refs:
            totals[name] += m.value()
        return totals

    def plan_metrics(self, df: DataFrame, since: Mark) -> dict[str, int]:
        """Sum the plan metrics over the executed plan of ``df`` and the
        cached plans it reads, each cached plan counting what it gained
        since ``since``.  A cached plan is walked once; later reads only
        fetch the values of the metrics found then."""
        refs, relations = self._walk(df._jdf.queryExecution().executedPlan())
        totals = self._sum(refs)
        walked = set()
        while relations:
            relation = relations.pop()
            plan = relation.cachedPlan()
            pid = plan.id()
            if pid in walked:
                continue
            walked.add(pid)
            if pid not in self._cached_plans:
                rdd = relation.cacheBuilder().cachedColumnBuffers().id()
                self._cached_plans[pid] = (rdd, *self._walk(plan))
            _, plan_refs, nested = self._cached_plans[pid]
            relations.extend(nested)
            now = self._sum(plan_refs)
            before = since.cached.get(pid, {})
            for name in self._plan_names:
                totals[name] += now[name] - before.get(name, 0)
        return totals

    def cached_rdd_bytes(self) -> dict[int, int]:
        """Memory plus disk held by each cached RDD, by RDD id."""
        return {i.id(): i.memSize() + i.diskSize() for i in self._sc.getRDDStorageInfo()}

    def cache_rdd_id(self, df: DataFrame) -> int:
        """The id of the RDD that holds ``df``'s cache (``df`` is cached)."""
        data = self._cache_manager.lookupCachedData(df._jdf).get()
        return data.cachedRepresentation().cacheBuilder().cachedColumnBuffers().id()

    def persistent_rdds(self) -> set[int]:
        return {int(k) for k in self._jsc.getPersistentRDDs().keySet()}

    def gc_ms(self) -> int:
        beans = self._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(max(b.getCollectionTime(), 0) for b in beans)


def host_cpu_s() -> tuple[float, float]:
    """Seconds of CPU the whole host spent busy, and seconds the hypervisor
    stole from it, since boot (first line of ``/proc/stat``)."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    user, nice, system, _idle, _iowait, irq, softirq, steal = fields[:8]
    hz = os.sysconf("SC_CLK_TCK")
    return (user + nice + system + irq + softirq) / hz, steal / hz
