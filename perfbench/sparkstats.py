"""Spark-side observation from outside the engine.

- :class:`StatusStore` reads every job and stage the session ran from
  ``SparkContext.statusStore()`` (works with the UI off) and attributes
  them to requests through the job group the benchmark set around each
  call, and to engine functions through the job's call site. It also
  reads the executors' peak JVM heap and peak Spark-managed memory,
  which the executors report only when
  ``spark.executor.metrics.pollingInterval`` is set.
- :func:`plan_metrics` walks a DataFrame's executed physical plan
  (through adaptive-execution wrappers) and returns each operator's SQL
  metrics.

Neither adds a Spark job.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field


@dataclass
class Job:
    job_id: int
    group: str | None
    call_site: str
    start_ms: int
    end_ms: int
    n_tasks: int
    n_failed_tasks: int
    stage_ids: list[int]


@dataclass
class Stage:
    stage_id: int
    run_ms: int
    cpu_ns: int
    shuffle_write_bytes: int
    shuffle_read_bytes: int
    spill_bytes: int
    input_records: int
    n_tasks: int
    n_failed_tasks: int


@dataclass
class StatusStore:
    jobs: list[Job] = field(default_factory=list)
    stages: dict[int, Stage] = field(default_factory=dict)
    # peaks over all executors (in local mode, the driver JVM), as
    # sampled by the executor metrics poller: heap in use, and the
    # execution + storage memory Spark's memory manager handed out
    jvm_heap_peak_bytes: int = 0
    managed_peak_bytes: int = 0

    @classmethod
    def read(cls, spark) -> "StatusStore":
        """Snapshot of all jobs and (completed attempts of) stages."""
        sc = spark.sparkContext
        jvm = sc._jvm
        mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        mapper.registerModule(jvm.com.fasterxml.jackson.module.scala.DefaultScalaModule())
        store = sc._jsc.sc().statusStore()
        raw_jobs = json.loads(mapper.writeValueAsString(store.jobsList(None)))
        no_quantiles = sc._gateway.new_array(jvm.double, 0)
        raw_stages = json.loads(
            mapper.writeValueAsString(store.stageList(None, False, False, no_quantiles, None))
        )
        raw_execs = json.loads(mapper.writeValueAsString(store.executorList(False)))
        peaks = [e.get("peakMemoryMetrics") or {} for e in raw_execs]
        heap = max((int(p.get("JVMHeapMemory", 0)) for p in peaks), default=0)
        managed = max((int(p.get("OnHeapUnifiedMemory", 0)) for p in peaks), default=0)
        jobs = [
            Job(
                j["jobId"], j.get("jobGroup"), j.get("name", ""),
                int(j.get("submissionTime") or 0), int(j.get("completionTime") or 0),
                int(j["numTasks"]), int(j["numFailedTasks"]), list(j["stageIds"]),
            )
            for j in raw_jobs
        ]
        stages: dict[int, Stage] = {}
        for s in raw_stages:
            sid = s["stageId"]
            st = Stage(
                sid, int(s["executorRunTime"]), int(s["executorCpuTime"]),
                int(s["shuffleWriteBytes"]), int(s["shuffleReadBytes"]),
                int(s["memoryBytesSpilled"]) + int(s["diskBytesSpilled"]),
                int(s["inputRecords"]), int(s["numTasks"]), int(s["numFailedTasks"]),
            )
            prev = stages.get(sid)
            if prev is None or st.run_ms >= prev.run_ms:
                stages[sid] = st
        return cls(sorted(jobs, key=lambda j: j.job_id), stages, heap, managed)

    def jobs_in(self, group: str) -> list[Job]:
        return [j for j in self.jobs if j.group == group]

    def job_stages(self, jobs: list[Job]) -> list[Stage]:
        """Stages of ``jobs``; a stage shared by two jobs (a reused
        shuffle) counts once, and a skipped stage (never ran) is absent."""
        seen: set[int] = set()
        out = []
        for j in jobs:
            for sid in j.stage_ids:
                if sid in self.stages and sid not in seen:
                    seen.add(sid)
                    out.append(self.stages[sid])
        return out

    @staticmethod
    def covered_s(jobs: list[Job], lo_ms: float, hi_ms: float) -> float:
        """Seconds of ``[lo_ms, hi_ms]`` during which at least one of
        ``jobs`` was running (union of job intervals)."""
        iv = sorted((max(j.start_ms, lo_ms), min(j.end_ms, hi_ms)) for j in jobs if j.end_ms)
        total, cur_lo, cur_hi = 0.0, None, None
        for a, b in iv:
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    total += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            total += cur_hi - cur_lo
        return total / 1000.0


@dataclass
class PlanNode:
    name: str
    text: str
    metrics: dict[str, int]
    depth: int


def plan_metrics(df) -> list[PlanNode]:
    """Pre-order list of the executed plan's operators with their SQL
    metrics. Call after the DataFrame's action has run."""
    out: list[PlanNode] = []

    def children(p):
        it = p.children().iterator()
        while it.hasNext():
            yield it.next()

    def walk(p, depth):
        cls = p.getClass().getSimpleName()
        inner = []
        if cls == "AdaptiveSparkPlanExec":
            inner = [p.finalPhysicalPlan()]
        elif cls.endswith("QueryStageExec"):
            inner = [p.plan()]
        elif cls == "ReusedExchangeExec":
            inner = [p.child()]
        ms = p.metrics()
        keys = ms.keys().iterator()
        md = {}
        while keys.hasNext():
            k = keys.next()
            md[k] = int(ms.apply(k).value())
        out.append(PlanNode(p.nodeName(), p.simpleString(200), md, depth))
        for c in inner + list(children(p)):
            walk(c, depth + 1)

    walk(df._jdf.queryExecution().executedPlan(), 0)
    return out
