"""One in-process profiler: what a block of driver code made Spark do.

    with profile(spark) as rec:
        query(spark, sf_dir).write.format("noop").mode("overwrite").save()
    rec.jobs, rec.totals["tasks"], rec.executions[0]["plan"]

Everything is read over py4j from the running SparkContext, so it works
with ``spark.ui.enabled=false``, which :func:`session.get_spark` sets:

* job and stage counts are the deltas of the DAG scheduler's
  ``nextJobId`` / ``nextStageId``. Ids are dense, so the counts are
  exact and include jobs other threads started during the block. (The
  status tracker's job list is no counter: it is a window of the last
  ``spark.ui.retainedJobs`` jobs.)
* per-stage and per-job rows come from the app status store;
* each SQL execution's post-AQE plan text, job ids and per-node metrics
  come from the SQL status store.

Counts are set when the block exits. The detail is read on first
access, after the listener bus has drained; read it soon, since the
stores keep only the last ``spark.ui.retainedStages`` stages and
``spark.sql.ui.retainedExecutions`` executions.
"""

from __future__ import annotations

import contextlib
import functools
import time

from pyspark.sql import SparkSession

#: stage row key -> StageData getter
STAGE_FIELDS = {
    "tasks": "numCompleteTasks",
    "run_ms": "executorRunTime",
    "gc_ms": "jvmGcTime",
    "input_bytes": "inputBytes",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "memory_spill_bytes": "memoryBytesSpilled",
    "disk_spill_bytes": "diskBytesSpilled",
}


class Record:
    """What one profiled block ran: ``jobs``, ``stages`` and ``wall_s``
    are set on exit; ``job_table``, ``stage_table``, ``totals`` and
    ``executions`` are read from the status stores on first access."""

    def __init__(self, spark: SparkSession) -> None:
        self._gateway = spark.sparkContext._gateway
        self._sc = spark.sparkContext._jsc.sc()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        dag = self._sc.dagScheduler()
        self._j0, self._s0 = dag.nextJobId(), dag.nextStageId()
        self._t0 = time.perf_counter()

    def _close(self) -> None:
        dag = self._sc.dagScheduler()
        self.wall_s = time.perf_counter() - self._t0
        self.job_ids = range(self._j0, dag.nextJobId())
        self.stage_ids = range(self._s0, dag.nextStageId())
        self.jobs, self.stages = len(self.job_ids), len(self.stage_ids)

    @staticmethod
    def _list(seq) -> list:
        """A Scala Seq's elements (indexing costs one round trip each;
        py4j's own list iteration costs several)."""
        return [seq.apply(i) for i in range(seq.size())]

    @functools.cached_property
    def _store(self):
        self._sc.listenerBus().waitUntilEmpty()
        return self._sc.statusStore()

    @functools.cached_property
    def stage_table(self) -> list[dict]:
        """One row per stage the block created (last attempt)."""
        rows = []
        for sid in self.stage_ids:
            s = self._store.lastStageAttempt(sid)
            row = {"id": sid, "attempt": s.attemptId(), "name": s.name(),
                   "status": s.status().toString()}
            rows.append(row | {k: getattr(s, f)() for k, f in STAGE_FIELDS.items()})
        return rows

    @functools.cached_property
    def totals(self) -> dict[str, int]:
        """Every :data:`STAGE_FIELDS` key summed over ``stage_table``."""
        return {k: sum(s[k] for s in self.stage_table) for k in STAGE_FIELDS}

    @functools.cached_property
    def job_table(self) -> list[dict]:
        """One row per job: its stage ids, task count (skipped stages
        included) and the name of its first stage."""
        rows = []
        for jid in self.job_ids:
            j = self._store.job(jid)
            stages = sorted(self._list(j.stageIds()))
            first = self._store.lastStageAttempt(stages[0]).name() if stages else None
            rows.append({"id": jid, "stages": stages, "tasks": j.numTasks(),
                         "first_stage": first})
        return rows

    @functools.cached_property
    def executions(self) -> list[dict]:
        """Each SQL execution that ran at least one of the block's jobs,
        oldest first: id, job ids and the plan text, whose
        ``== Final Plan ==`` section is the post-AQE plan."""
        self._store  # drain the listener bus first
        found: list[dict] = []
        end = self._sql.executionsCount()
        while end > 0:
            start = max(end - 16, 0)
            page = self._list(self._sql.executionsList(start, end - start))
            older = False
            for e in reversed(page):
                jobs = sorted(self._list(e.jobs().keys().toSeq()))
                if any(j in self.job_ids for j in jobs):
                    found.append({"id": e.executionId(), "jobs": jobs,
                                  "plan": e.physicalPlanDescription()})
                older = older or bool(jobs) and jobs[-1] < self._j0
            if older:
                break
            end = start
        return found[::-1]

    def plan_nodes(self, execution_id: int) -> list[dict]:
        """The execution's plan graph: node id, name and output rows
        (the ``number of output rows`` metric, None when it has none)."""
        values = {kv._1(): kv._2() for kv in
                  self._list(self._sql.executionMetrics(execution_id).toSeq())}
        rows = []
        for node in self._list(self._sql.planGraph(execution_id).allNodes()):
            acc = next((m.accumulatorId() for m in self._list(node.metrics())
                        if m.name() == "number of output rows"), None)
            rows.append({"id": node.id(), "name": node.name(), "rows": values.get(acc)})
        return rows

    def task_median_max(self, stage: dict) -> dict:
        """[median, max] over the tasks of one ``stage_table`` row of
        their run time (ms) and shuffle read bytes."""
        qs = self._gateway.new_array(self._gateway.jvm.double, 2)
        qs[0], qs[1] = 0.5, 1.0
        d = self._store.taskSummary(stage["id"], stage["attempt"], qs).get()
        return {"run_ms": self._list(d.executorRunTime()),
                "shuffle_read_bytes": self._list(d.shuffleReadMetrics().readBytes())}


@contextlib.contextmanager
def profile(spark: SparkSession):
    """Yield a :class:`Record` of the wrapped block."""
    rec = Record(spark)
    try:
        yield rec
    finally:
        rec._close()
