"""Spark's own accounting of one benchmark operation (traced run only).

Each operation runs under its own job group. After it finishes, the
listener bus is drained and these are read back through py4j:

* jobs / stages / tasks of the group (status tracker);
* task time, input bytes, shuffle write bytes and spill per stage
  (application status store);
* rows that passed through Python workers, from the SQL metrics of the
  final (post-AQE) plan of every SQL execution that ran those jobs;
* analysis / optimization / planning time from the QueryPlanningTracker
  of the collected DataFrame.
"""

from __future__ import annotations

PHASES = ("analysis", "optimization", "planning")
PYTHON_NODE_MARKS = ("Python", "Pandas", "InArrow")


def _scala_iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def _sum_metric(text: str) -> int:
    """A SQL sum metric's display value: '12,345' -> 12345."""
    head = text.strip().split("\n")[-1].split(" ")[0]
    return int(head.replace(",", "")) if head.replace(",", "").isdigit() else 0


class SparkProbe:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()

    def begin(self, op_id: int) -> None:
        self.sc.setJobGroup(f"perfbench-op-{op_id}", "perfbench", False)

    def end(self, op_id: int, df=None) -> dict[str, float]:
        self._jsc.listenerBus().waitUntilEmpty()
        group = f"perfbench-op-{op_id}"
        self.sc._jsc.clearJobGroup()
        tracker = self.sc.statusTracker()
        job_ids = set(tracker.getJobIdsForGroup(group))
        stage_ids: set[int] = set()
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        out = {"jobs": len(job_ids), "stages": len(stage_ids), "tasks": 0,
               "exec_s": 0.0, "scan_bytes": 0, "shuffle_write_bytes": 0,
               "spill_bytes": 0, "python_rows": 0}
        store = self._jsc.statusStore()
        for sid in stage_ids:
            st = store.lastStageAttempt(sid)
            out["tasks"] += st.numTasks()
            out["exec_s"] += st.executorRunTime() / 1000.0
            out["scan_bytes"] += st.inputBytes()
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        out["python_rows"] = self._python_rows(job_ids)
        if df is not None:
            phases = df._jdf.queryExecution().tracker().phases()
            for p in PHASES:
                opt = phases.get(p)
                out[f"{p}_s"] = opt.get().durationMs() / 1000.0 if opt.isDefined() else 0.0
        return out

    def _python_rows(self, job_ids: set[int]) -> int:
        sql = self.spark._jsparkSession.sharedState().statusStore()
        n = sql.executionsCount()
        rows = 0
        for ex in _scala_iter(sql.executionsList(max(0, n - 50), 50)):
            ex_jobs = {int(j) for j in _scala_iter(ex.jobs().keys())}
            if not ex_jobs & job_ids:
                continue
            values = sql.executionMetrics(ex.executionId())
            for node in _scala_iter(sql.planGraph(ex.executionId()).allNodes()):
                if not any(m in node.name() for m in PYTHON_NODE_MARKS):
                    continue
                for metric in _scala_iter(node.metrics()):
                    if metric.name() == "number of output rows":
                        v = values.get(metric.accumulatorId())
                        if v.isDefined():
                            rows += _sum_metric(v.get())
        return rows
