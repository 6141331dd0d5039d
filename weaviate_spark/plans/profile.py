"""Query profiling (search_get.proto MetadataRequest.query_profile /
QueryProfile reply; usecases/traverser query-profile surface): the
reference returns a per-request phase timing breakdown; the Spark
analogue reads Catalyst's QueryPlanningTracker (analysis /
optimization / planning phase durations, hottest rules), the jobs,
stages and tasks the query ran under its own job group, a node census
of the executed plan tree, the normalized plan hash and measured
execution wall time.

This module is the one place that inspects a query after it runs:
bench.py and tools/dump_plans.py read their plan hashes, job counts and
node counts from the functions below.

Timings are inherently non-deterministic, so this surface is test- and
debug-facing (no SQL oracle, like the reference's own profile output).
"""

from __future__ import annotations

import hashlib
import re
import time
import uuid
from collections import Counter
from typing import Any

from pyspark import SparkContext
from pyspark.sql import DataFrame

# AQE wrappers around an already-planned subtree: unwrapped, not counted
_QUERY_STAGES = ("BroadcastQueryStageExec", "ShuffleQueryStageExec",
                 "TableCacheQueryStageExec", "ResultQueryStageExec")


def plan_sha(df: DataFrame) -> str:
    """Hash of the NORMALIZED executed plan (expression ids, exchange
    ids, codegen numbering, local paths and size statistics stripped),
    so a plan change is detectable separately from machine noise: same
    hash + different time = the machine, different hash = the code."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    norm = re.sub(r"#\d+[A-Za-z]*", "#", plan)       # expr ids
    norm = re.sub(r"\[plan_id=\d+\]", "", norm)       # exchange ids
    norm = re.sub(r"\(\d+\)", "()", norm)             # codegen ids
    norm = re.sub(r"file:[^,\]\s]+", "file:", norm)   # local paths
    norm = re.sub(r"\d+\.\d+ [KMG]i?B", "", norm)     # size stats
    return hashlib.sha256(norm.encode()).hexdigest()[:12]


def executed_node_counts(df: DataFrame) -> dict[str, int]:
    """Node counts over the executed plan TREE (run an action first so
    the AQE final plan exists).

    ``toString()`` prints every InMemoryRelation's full build lineage
    inline under each InMemoryTableScan that reads it, and AQE's initial
    plan next to its final one, so text counts over-report what a
    cache-heavy query executes. This walk unwraps AQE stages to their
    final plans and counts each node once by its name (codegen stage ids
    dropped), with these keys:

    * ``scan:<table>`` — real data-source scans, keyed by parquet file
      stem (``?`` when no path is recognizable);
    * ``InMemoryTableScan`` — cached reads, build lineage not descended;
    * ``ReusedExchange`` — zero-cost references to an exchange already
      counted elsewhere in the tree (not descended);
    * ``ShuffleExchange`` / ``BroadcastExchange`` — executed exchanges.
    """
    c: Counter = Counter()

    def walk(node) -> None:
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            walk(node.executedPlan())
            return
        if cls in _QUERY_STAGES:
            walk(node.plan())
            return
        if cls in ("FileSourceScanExec", "BatchScanExec"):
            m = re.search(r"/([A-Za-z0-9_]+)\.parquet", node.toString())
            c["scan:" + (m.group(1) if m else "?")] += 1
            return
        name = re.sub(r" \(\d+\)$", "", node.nodeName())
        if "InMemoryTableScan" in name:
            name = "InMemoryTableScan"
        elif cls == "ShuffleExchangeExec":
            name = "ShuffleExchange"
        c[name] += 1
        if name in ("InMemoryTableScan", "ReusedExchange"):
            return
        ch = node.children()
        for i in range(ch.size()):
            walk(ch.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return dict(c)


def job_group_counts(sc: SparkContext, group: str) -> dict[str, int]:
    """Jobs, stages and tasks Spark ran under job group ``group``. A
    stage counts once even when several jobs list it, and only if it
    ran: a stage skipped because its shuffle output was reused adds no
    stage or task."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    job_ids = tracker.getJobIdsForGroup(group)
    stage_ids = {sid for jid in job_ids for sid in tracker.getJobInfo(jid).stageIds}
    ran = [st for st in map(tracker.getStageInfo, stage_ids)
           if st is not None and st.numCompletedTasks > 0]
    return {"jobs": len(job_ids), "stages": len(ran),
            "tasks": sum(st.numTasks for st in ran)}


def query_profile(df: DataFrame, execute: bool = True) -> dict[str, Any]:
    """Profile one query DataFrame: returns
    {took_ms, rows, jobs, stages, tasks, phases: {analysis/optimization/
    planning: ms}, top_rules: [(rule, total_ms)], plan_nodes: {node:
    count} (see executed_node_counts), plan_sha, is_adaptive_final}.
    The collect runs under a job group of its own, cleared afterwards.
    With execute=False only planning-side data is collected (the plan is
    still compiled, nothing runs) and the run fields are None."""
    run: dict[str, Any] = dict.fromkeys(("took_ms", "rows", "jobs", "stages", "tasks"))
    if execute:
        # drive THIS DataFrame's own query execution (count() would
        # compile a separate aggregate plan and leave this one
        # analysis-only / isFinalPlan=false)
        sc = df.sparkSession.sparkContext
        group = f"query_profile-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "query_profile", False)
        try:
            t0 = time.time()
            run["rows"] = len(df.collect())
            run["took_ms"] = round((time.time() - t0) * 1000.0, 1)
        finally:
            sc._jsc.clearJobGroup()
        run.update(job_group_counts(sc, group))

    qe = df._jdf.queryExecution()
    phases: dict[str, int] = {}
    it = qe.tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        phases[str(kv._1())] = int(kv._2().durationMs())

    top_rules: list[tuple[str, float]] = []
    rit = qe.tracker().topRulesByTime(5).iterator()
    while rit.hasNext():
        kv = rit.next()
        # RuleSummary(totalTimeNs, numInvocations, numEffectiveInvocations)
        top_rules.append(
            (str(kv._1()).rsplit(".", 1)[-1],
             round(int(kv._2().totalTimeNs()) / 1e6, 2))
        )

    return {
        **run,
        "phases": phases,
        "top_rules": top_rules,
        "plan_nodes": executed_node_counts(df),
        "plan_sha": plan_sha(df),
        "is_adaptive_final": "isFinalPlan=true" in qe.executedPlan().simpleString(25),
    }
