"""Steadiness mode: repeat each workload with different seeds and report
every end-to-end metric's run-to-run spread against its bound.

    python3 perfbench/run.py --steady 10 [--workload W] [--seconds S]

Each run is a child process (the same command the benchmark contract
runs). The spread is the interquartile distance over the median, as
statistics.quantiles(values, n=4) gives it; a metric is steady when its
spread is below a third of its bound, and within bound when the spread
is at most the bound. Tail latency needs more samples than one run holds,
so op_p90_s is given here, pooled over all runs of a workload.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

import stats
from env import REPO, load_spec

HERE = os.path.dirname(os.path.abspath(__file__))


def run_once(workload: str, seed: int, seconds: float) -> tuple[dict, dict]:
    """(result line, report line) of one child run; raises on failure."""
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
           workload, "--seed", str(seed), "--seconds", f"{seconds:g}",
           "--trace", "0"]
    t = time.perf_counter()
    proc = subprocess.run(cmd, cwd=REPO, capture_output=True, text=True,
                          timeout=600)
    wall = time.perf_counter() - t
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        raise RuntimeError(f"{workload} seed {seed} failed "
                           f"(exit {proc.returncode}): {proc.stderr[-2000:]}")
    report = json.loads(lines[-2])
    report["wall_s"] = wall
    return json.loads(lines[-1]), report


def summarize(spec: dict, results: list[dict], reports: list[dict]) -> dict:
    out: dict = {"runs": len(results),
                 "failed_ops": sum(r["failed"] for r in results),
                 "metrics": {}}
    for m in spec["end_to_end"]:
        values = [r["metrics"][m["name"]]["value"] for r in results]
        q1, q2, q3 = statistics.quantiles(values, n=4)
        sp = stats.spread(values)
        out["metrics"][m["name"]] = {
            "median": q2, "q1": q1, "q3": q3, "spread": sp,
            "bound": m["bound"], "within_bound": sp <= m["bound"],
            "steady": sp < m["bound"] / 3}
    # per-kind medians of the report line: printed, not gated
    kinds = sorted({k for rep in reports for k in rep["report"]
                    if k.endswith("_p50_s") and k not in out["metrics"]})
    for k in kinds:
        values = [rep["report"][k] for rep in reports if k in rep["report"]]
        if len(values) >= 2:
            out.setdefault("report_spreads", {})[k] = {
                "median": statistics.median(values),
                "spread": stats.spread(values)}
    pooled = [t for rep in reports for t in rep["report"].get("op_latencies", [])]
    if pooled:
        try:
            out["pooled_op_p90_s"] = stats.percentile(pooled, 0.9)
        except stats.TooFewSamples as e:
            out["pooled_op_p90_s"] = None
            out["pooled_op_p90_note"] = str(e)
        out["pooled_ops"] = len(pooled)
    return out


def main(args) -> int:
    spec = load_spec()
    names = [args.workload] if args.workload else [w["name"] for w in spec["workloads"]]
    summary = {}
    for name in names:
        results, reports = [], []
        for i in range(args.steady):
            res, rep = run_once(name, args.seed + i, args.seconds)
            results.append(res)
            reports.append(rep)
            print(json.dumps({"workload": name, "seed": args.seed + i,
                              "loadavg": rep["context"]["loadavg_before"][0],
                              "steal": round(rep["context"]["cpu_steal_frac"], 4),
                              "wall_s": round(rep["wall_s"], 1),
                              "kinds": {k: round(v, 4) for k, v in rep["report"].items()
                                        if k.endswith("_p50_s")},
                              **res}), flush=True)
        summary[name] = summarize(spec, results, reports)
    print(json.dumps(summary, indent=1))
    ok = all(e["within_bound"] for s in summary.values()
             for e in s["metrics"].values())
    return 0 if ok else 1
