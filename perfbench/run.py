"""The repository's benchmark: one seeded workload, one process, one
client thread issuing operations in a closed loop against a Spark
session at local[nproc].

    python3 perfbench/run.py --workload search_mix --seed 1 --seconds 5 --trace 0

Workloads (see BENCHMARK.json for why each was chosen):
  search_mix   reads through the client facade on a built corpus
  ingest_mix   upsert batches, each followed by the first reads and a
               corpus pass (quality scores, near-dup pairs, kNN
               classification)

Set-up (session, data generation, the warm-up operations and the index
builds they cause) is timed as ``setup_s``. The measured window then
runs whole units (a round of reads, a write cycle) until ``--seconds``
of operation time is spent (default: BENCHMARK.json's run_seconds) and
at least MIN_UNITS units ran. Every result is checked against DuckDB
outside the timed region; wrong or failed operations count in
``failed``. Besides set-up time and storage, the gated figure is CPU
time (all processes of the run) per operation; wall-clock throughput
and latencies are on the report line printed before the result.

With ``--trace 1`` every other operation of a unit is traced, the
other half in the next unit, and the window runs at least two units;
the last line then holds the per-layer metrics (tracing overhead
included, from the two halves), and the spans go to ``.bench_out/``.

``--steady N`` runs every workload N times with different seeds in
child processes and reports each end-to-end metric's spread against
its bound in BENCHMARK.json.

The last line of stdout is the result:
  {"correct": .., "attempted": .., "failed": .., "metrics": {..}}
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import env  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("search_mix", "ingest_mix")
# log kinds of correctness checks made outside the window (no latency)
CHECK_KINDS = ("warmup", "final_read")
# the window always runs at least this many units (search rounds,
# ingest cycles); a traced run at least two. At the benchmark's
# run_seconds the minimum sets the length, so every untraced run times
# the same work: 27 reads, or one write cycle with its corpus pass.
MIN_UNITS = {"search_mix": 3, "ingest_mix": 1}


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=None,
                    help="operation time one run measures "
                         "(default: BENCHMARK.json run_seconds)")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--steady", type=int, default=0, metavar="N",
                    help="steadiness mode: N seeded runs per workload")
    args = ap.parse_args(argv)
    if not args.steady and args.workload is None:
        ap.error("--workload is required")
    if args.seconds is None:
        args.seconds = float(env.load_spec()["run_seconds"])
    if args.seconds <= 0:
        ap.error("--seconds must be positive")
    return args


class Run:
    """State of one benchmark run: session, directories, logs, tracer."""

    def __init__(self, args, spark, run_dir: str):
        import layers
        from sparkmetrics import SparkProbe
        from tracing import Tracer

        self.args, self.spark, self.run_dir = args, spark, run_dir
        self.root = os.path.join(run_dir, "data")
        self.artifacts = os.path.join(run_dir, "artifacts")
        self.trace = bool(args.trace)
        self.log = stats.OpLog()      # untraced operations
        self.tlog = stats.OpLog()     # traced operations
        self.tracer = Tracer()
        self.probe = SparkProbe(spark) if self.trace else None
        self.probes: list[dict] = []
        self.traced_ops: set[int] = set()
        self.next_op = 0
        self.setup_s = 0.0
        self.report: dict = {}
        if self.trace:
            layers.install(self.tracer)
            self.tracer.enable()  # set-up is traced too

    def setup_done(self) -> None:
        self.setup_s = time.perf_counter() - T0

    def execute(self, kind: str, fn, traced: bool, target=None):
        """Time ``fn()`` as one operation; returns (rows, seconds, CPU
        seconds of all the run's processes, error). An exception is the
        operation's failure, not the run's."""
        op_id, self.next_op = self.next_op, self.next_op + 1
        if traced:
            self.tracer.begin_op(op_id)
            self.probe.begin(op_id)
        rows, err = None, None
        cpu = env.tree_cpu_s()
        t = time.perf_counter()
        try:
            rows = fn()
        except Exception as e:  # counted in failed, the loop goes on
            err = f"{type(e).__name__}: {str(e)[:300]}"
        dt = time.perf_counter() - t
        cpu = env.tree_cpu_s() - cpu
        if traced:
            import layers

            self.tracer.end_op()
            self.tracer.count("op.registered_frames", layers.registered_frames())
            df = getattr(target, "last_df", None) if target is not None else None
            self.probes.append(self.probe.end(op_id, df))
            self.traced_ops.add(op_id)
        return rows, dt, cpu, err

    def window(self, units, run_unit) -> float:
        """Run whole units until the operation time reaches ``--seconds``
        and the unit minimum is met. ``run_unit(ops, i)`` asks
        ``traced(i, j)`` for each operation ``j`` of unit ``i``."""
        min_units = MIN_UNITS[self.args.workload]
        if self.trace:
            min_units = max(2, min_units)
        spent, i = 0.0, 0
        while spent < self.args.seconds or i < min_units:
            spent += run_unit(next(units), i)
            i += 1
        if self.trace:
            self.tracer.disable()
        return spent

    def traced(self, i: int, j: int) -> bool:
        """Whether operation ``j`` of unit ``i`` is traced (and switch
        the wraps to match): every other operation, alternating from
        unit to unit, so each position of a unit is traced once in two
        units and both halves see early and late units alike."""
        if not self.trace:
            return False
        on = (i + j) % 2 == 1
        (self.tracer.enable if on else self.tracer.disable)()
        return on

    def record(self, traced: bool, kind: str, dt: float, err: str | None,
               cpu: float | None = None) -> None:
        log = self.tlog if traced else self.log
        if err is None:
            log.ok(kind, dt, cpu)
        else:
            log.fail(kind, err)

    def storage_ratio(self) -> float:
        live, stored = env.storage_bytes(self.root, self.artifacts)
        return stored / live


# ---------------------------------------------------------------------------
# workloads


def search_mix(run: Run) -> dict:
    """Reads through the client facade on a corpus whose derived state
    is built during set-up."""
    import numpy as np

    import datagen
    import workloads as W
    from oracle import Oracle

    seed = run.args.seed
    datagen.tables(seed, run.root, ("documents", "embeddings", "part", "orders"))
    target = W.Target(run.spark, run.root)
    warm_rng = np.random.default_rng([seed, 9])
    warm = [W.read_op(k, warm_rng) for k in W.SEARCH_ROUND]
    warm_rows = [(op, target.run(op)) for op in warm]
    run.setup_done()

    oracle = Oracle(run.root, ["documents", "embeddings", "part", "orders"])
    try:
        def unit(ops, i):
            spent = 0.0
            for j, op in enumerate(ops):
                traced = run.traced(i, j)
                rows, dt, cpu, err = run.execute(
                    op["kind"], lambda: target.run(op), traced, target)
                if err is None:
                    err = W.check(oracle, op, rows)
                run.record(traced, op["kind"], dt, err, cpu)
                spent += dt
            return spent

        spent = run.window(W.search_stream(seed), unit)
        for op, rows in warm_rows:
            run.record(False, "warmup", 0.0, W.check(oracle, op, rows))
    finally:
        oracle.close()
    run.report["stored_bytes_per_data_byte"] = run.storage_ratio()
    return {"spent": spent}


def ingest_mix(run: Run) -> dict:
    """Write cycles on a writable copy of documents and embeddings: an
    upsert batch into each, the first read of each kind on the fresh
    state, steady reads including a fetch on an unrelated collection,
    then a corpus pass over the documents and vectors written so far."""
    import datagen
    import workloads as W
    from oracle import Oracle

    seed = run.args.seed
    datagen.tables(seed, run.root, ("documents", "embeddings", "part"))
    n_docs, n_vecs = datagen.SIZES["documents"], datagen.SIZES["embeddings"]
    target = W.Target(run.spark, run.root)
    # Set-up is one corpus pass: it builds the near-dup index, starts
    # the Python workers the classifiers use and compiles much of what
    # the other operations run. The read indexes are not built here:
    # the first write would drop them.
    for op in W.pipeline_ops():
        target.run(op)
    run.setup_done()

    acked: dict[str, set[int]] = {"documents": set(), "embeddings": set()}
    oracle = Oracle(run.root, ["documents", "embeddings", "part"])
    try:
        def unit(ops, i):
            spent = pass_s = 0.0
            for j, op in enumerate(ops):
                kind = op["kind"]
                if kind == "write":
                    op["frame"] = target.write_frame(op)
                traced = run.traced(i, j)
                rows, dt, cpu, err = run.execute(
                    kind, lambda: target.run(op, run.tracer if traced else None),
                    traced, target)
                spent += dt
                if kind == "write":
                    if err is None:
                        acked[op["collection"]].update(op["batch"]["ids"])
                    if err is None and traced:
                        live = os.path.join(run.root, f"{op['collection']}.parquet")
                        run.tracer.count("op.bytes_written", env.dir_bytes(live))
                        run.tracer.count("op.user_bytes", W.user_bytes(op))
                else:
                    if err is None:
                        err = W.check(oracle, op, rows)
                    if kind == "pipeline":
                        kind, pass_s = op["query"], pass_s + dt
                    kind = ("fresh_" if op.get("fresh") else "") + kind
                run.record(traced, kind, dt, err, cpu)
            docs = n_docs + len([d for d in acked["documents"] if d >= n_docs])
            run.report.setdefault("pipeline_docs_per_s", []).append(docs / pass_s)
            if i == 0:
                run.report["stored_bytes_per_data_byte"] = run.storage_ratio()
            return spent

        spent = run.window(W.ingest_stream(seed, n_docs, n_vecs), unit)
    finally:
        oracle.close()
    # every acknowledged write must be in the table files
    for table, id_col in (("documents", "doc_id"), ("embeddings", "vec_id")):
        missing = acked[table] - W.table_ids(run.root, table, id_col)
        err = f"{len(missing)} acknowledged ids missing" if missing else None
        run.record(False, "final_read", 0.0, err)
    return {"spent": spent}


# ---------------------------------------------------------------------------
# results


def end_to_end(run: Run, out: dict) -> tuple[dict, dict]:
    """(gated metrics, full report) of an untraced run."""
    lat = run.log.latencies
    ops = [t for k, ts in lat.items() if k not in CHECK_KINDS for t in ts]
    op_p50 = stats.median(ops)
    throughput = len(ops) / out["spent"]
    rss = env.peak_rss_mb()
    report = {"setup_s": run.setup_s, "failed_frac": run.log.failed_frac,
              "peak_rss_mb": rss, "op_p50_s": op_p50, "ops": len(ops),
              "throughput_per_s": throughput,
              "cpu_s_per_op": stats.mix_median(run.log.cpu), **run.report}
    try:
        report["op_p90_s"] = stats.percentile(ops, 0.9)
    except stats.TooFewSamples as e:
        report["op_p90_s"] = None
        report["op_p90_note"] = f"{e}; see --steady for the pooled p90"
    for kind, ts in sorted(lat.items()):
        if kind not in CHECK_KINDS and not kind.startswith("fresh_"):
            report[f"{kind}_p50_s"] = stats.median(ts)
    fresh = [t for k, ts in lat.items() if k.startswith("fresh_") for t in ts]
    if fresh:
        report["fresh_read_p50_s"] = stats.median(fresh)
    if "pipeline_docs_per_s" in report:
        report["pipeline_docs_per_s"] = stats.median(report["pipeline_docs_per_s"])
    report["op_latencies"] = [round(t, 5) for t in ops]
    # Wall-clock throughput and latencies stay on the report line: the
    # hypervisor steals from this guest a share of CPU time that changes
    # from run to run (cpu_steal_frac in the context), and they move
    # with it. CPU time per operation moves far less, and storage is
    # exact.
    metrics = {m["name"]: {"value": report[m["name"]], "unit": m["unit"]}
               for m in env.load_spec()["end_to_end"]}
    return metrics, report


def traced_metrics(run: Run) -> dict:
    import layers

    # per-kind ratio of traced to untraced medians, so the mix of kinds
    # in each half cannot move it; their geometric mean, so a kind
    # traced in the later unit and one traced in the earlier unit cancel
    untraced, traced = run.log.latencies, run.tlog.latencies
    ratios = [stats.median(traced[k]) / stats.median(untraced[k])
              for k in untraced if k not in CHECK_KINDS and traced.get(k)]
    overhead = statistics.geometric_mean(ratios) - 1.0
    values = layers.per_layer(run.tracer, run.traced_ops, run.probes, overhead)
    os.makedirs(env.OUT_DIR, exist_ok=True)
    run.tracer.dump(
        os.path.join(env.OUT_DIR, f"trace-{run.args.workload}-{run.args.seed}.json"),
        {"workload": run.args.workload, "seed": run.args.seed,
         "per_layer": values, "moves": layers.MOVES})
    units = {m["name"]: m["unit"] for m in env.load_spec()["per_layer"]}
    return {k: {"value": v, "unit": units[k]} for k, v in values.items()}


def bench(args) -> int:
    # the engine and pyspark must be importable before anything is written
    import weaviate_spark.client  # noqa: F401

    load_before, ticks_before = env.loadavg(), env.cpu_ticks()
    cpus = env.nproc()
    run_dir = env.make_run_dir(f"{args.workload}-{args.seed}")
    try:
        env.confine_temp_files(run_dir)
        spark = env.start_spark(cpus)
        try:
            env.redirect_artifacts(run_dir)
            run = Run(args, spark, run_dir)
            out = {"search_mix": search_mix,
                   "ingest_mix": ingest_mix}[args.workload](run)
            if args.trace:
                metrics, report = traced_metrics(run), {}
            else:
                metrics, report = end_to_end(run, out)
        finally:
            env.stop_spark(spark)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    attempted = run.log.attempted + run.tlog.attempted
    failed = run.log.failed + run.tlog.failed
    print(json.dumps({
        "workload": args.workload,
        "context": env.context(args.seed, cpus, load_before, ticks_before),
        "report": report,
        "errors": run.log.errors + run.tlog.errors,
    }))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


def _terminate(signum, frame):
    # a SIGTERM unwinds like an exception, so the session is stopped
    # and the run directory removed on the way out
    sys.exit(128 + signum)


def main(argv: list[str] | None = None) -> int:
    signal.signal(signal.SIGTERM, _terminate)
    args = parse_args(argv)
    if args.steady:
        import steady

        return steady.main(args)
    return bench(args)


if __name__ == "__main__":
    sys.exit(main())
