"""Process-level plumbing of one benchmark run: a private run directory
inside the checkout, the Spark session, resource readings from /proc,
and the run's context record."""

from __future__ import annotations

import json
import os
import platform
import shutil
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN_ROOT = os.path.join(REPO, ".bench_run")
OUT_DIR = os.path.join(REPO, ".bench_out")


def load_spec() -> dict:
    """BENCHMARK.json: workloads, metrics with units and bounds, and the
    run length."""
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        return json.load(fh)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def loadavg() -> list[float]:
    return list(os.getloadavg())


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the machine so far: the share of
    time the hypervisor gave to other guests moves every timing."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7] if len(ticks) > 7 else 0, sum(ticks)


def make_run_dir(tag: str) -> str:
    """A fresh directory for everything the run writes: data roots,
    derived artifacts, Spark scratch and temp files."""
    path = os.path.join(RUN_ROOT, f"{tag}-{os.getpid()}")
    shutil.rmtree(path, ignore_errors=True)
    for sub in ("data", "artifacts", "spark-local", "tmp"):
        os.makedirs(os.path.join(path, sub))
    return path


def confine_temp_files(run_dir: str) -> None:
    """Point every temp and scratch location of Python, the JVM and
    Spark into the run directory, before the JVM starts."""
    tmp = os.path.join(run_dir, "tmp")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Djava.io.tmpdir={tmp} "
        f"--conf spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')} "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )


def redirect_artifacts(run_dir: str) -> None:
    """The engine's derived artifacts (BM25 postings, vector codes,
    bucketed tables) default to a fixed directory keyed on source path
    and mtime; a run writes them under its own directory instead, so
    every set-up builds them and the run removes them."""
    from weaviate_spark.operators import bm25, quantization
    from weaviate_spark.sources import bucketed

    art = os.path.join(run_dir, "artifacts")
    bm25.BM25_ARTIFACT_ROOT = os.path.join(art, "bm25")
    quantization.VECTOR_ARTIFACT_ROOT = os.path.join(art, "vecindex")
    bucketed.ARTIFACT_ROOT = os.path.join(art, "bucketed")


def start_spark(cpus: int):
    from weaviate_spark.session import get_spark

    spark = get_spark("perfbench", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def tree_cpu_s() -> float:
    """CPU seconds (user and system) this process and every process
    below it (the JVM, its Python workers) have used so far, with the
    children they reaped. The kernel leaves time stolen by the
    hypervisor out of these, so they do not move with other guests'
    load as wall time does."""
    procs: dict[int, tuple[int, int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:  # the process ended meanwhile
            continue
        # fields after "(comm)": state ppid ... utime stime cutime cstime
        f = stat[stat.rindex(")") + 2:].split()
        procs[int(name)] = (int(f[1]), sum(int(x) for x in f[11:15]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    ticks, stack = 0, [os.getpid()]
    while stack:
        pid = stack.pop()
        ticks += procs.get(pid, (0, 0))[1]
        stack.extend(children.get(pid, ()))
    return ticks / os.sysconf("SC_CLK_TCK")


def _vm_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> float:
    """Peak resident memory (VmHWM) of this process plus the JVM."""
    kb = _vm_kb(os.getpid(), "VmHWM")
    pid = jvm_pid()
    if pid is not None:
        kb += _vm_kb(pid, "VmHWM")
    return kb / 1024.0


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except OSError:
                pass
    return total


def storage_bytes(data_root: str, artifact_root: str) -> tuple[int, int]:
    """(live table bytes, all stored bytes): live tables are the
    ``<name>.parquet`` directories; stored adds their ``__txn__``
    version archives, leftover staging dirs and derived artifacts."""
    live = stored = 0
    for name in os.listdir(data_root):
        n = dir_bytes(os.path.join(data_root, name))
        stored += n
        if name.endswith(".parquet"):
            live += n
    return live, stored + dir_bytes(artifact_root)


def git_commit() -> str:
    """HEAD of the checkout, when it is a git work tree of its own."""
    if not os.path.isdir(os.path.join(REPO, ".git")):
        return "unknown"
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=REPO,
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def context(seed: int, cpus: int, load_before: list[float],
            ticks_before: tuple[int, int]) -> dict:
    import pyspark

    steal, total = (a - b for a, b in zip(cpu_ticks(), ticks_before))
    return {
        "seed": seed,
        "nproc": cpus,
        "loadavg_before": load_before,
        "loadavg_after": loadavg(),
        "cpu_steal_frac": steal / total if total else 0.0,
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
        "git_commit": git_commit(),
        "time": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        "argv": sys.argv[1:],
    }
