"""Process set-up, timing and reporting shared by the perfbench workloads.

Everything a run writes lives under ``<checkout>/.perfbench_work/<pid>``
(stores, Spark local dirs, JVM and Python temp files) and is removed when
the run ends; traces go to ``<checkout>/.perfbench_out``.
"""

from __future__ import annotations

import json
import os
import resource
import shutil
import statistics
import subprocess
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OUT_DIR = os.path.join(ROOT, ".perfbench_out")


class SetupError(RuntimeError):
    """The checkout cannot run the benchmark (engine or fixtures missing)."""


def check_checkout(tables: list[str]) -> None:
    if not os.path.isfile(os.path.join(ROOT, "index_spark", "__init__.py")):
        raise SetupError(f"no index_spark package under {ROOT}")
    for t in tables:
        p = os.path.join(SF_DIR, f"{t}.parquet")
        if not os.path.isfile(p):
            raise SetupError(f"fixture {p} not found (set SPARK_GRAFT_SF_DIR)")


def prepare_env() -> str:
    """Point every temp/scratch location of Python, Spark and the JVM into
    a per-run work dir inside the checkout. Must run before pyspark starts
    its JVM."""
    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' pyspark-shell"
    )
    tempfile.tempdir = None  # re-read TMPDIR
    return work


def start_spark():
    from index_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    return proc.pid if proc is not None else None


def peak_rss_mb() -> float:
    """Peak RSS of the Spark-driver JVM (VmHWM) plus this Python process."""
    jvm_kb = 0
    pid = jvm_pid()
    if pid is not None:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024.0


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of this machine so far, from /proc/stat.
    On a virtual machine, steal is time the host ran someone else."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def shutdown(work: str) -> None:
    """Stop the streaming queries and the session, if one started; wait
    for the JVM to exit; remove the work dir."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    try:
        spark = SparkSession.getActiveSession()
        if spark is not None:
            for q in spark.streams.active:
                q.stop()
            spark.stop()
    finally:
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            try:
                proc.stdin.close()
            except OSError:
                pass
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(d, f))
    return total


def space_amp(store_path: str, manifest: dict) -> float:
    """Bytes under a store directory per byte of the files its newest
    version references."""
    live = sum(os.path.getsize(f["path"]) for f in manifest["versions"][-1]["files"])
    return dir_bytes(store_path) / live


def emit(correct: bool, attempted: int, failed: int, metrics: dict) -> None:
    out = {
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(out), flush=True)
