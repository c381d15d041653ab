#!/usr/bin/env python3
"""Store-first benchmark of the index_spark engine.

    python3 perfbench/run.py --workload ordered_reads --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --workload txn_commits --seed 1 --seconds 15 --repeat 5

A run builds its store from the sf0.1 fixtures, measures whole rounds of
its workload's operations for at least ``--seconds`` (and at least
``MIN_ROUNDS`` rounds), checks every result
against a pure-Python model, and prints one JSON line: ``correct``,
``attempted``, ``failed`` and the end-to-end metrics (``--trace 0``) or the
per-layer metrics (``--trace 1``). See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import random
import signal
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import common  # noqa: E402

WORKLOADS = ("ordered_reads", "txn_commits")
RUN_LIMIT_S = 170  # a run must end within 180 s
# a traced run pairs each operation kind's occurrences, one traced and
# one not; two rounds give every kind at least one pair
MIN_ROUNDS = 2

# per workload: ops_per_s is reads/s or committed transactions/s,
# op_p50_ms a read or a dict transaction, heavy_p50_ms a 32-key
# read_points or a merge_into (see perfbench/README.md)
END_TO_END = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "op_p50_ms": "ms",
    "heavy_p50_ms": "ms",
    "time_travel_p50_ms": "ms",
    "write_amp": "rows/row",
    "space_amp": "B/B",
}

# per role: "op" is any read or a dict transaction, "heavy" a 32-key
# read_points or a merge_into, "time_travel" a read of an older snapshot
ROLES = ("op", "heavy", "time_travel")
PER_LAYER = {
    "session.start_s": "s",
    "session.peak_rss_mb": "MB",
    "sources.load_table_ms": "ms",
    "index.plan_build_ms": "ms",
    "catalog.read_latest_per_op": "count",
    "catalog.read_latest_ms": "ms",
    "catalog.commit_ms": "ms",
    "catalog.manifest_bytes": "B",
    "snapshots.execute_ms": "ms",
    "snapshots.store_commit_ms": "ms",
    "snapshots.files_touched_per_txn": "count",
    "snapshots.rows_written_per_txn": "rows",
    "snapshots.bytes_written_per_txn": "B",
    "snapshots.read_files_per_read": "count",
    "snapshots.rows_written_manifest": "rows",
    "snapshots.rows_written_footers": "rows",
    "snapshots.write_amp": "rows/row",
    "snapshots.space_amp": "B/B",
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.job_busy_ms": "ms",
    "spark.driver_gap_ms": "ms",
    "spark.executor_run_ms": "ms",
    "spark.executor_cpu_ms": "ms",
    "spark.run_minus_cpu_ms": "ms",
    "spark.input_bytes": "B",
    "spark.shuffle_read_bytes": "B",
    "spark.shuffle_write_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.task_skew": "ratio",
    "py4j.calls_per_op": "count",
    **{f"spark.jobs_per_op.{r}": "count" for r in ROLES},
    **{f"spark.driver_gap_ms.{r}": "ms" for r in ROLES},
    **{f"py4j.calls_per_op.{r}": "count" for r in ROLES},
    **{f"catalog.read_latest_per_op.{r}": "count" for r in ROLES},
    "trace.overhead_pct": "%",
}


def since_process_start() -> float:
    """Seconds since this process was started by the OS."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _timeout(signum, frame):
    raise TimeoutError(f"run exceeded {RUN_LIMIT_S} s")


def _terminated(signum, frame):
    raise SystemExit(128 + signum)  # unwinds through the shutdown below


def run_once(workload: str, seed: int, seconds: int, trace: bool) -> int:
    mod = importlib.import_module(f"perfbench.{workload}")
    try:
        common.check_checkout(mod.TABLES)
    except common.SetupError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    signal.signal(signal.SIGALRM, _timeout)
    signal.signal(signal.SIGTERM, _terminated)
    signal.alarm(RUN_LIMIT_S)
    work = common.prepare_env()
    try:
        result = _measure(mod, work, seed, seconds, trace)
    finally:
        common.shutdown(work)
        signal.alarm(0)
    # printed only once the session is down: a run whose shutdown fails
    # prints no result
    common.emit(*result)
    return 0


def _measure(mod, work: str, seed: int, seconds: int, trace: bool) -> tuple:
    """Set up, measure and check one run; returns ``(correct, attempted,
    failed, metrics)``."""
    from perfbench.harness import Recorder
    from perfbench.selftest import run_selftest
    from perfbench.tracing import Tracer

    # the benchmark's own work before the timed phase (its model and the
    # self-test of its checkers) is not part of the program's set-up time
    t_bench = time.perf_counter()
    wl = mod.Workload(work, seed)
    wl.build_model()
    problems = run_selftest(work)
    bench_s = time.perf_counter() - t_bench

    tracer = None
    if trace:
        tracer = Tracer()
        tracer.install()  # set-up spans (op -1)
    t_session = time.perf_counter()
    spark = common.start_spark()
    session_s = time.perf_counter() - t_session
    wl.setup(spark)
    if tracer:
        tracer.uninstall()
    rng = random.Random(seed)
    # JIT and first-use costs are paid once per process: one untimed
    # operation of each kind before the clock starts
    warm = Recorder(spark, None)
    wl.warmup(warm, rng)
    problems += warm.problems
    setup_s = since_process_start() - bench_s
    rec = Recorder(spark, tracer)
    steal0, total0 = common.cpu_ticks()
    t0 = time.perf_counter()
    rounds = 0
    while True:
        wl.round(rec, rng)
        rounds += 1
        if rounds >= MIN_ROUNDS and time.perf_counter() - t0 >= seconds:
            break
    wall = time.perf_counter() - t0
    steal1, total1 = common.cpu_ticks()
    rss = common.peak_rss_mb()
    problems += rec.problems + wl.final_checks()
    print(
        f"# setup {setup_s:.1f} s (session {session_s:.1f} s), benchmark model {bench_s:.1f} s, "
        f"timed {wall:.1f} s ({rounds} rounds), checks {time.perf_counter() - t0 - wall:.1f} s, "
        f"CPU steal while timed {100 * (steal1 - steal0) / max(1, total1 - total0):.1f}%",
        file=sys.stderr,
    )
    print(
        "# p50 ms by kind: "
        + ", ".join(f"{k} {rec.p50_ms(k):.0f} (n={len(v)})" for k, v in sorted(rec.lat.items())),
        file=sys.stderr,
    )
    if trace:
        metrics = _layer_metrics(mod, wl, rec, tracer, session_s, rss)
        os.makedirs(common.OUT_DIR, exist_ok=True)
        tracer.dump(
            os.path.join(common.OUT_DIR, f"trace-{mod.__name__.rsplit('.', 1)[-1]}-{seed}.json"),
            {"ops": rec.ops, "metrics": metrics, "details": _details(wl, rec)},
        )
        missing = sorted(set(PER_LAYER) - set(metrics))
        if missing:
            raise RuntimeError(f"per-layer metrics not measured: {missing}")
        out = {k: (metrics[k], u) for k, u in PER_LAYER.items()}
    else:
        values = {"setup_s": setup_s, **wl.end_to_end(rec, wall)}
        out = {k: (values[k], u) for k, u in END_TO_END.items()}
    for p in problems[:20]:
        print(f"# check failed: {p}", file=sys.stderr)
    return not problems, rec.attempted, rec.failed, out


def _layer_metrics(mod, wl, rec, tracer, session_s: float, rss: float) -> dict:
    from perfbench.harness import layer_metrics
    from perfbench.model import read_manifest

    m = layer_metrics(rec, mod.ROLES)
    setup = tracer.self_times(setup=True)
    m["session.start_s"] = session_s
    m["session.peak_rss_mb"] = rss
    m["sources.load_table_ms"] = setup.get("tables.load_table", (0, 0.0, 0.0))[1] * 1e3
    m["catalog.manifest_bytes"] = read_manifest(wl.path)[1]
    m.update(wl.layer_extra(rec))
    return m


def _details(wl, rec) -> dict:
    """Figures that only one workload has (per-kind latencies, maintenance
    costs) and the per-kind breakdown: written to the trace file, not
    printed, since every printed metric must be measured on every
    workload."""
    from perfbench.harness import per_role

    kinds = sorted({o["kind"] for o in rec.ops})
    return {
        **{f"p50_ms.{k}": rec.p50_ms(k) for k in kinds},
        **per_role(rec, {k: [k] for k in kinds}),
        **wl.details(rec),
    }


def repeat(args) -> int:
    """Run one workload ``--repeat`` times with consecutive seeds and print
    each metric's median, quartiles and quartile spread."""
    values: dict[str, list[float]] = {}
    for i in range(args.repeat):
        cmd = [
            sys.executable, os.path.abspath(__file__), "--workload", args.workload,
            "--seed", str(args.seed + i), "--seconds", str(args.seconds), "--trace", str(args.trace),
        ]
        p = subprocess.run(cmd, capture_output=True, text=True)
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            print(f"seed {args.seed + i}: exit {p.returncode}\n{p.stderr[-2000:]}", file=sys.stderr)
            return 1
        res = json.loads(lines[-1])
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        shown = "" if args.trace else " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items())
        print(f"seed {args.seed + i}: correct={res['correct']} attempted={res['attempted']} "
              f"failed={res['failed']} {shown}", flush=True)
        for line in p.stderr.splitlines():
            if line.startswith("# "):
                print(f"  {line}", flush=True)
    for k, vs in values.items():
        med = statistics.median(vs)
        q1, _, q3 = statistics.quantiles(vs, n=4) if len(vs) > 1 else (vs[0], 0, vs[0])
        spread = (q3 - q1) / med if med else 0.0
        print(f"{k:40s} median {med:12.4f}  q1 {q1:12.4f}  q3 {q3:12.4f}  spread {spread:6.3f}")
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--repeat", type=int, default=0, help="run N seeds and print quartiles")
    args = ap.parse_args()
    if args.repeat:
        return repeat(args)
    return run_once(args.workload, args.seed, args.seconds, bool(args.trace))


if __name__ == "__main__":
    raise SystemExit(main())
