"""Closed-loop operation runner: times each operation, checks its result
against the model outside the timed interval, and in a traced run
attributes spans, py4j calls and Spark jobs to it."""

from __future__ import annotations

import sys
import time
from collections import defaultdict

from perfbench.common import median
from perfbench.tracing import SparkProbe, Tracer


class Recorder:
    def __init__(self, spark, tracer: Tracer | None):
        self.lat: dict[str, list[float]] = defaultdict(list)
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.tracer = tracer
        self.probe = SparkProbe(spark) if tracer else None
        self.ops: list[dict] = []  # traced run: one record per operation
        self._phase: dict[str, int] = {}  # kind → 0 or 1, by first appearance

    def _traced(self, kind: str) -> bool:
        """Whether this occurrence of ``kind`` runs traced. The occurrences
        of a kind pair up (0-1, 2-3, ...), one traced and one not; pairs
        alternate which comes first (ABBA), and so do the kinds, so a
        process that speeds up as it runs does not bias the overhead."""
        if self.tracer is None:
            return False
        phase = self._phase.setdefault(kind, len(self._phase) % 2)
        n = len(self.lat[kind])
        return (n % 2 == 0) == ((n // 2 + phase) % 2 == 0)

    def run(self, kind: str, action, check=None):
        """Run ``action()`` timed; ``check(result)`` returns problems and
        runs untimed. Returns the action's result (None if it raised)."""
        self.attempted += 1
        tr = self.tracer
        traced = self._traced(kind)
        if traced:
            first_job = self.probe.last_job_id() + 1
            p0, f0 = tr.py4j_calls, tr.parquet_paths
            tr.op = len(self.ops)
            tr.install()
        t0 = time.perf_counter()
        try:
            result = action()
        except Exception as e:  # an operation that raises counts as failed
            self.failed += 1
            print(f"# {kind} failed: {type(e).__name__}: {str(e)[:300]}", file=sys.stderr)
            result = None
        wall = time.perf_counter() - t0
        if tr is not None:
            rec = {"kind": kind, "wall_ms": wall * 1e3, "traced": traced}
            if traced:
                tr.uninstall()
                rec["op"] = tr.op
                tr.op = -1
                rec["py4j_calls"] = tr.py4j_calls - p0
                rec["parquet_paths"] = tr.parquet_paths - f0
                rec.update(self.probe.collect(first_job, self.probe.last_job_id()))
            self.ops.append(rec)
        self.lat[kind].append(wall)
        if result is not None and check is not None:
            self.problems.extend(check(result))
        return result

    # ---------------------------------------------------------- summaries
    def p50_ms(self, *kinds: str) -> float:
        return median([x for k in kinds for x in self.lat[k]]) * 1e3

    def all_lat(self, kinds) -> list[float]:
        return [x for k in kinds for x in self.lat[k]]


TXN_SPANS = ("VersionedIndex.execute", "VersionedIndex.merge_into")


def layer_metrics(rec: Recorder, roles: dict[str, list[str]]) -> dict[str, float]:
    """Per-layer figures from a traced run's operation records and spans.
    ``roles`` maps each per-role metric suffix to the operation kinds that
    fill it. Raises if a figure has nothing to be measured on, so that a
    run never prints a made-up value."""
    tr = rec.tracer
    traced = [o for o in rec.ops if o["traced"]]
    if not traced:
        raise RuntimeError("no traced operation")
    n = len(traced)
    out: dict[str, float] = {}

    def per_op(field: str) -> float:
        return sum(o[field] for o in traced) / n

    for f in ("jobs", "stages", "tasks"):
        out[f"spark.{f}_per_op"] = per_op(f)
    for f in (
        "job_busy_ms",
        "executor_run_ms",
        "executor_cpu_ms",
        "input_bytes",
        "shuffle_read_bytes",
        "shuffle_write_bytes",
        "spill_bytes",
    ):
        out[f"spark.{f}"] = per_op(f)
    out["spark.driver_gap_ms"] = sum(o["wall_ms"] - o["job_busy_ms"] for o in traced) / n
    out["spark.run_minus_cpu_ms"] = out["spark.executor_run_ms"] - out["spark.executor_cpu_ms"]
    out["spark.task_skew"] = max(o["task_skew"] for o in traced)
    out["py4j.calls_per_op"] = per_op("py4j_calls")
    out["snapshots.read_files_per_read"] = per_op("parquet_paths")
    out.update(per_role(rec, roles))
    out["trace.overhead_pct"] = tracing_overhead_pct(rec.ops)

    st = tr.self_times()
    calls = lambda name: st.get(name, (0, 0.0, 0.0))  # noqa: E731
    out["catalog.read_latest_per_op"] = calls("catalog.read_latest")[0] / n
    out["catalog.read_latest_ms"] = calls("catalog.read_latest")[1] * 1e3 / n
    index_self = sum(v[2] for k, v in st.items() if k.startswith("SortedIndex."))
    out["index.plan_build_ms"] = index_self * 1e3 / n
    out.update(_commit_costs(tr.spans))
    return out


def per_role(rec: Recorder, roles: dict[str, list[str]]) -> dict[str, float]:
    """Jobs, driver gap, py4j calls and manifest reads per traced
    operation of each role's kinds."""
    manifest_reads = defaultdict(int)  # op index → catalog.read_latest calls
    for name, _, _, _, op in rec.tracer.spans:
        if name == "catalog.read_latest" and op >= 0:
            manifest_reads[op] += 1
    out = {}
    for role, kinds in roles.items():
        ks = [o for o in rec.ops if o["traced"] and o["kind"] in kinds]
        if not ks:
            raise RuntimeError(f"no traced operation of {kinds}")
        m = len(ks)
        out[f"spark.jobs_per_op.{role}"] = sum(o["jobs"] for o in ks) / m
        out[f"spark.driver_gap_ms.{role}"] = sum(o["wall_ms"] - o["job_busy_ms"] for o in ks) / m
        out[f"py4j.calls_per_op.{role}"] = sum(o["py4j_calls"] for o in ks) / m
        out[f"catalog.read_latest_per_op.{role}"] = sum(manifest_reads[o["op"]] for o in ks) / m
    return out


def tracing_overhead_pct(ops: list[dict]) -> float:
    """Traced against untraced wall time over the paired occurrences of
    each kind (see ``Recorder._traced``), in percent."""
    by_kind = defaultdict(list)
    for o in ops:
        by_kind[o["kind"]].append(o)
    t = u = 0.0
    for seq in by_kind.values():
        for a, b in zip(seq[0::2], seq[1::2]):
            on, off = (a, b) if a["traced"] else (b, a)
            t += on["wall_ms"]
            u += off["wall_ms"]
    if not u:
        raise RuntimeError("no traced/untraced pair of operations")
    return 100.0 * (t / u - 1.0)


def _commit_costs(spans: list) -> dict[str, float]:
    """Mean cost of a transaction (an ``execute`` or ``merge_into`` not
    nested in another) and of the store and catalog commits inside it,
    over the timed operations and the set-up's own transactions."""

    def under_txn(i: int) -> bool:
        p = spans[i][3]
        while p >= 0:
            if spans[p][0] in TXN_SPANS:
                return True
            p = spans[p][3]
        return False

    txn = [s for i, s in enumerate(spans) if s[0] in TXN_SPANS and not under_txn(i)]
    if not txn:
        raise RuntimeError("no traced transaction")
    inner = defaultdict(float)
    for i, s in enumerate(spans):
        if s[0] in ("SnapshotStore.commit", "catalog.commit") and under_txn(i):
            inner[s[0]] += s[2] - s[1]
    return {
        "snapshots.execute_ms": sum(s[2] - s[1] for s in txn) * 1e3 / len(txn),
        "snapshots.store_commit_ms": inner["SnapshotStore.commit"] * 1e3 / len(txn),
        "catalog.commit_ms": inner["catalog.commit"] * 1e3 / len(txn),
    }
