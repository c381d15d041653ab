"""Traced-run instrumentation: spans around the engine's public functions,
a py4j call counter, and Spark job metrics attributed by job-id interval.

Wrappers are installed on public names only (module functions and class
methods); each records ``(name, start, end, parent, op)``, where ``op`` is
the benchmark operation open at the time (-1 during set-up). Spark work is attributed to an operation by
the ids of the jobs that started while it ran, not by job group, so work
on threads that escape ``setJobGroup`` is still counted.
"""

from __future__ import annotations

import functools
import time
from collections import defaultdict

# (owner import path, attribute names) wrapped in a traced run
TARGETS = [
    ("index_spark.session", ["get_spark"]),
    ("index_spark.sources.tables", ["load_table"]),
    ("index_spark.catalog", ["read_latest", "commit", "prune"]),
    ("index_spark.snapshots.SnapshotStore", ["commit", "read", "record_snapshot", "vacuum"]),
    (
        "index_spark.snapshots.VersionedIndex",
        ["execute", "read_point", "read_points", "read_range", "compact", "merge_into"],
    ),
    (
        "index_spark.index.SortedIndex",
        ["get", "get_all", "gt", "lt", "range", "prefix", "previous_key", "next_key"],
    ),
    ("index_spark.sharded.ShardedIndex", ["execute", "range", "as_of"]),
]


_MISSING = object()


def _resolve(path: str):
    import importlib

    parts = path.split(".")
    for i in range(len(parts), 0, -1):
        try:
            obj = importlib.import_module(".".join(parts[:i]))
        except ImportError:
            continue
        for p in parts[i:]:
            obj = getattr(obj, p)
        return obj
    raise ImportError(path)


class Tracer:
    """Records spans while installed. A traced run installs it for set-up
    and for every traced operation, and removes it in between, so an
    untraced operation runs the engine's own functions."""

    def __init__(self):
        self.spans: list[list] = []  # [name, start, end, parent_index, op_index]
        self._stack: list[int] = []
        self.op = -1
        self.py4j_calls = 0
        self.parquet_paths = 0
        self._saved: list[tuple] = []  # (owner, attribute, original or _MISSING)
        self._owners = [(_resolve(path), attrs) for path, attrs in TARGETS]

    # -------------------------------------------------------- installation
    def install(self) -> None:
        assert not self._saved, "tracer already installed"
        for owner, attrs in self._owners:
            label = owner.__name__.rsplit(".", 1)[-1]
            for a in attrs:
                self._patch(owner, a, self._wrap(getattr(owner, a), f"{label}.{a}"))
        import py4j.clientserver as cs
        from pyspark.sql.readwriter import DataFrameReader

        send = cs.ClientServerConnection.send_command

        def counted_send(conn, command, *a, **k):
            if self.op >= 0:
                self.py4j_calls += 1
            return send(conn, command, *a, **k)

        self._patch(cs.ClientServerConnection, "send_command", counted_send)
        parquet = DataFrameReader.parquet

        def counted_parquet(reader, *paths, **k):
            if self.op >= 0:
                self.parquet_paths += len(paths)
            return parquet(reader, *paths, **k)

        self._patch(DataFrameReader, "parquet", counted_parquet)

    def uninstall(self) -> None:
        """Put back exactly what ``install`` replaced (an inherited method
        is inherited again)."""
        for owner, a, original in reversed(self._saved):
            if original is _MISSING:
                delattr(owner, a)
            else:
                setattr(owner, a, original)
        self._saved.clear()

    def _patch(self, owner, attr: str, value) -> None:
        self._saved.append((owner, attr, vars(owner).get(attr, _MISSING)))
        setattr(owner, attr, value)

    def _wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*a, **k):
            idx = len(tracer.spans)
            parent = tracer._stack[-1] if tracer._stack else -1
            tracer.spans.append([name, time.perf_counter(), None, parent, tracer.op])
            tracer._stack.append(idx)
            try:
                return fn(*a, **k)
            finally:
                tracer._stack.pop()
                tracer.spans[idx][2] = time.perf_counter()

        return wrapper

    # ------------------------------------------------------------ analysis
    def self_times(self, setup: bool = False) -> dict[str, tuple[int, float, float]]:
        """name → (calls, total seconds, self seconds) over the spans of
        benchmark operations (or of set-up, with ``setup``); self time is a
        span's duration minus the part its child spans cover."""
        child = defaultdict(float)
        for s in self.spans:
            if s[3] >= 0 and s[2] is not None:
                child[s[3]] += s[2] - s[1]
        out: dict[str, list] = defaultdict(lambda: [0, 0.0, 0.0])
        for i, s in enumerate(self.spans):
            if s[2] is None or (s[4] < 0) != setup:
                continue
            d = s[2] - s[1]
            o = out[s[0]]
            o[0] += 1
            o[1] += d
            o[2] += d - child[i]
        return {k: tuple(v) for k, v in out.items()}

    def dump(self, path: str, extra: dict) -> None:
        import json

        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f)


class SparkProbe:
    """Reads job/stage/task metrics for an interval of job ids from the
    status tracker and the app status store (works with the UI off)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.status = self.sc._jsc.sc().statusStore()

    def last_job_id(self) -> int:
        """Id of the newest job submitted, in any job group or none."""
        return int(self.sc._jsc.sc().dagScheduler().nextJobId()) - 1

    def collect(self, first: int, last: int) -> dict:
        """Metrics of jobs first..last (inclusive)."""
        jobs = stages = tasks = 0
        spans = []
        run_ms = cpu_ns = inp = shr = shw = spill = 0
        skew = 1.0
        seen_stages = set()
        for jid in range(first, last + 1):
            try:
                job = self.status.job(jid)
            except Exception:
                continue
            jobs += 1
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                spans.append((sub.get().getTime(), done.get().getTime()))
            sids = job.stageIds()
            for i in range(sids.size()):
                sid = sids.apply(i)
                if sid in seen_stages:
                    continue
                seen_stages.add(sid)
                attempts = self.status.stageData(sid, False, None, False, None)
                for j in range(attempts.size()):
                    sd = attempts.apply(j)
                    if sd.status().toString() == "SKIPPED" or sd.numCompleteTasks() == 0:
                        continue
                    stages += 1
                    tasks += sd.numCompleteTasks()
                    run_ms += sd.executorRunTime()
                    cpu_ns += sd.executorCpuTime()
                    inp += sd.inputBytes()
                    shr += sd.shuffleReadBytes()
                    shw += sd.shuffleWriteBytes()
                    spill += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                    skew = max(skew, self._skew(sid, sd.attemptId(), sd.numCompleteTasks()))
        return {
            "jobs": jobs,
            "stages": stages,
            "tasks": tasks,
            "job_busy_ms": _union_ms(spans),
            "executor_run_ms": run_ms,
            "executor_cpu_ms": cpu_ns / 1e6,
            "input_bytes": inp,
            "shuffle_read_bytes": shr,
            "shuffle_write_bytes": shw,
            "spill_bytes": spill,
            "task_skew": skew,
        }

    def _skew(self, sid: int, attempt: int, n: int) -> float:
        if n < 2:
            return 1.0
        tl = self.status.taskList(sid, attempt, n)
        times = []
        for i in range(tl.size()):
            d = tl.apply(i).duration()
            if d.isDefined():
                times.append(d.get())
        if len(times) < 2:
            return 1.0
        times.sort()
        med = times[(len(times) - 1) // 2]
        return max(times) / med if med > 0 else 1.0


def _union_ms(spans: list[tuple[int, int]]) -> float:
    total = 0
    end = None
    for a, b in sorted(spans):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return float(total)
