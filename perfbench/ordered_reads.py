"""``ordered_reads``: the read surface of a versioned store.

A ``SnapshotStore`` over ``lineitem`` keyed on the 4-column unique key, in
12 files. Set-up pins version 0 and two seeded 100-row update commits with
``TemporalIndex.snapshot()``. Each operation takes a fresh handle
(``store.latest()`` or ``find_index(ts)``) and collects its rows.
"""

from __future__ import annotations

import bisect
import os
import random

from perfbench.common import SF_DIR, median, space_amp
from perfbench.model import (
    TableModel,
    check_rows,
    check_state,
    footer_rows,
    read_manifest,
    spark_rows,
)

TABLES = ["lineitem"]
KEY = ["l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"]
ROWS_PER_FILE = 50_000
N_UPDATES = 2
UPDATE_ROWS = 100
# one round: one read of each kind and a second time-travel read (the
# kind with the fewest samples otherwise), shuffled per round
ROUND = ["point", "point_absent", "multi_get", "range", "gt", "prev", "next", "prefix", "time_travel", "time_travel"]
# operation kinds behind each per-role layer metric
ROLES = {"op": sorted(set(ROUND)), "heavy": ["multi_get"], "time_travel": ["time_travel"]}
# operation kinds behind each per-kind latency in the trace file
INDEX_KINDS = {
    "point": ["point", "point_absent"],
    "range": ["range"],
    "seek": ["gt"],
    "prefix": ["prefix"],
    "predecessor": ["prev", "next"],
}
MULTI_GET_KEYS = 32
RANGE_WIDTH = 10  # leading-column window: ~40 rows
GT_LIMIT = 100
_GOLDEN = 0.6180339887498949


def _update_batches(seed: int, model: TableModel, files: list[dict]) -> list[list[tuple]]:
    """Seeded update batches: 100 consecutive keys inside one version-0
    file each. The files are the largest ones, whatever the seed, so the
    rows the commits rewrite (``write_amp``) do not depend on it."""
    rng = random.Random(seed * 7919 + 1)
    q = model.cols.index("l_quantity")
    batches = []
    for i, f in enumerate(sorted(files, key=lambda f: (-f["n_rows"], f["min"]))[:N_UPDATES]):
        lo = bisect.bisect_left(model.base_keys, tuple(f["min"])) + 20  # clear of the file's edges
        start = rng.randrange(lo, lo + f["n_rows"] - 2 * UPDATE_ROWS)
        rows = model.rows_of(model.base_keys[start : start + UPDATE_ROWS])
        batches.append([r[:q] + (r[q] + 1.0 + i,) + r[q + 1 : -1] for r in rows])
    return batches


class Workload:
    def __init__(self, work: str, seed: int):
        self.work = work
        self.seed = seed
        start = random.Random(seed * 7919 + 2)
        self._start = {kind: start.random() for kind in sorted(set(ROUND))}
        self._drawn = dict.fromkeys(self._start, 0)

    def _at(self, kind: str) -> float:
        """The next key position in [0, 1) for ``kind``: a golden-ratio
        sequence from a seeded start. A seek's cost depends on where its key
        lies (``gt`` scans every file past it), so spreading each kind's
        keys evenly keeps runs comparable however many operations they make."""
        self._drawn[kind] += 1
        return (self._start[kind] + self._drawn[kind] * _GOLDEN) % 1.0

    def build_model(self) -> None:
        self.models = [TableModel.from_parquet(os.path.join(SF_DIR, "lineitem.parquet"), KEY, "v0")]
        self.n_leads = self.models[0].base_keys[-1][0] + 1  # l_orderkey is dense from 0

    def setup(self, spark) -> None:
        self.spark = spark
        from pyspark.sql import functions as F

        from index_spark import SnapshotStore, TemporalIndex
        from index_spark.commands import Update
        from index_spark.sources import tables

        li = tables.load_table(self.spark, SF_DIR, "lineitem")
        self.path = os.path.join(self.work, "lineitem")
        self.store = SnapshotStore(self.spark, self.path)
        self.store.create(
            KEY, df=li.withColumn("__version", F.lit("v0")), rows_per_partition=ROWS_PER_FILE
        )
        self.ti = TemporalIndex(self.store)
        self.ts = [self.ti.snapshot()]
        batches = _update_batches(self.seed, self.models[0], read_manifest(self.path)[0]["versions"][0]["files"])
        for i, rows in enumerate(batches):
            writer = f"u{self.seed}-{i}"
            self.store.latest().execute([Update([self.models[0].as_dict(r) for r in rows])], version=writer)
            self.ts.append(self.ti.snapshot())
            m = self.models[-1].copy()
            for r in rows:
                m.put(r + (writer,))
            self.models.append(m)
        self.update_leads = [self.models[0].key_of(rows[0])[0] for rows in batches]

    # ------------------------------------------------------------ timed
    def warmup(self, rec, rng: random.Random) -> None:
        for kind in sorted(set(ROUND)):
            self._op(rec, kind, rng)

    def round(self, rec, rng: random.Random) -> None:
        ops = list(ROUND)
        rng.shuffle(ops)
        for kind in ops:
            self._op(rec, kind, rng)

    def _op(self, rec, kind: str, rng: random.Random) -> None:
        store, model = self.store, self.models[-1]
        cols = model.cols
        keys = model.keys

        def run(action, want, ordered=True):
            rec.run(
                kind,
                lambda: action().collect(),
                lambda rows: check_rows(kind, spark_rows(rows, cols), want, ordered),
            )

        def key() -> tuple:
            return keys[int(self._at(kind) * len(keys))]

        def lead() -> int:
            return int(self._at(kind) * self.n_leads)

        if kind == "point":
            k = key()
            run(lambda: store.latest().read_point(k), model.get(k))
        elif kind == "point_absent":
            k = (lead(), 8, 1, 1)  # l_linenumber stops at 7, so never present
            run(lambda: store.latest().read_point(k), model.get(k))
        elif kind == "multi_get":
            ks = rng.sample(keys, MULTI_GET_KEYS)
            run(lambda: store.latest().read_points(ks), model.get_all(ks), ordered=False)
        elif kind == "range":
            a = lead()
            lo, hi = (a,), (a + RANGE_WIDTH,)
            run(lambda: store.latest().read_range(lo, hi), model.range(lo, hi))
        elif kind == "gt":
            k = key()
            run(lambda: store.latest().gt(k, limit=GT_LIMIT), model.gt(k, GT_LIMIT))
        elif kind == "prev":
            k = key()
            run(lambda: store.latest().previous_key(k), model.previous_key(k))
        elif kind == "next":
            k = key()
            run(lambda: store.latest().next_key(k), model.next_key(k))
        elif kind == "prefix":
            p = (lead(),)
            run(lambda: store.latest().prefix(p), model.prefix(p))
        elif kind == "time_travel":
            # an older snapshot, never the head; half the windows cover rows
            # the later commits changed
            j = rng.randrange(len(self.ts) - 1)
            ts, snap = self.ts[j], self.models[j]
            a = rng.choice(self.update_leads) - rng.randrange(RANGE_WIDTH) if rng.random() < 0.5 else lead()
            lo, hi = (a,), (a + RANGE_WIDTH,)
            run(lambda: self.ti.find_index(ts).read_range(lo, hi), snap.range(lo, hi))
        else:
            raise ValueError(kind)

    # ------------------------------------------------------------ checks
    def final_checks(self) -> list[str]:
        manifest, _ = read_manifest(self.path)
        history = manifest["history"]
        problems = []
        if len(history) != len(self.models):
            problems.append(f"history has {len(history)} snapshots, expected {len(self.models)}")
        for h, m in zip(history, self.models):
            problems += check_state(f"snapshot v{h['version']}", manifest, h["version"], m)
        rows = self._written()
        if sum(f["n_rows"] for f in rows) != footer_rows([f["path"] for f in rows]):
            problems.append("rows written by the update commits: manifest and footers differ")
        return problems

    def _written(self) -> list[dict]:
        """The files the set-up's update commits wrote."""
        manifest, _ = read_manifest(self.path)
        v0 = {f["path"] for f in manifest["versions"][0]["files"]}
        written = {f["path"]: f for row in manifest["versions"][1:] for f in row["files"] if f["path"] not in v0}
        return list(written.values())

    def _amplification(self) -> dict[str, float]:
        return {
            "write_amp": sum(f["n_rows"] for f in self._written()) / (N_UPDATES * UPDATE_ROWS),
            "space_amp": space_amp(self.path, read_manifest(self.path)[0]),
        }

    def layer_extra(self, rec) -> dict[str, float]:
        """The write path as the set-up's update commits drove it."""
        files = self._written()
        rows = sum(f["n_rows"] for f in files)
        return {
            "snapshots.files_touched_per_txn": len(files) / N_UPDATES,
            "snapshots.rows_written_per_txn": rows / N_UPDATES,
            "snapshots.bytes_written_per_txn": sum(os.path.getsize(f["path"]) for f in files) / N_UPDATES,
            "snapshots.rows_written_manifest": rows,
            "snapshots.rows_written_footers": footer_rows([f["path"] for f in files]),
            **{f"snapshots.{k}": v for k, v in self._amplification().items()},
        }

    def details(self, rec) -> dict[str, float]:
        return {f"index.{name}_p50_ms": rec.p50_ms(*kinds) for name, kinds in INDEX_KINDS.items()}

    def end_to_end(self, rec, wall: float) -> dict[str, float]:
        """Reads per second and read latencies; the write and space
        amplification of the set-up's update commits."""
        reads = rec.all_lat(set(ROUND))
        return {
            "ops_per_s": len(reads) / wall,
            "op_p50_ms": median(reads) * 1e3,
            "heavy_p50_ms": rec.p50_ms("multi_get"),
            "time_travel_p50_ms": rec.p50_ms("time_travel"),
            **self._amplification(),
        }
