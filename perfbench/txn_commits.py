"""``txn_commits``: the write path of a versioned store.

A ``TemporalIndex`` over ``orders`` (key ``o_orderkey``) in 15 files. One
round is: a dict transaction, a ``merge_into``, ``snapshot()``, four
time-travel reads of older snapshots, ``compact()`` and ``vacuum()``.
Keys are drawn from the most recent live keys, so file-level
copy-on-write stays in play.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import time

from perfbench.common import SF_DIR, dir_bytes, median, space_amp
from perfbench.model import (
    TableModel,
    canon,
    check_rows,
    check_state,
    footer_rows,
    new_files,
    read_manifest,
    spark_rows,
)

TABLES = ["orders"]
KEY = ["o_orderkey"]
ROWS_PER_FILE = 10_000
ROUND = ["dict", "merge", "snapshot", *["time_travel"] * 4, "compact", "vacuum"]
TXN_KINDS = ("dict", "merge")
# operation kinds behind each per-role layer metric
ROLES = {"op": ["dict"], "heavy": ["merge"], "time_travel": ["time_travel"]}
DICT_UPDATES = 50
DICT_INSERTS = 50
DICT_REMOVES = 10
MERGE_ROWS = 1000  # half new keys, half updates
RECENT_DICT = 2000  # dict transactions touch the newest 2,000 live keys
RECENT_MERGE = 5000
TT_WIDTH = 200

_STATUS = ["F", "O", "P"]
_PRIORITY = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


class Workload:
    def __init__(self, work: str, seed: int):
        self.work = work
        self.seed = seed
        self.n_txn = 0
        self.inserted = self.removed = 0
        self.first_round: dict[str, float] | None = None
        self._zero_counters()

    def _zero_counters(self) -> None:
        """Write accounting of the timed phase (the warm-up is excluded)."""
        self.committed = 0
        self.user_rows = 0
        self.rows_manifest = self.rows_footer = 0
        self.bytes_written = 0
        self.files_touched = 0
        self.version_read_s: list[float] = []
        self.compact_s: list[float] = []
        self.vacuum_s: list[float] = []
        self.bytes_reclaimed = 0

    def build_model(self) -> None:
        self.model = TableModel.from_parquet(os.path.join(SF_DIR, "orders.parquet"), KEY, "v0")
        self.n0 = len(self.model)

    def setup(self, spark) -> None:
        self.spark = spark
        from pyspark.sql import functions as F

        from index_spark import SnapshotStore, TemporalIndex
        from index_spark.sources import tables

        orders = tables.load_table(self.spark, SF_DIR, "orders")
        self.path = os.path.join(self.work, "orders")
        self.store = SnapshotStore(self.spark, self.path)
        self.store.create(
            KEY, df=orders.withColumn("__version", F.lit("v0")), rows_per_partition=ROWS_PER_FILE
        )
        self.ti = TemporalIndex(self.store)
        self.snaps = [(self.ti.snapshot(), self.model.copy())]
        self.schema = self.store.latest().df.drop("__version").schema
        manifest, _ = read_manifest(self.path)
        self.seen = {f["path"] for f in manifest["versions"][-1]["files"]}

    # ------------------------------------------------------------ inputs
    def _writer(self) -> str:
        self.n_txn += 1
        return f"t{self.seed}-{self.n_txn}"

    def _new_row(self, rng: random.Random, k: int) -> tuple:
        date = dt.datetime(1992, 1, 1) + dt.timedelta(days=rng.randrange(2400))
        return (
            k,
            rng.randrange(1, 15_001),
            rng.choice(_STATUS),
            round(rng.uniform(900.0, 550_000.0), 2),
            canon(date),
            rng.choice(_PRIORITY),
        )

    def _changed(self, k: tuple) -> tuple:
        row = self.model.row(k)
        return (row[0], row[1], row[2], round(row[3] + 1.0, 2), row[4], row[5])

    # ------------------------------------------------------------ timed
    def warmup(self, rec, rng: random.Random) -> None:
        self._dict(rec, rng)
        self._merge(rec, rng)
        self._zero_counters()

    def round(self, rec, rng: random.Random) -> None:
        for kind in ROUND:
            getattr(self, f"_{kind}")(rec, rng)
        if self.first_round is None:
            # the pinned history grows by one snapshot a round and the
            # number of rounds depends on speed, so the amplifications are
            # taken at a fixed point: after the first timed round
            self.first_round = {
                "write_amp": self.rows_manifest / self.user_rows,
                "space_amp": space_amp(self.path, read_manifest(self.path)[0]),
            }

    def _dict(self, rec, rng: random.Random) -> None:
        from index_spark.commands import Insert, Remove, Update

        m = self.model
        top = m.keys[-1][0]
        picked = rng.sample(m.keys[-RECENT_DICT:], DICT_UPDATES + DICT_REMOVES)
        upd_keys, rm_keys = picked[:DICT_UPDATES], picked[DICT_UPDATES:]
        new = [self._new_row(rng, top + 1 + i) for i in range(DICT_INSERTS)]
        upd = [self._changed(k) for k in upd_keys]
        wv = self._writer()
        seen_versions: list = []

        def action():
            h = self.store.latest()
            t0 = time.perf_counter()
            got = h.read_points(upd_keys).select(*KEY, "__version").collect()
            self.version_read_s.append(time.perf_counter() - t0)
            seen_versions[:] = got
            cur = {r[0]: r[1] for r in got}
            rows = [dict(m.as_dict(v), __expected_version=cur.get(v[0])) for v in upd]
            return h.execute(
                [
                    Insert([m.as_dict(v) for v in new]),
                    Update(rows),
                    Remove([{"o_orderkey": k[0]} for k in rm_keys]),
                ],
                version=wv,
            )

        want_versions = sorted((k[0], m.row(k)[-1]) for k in upd_keys)
        if rec.run("dict", action) is None:
            return
        rec.problems.extend(
            check_rows("dict version read", sorted(map(tuple, seen_versions)), want_versions, True)
        )
        for v in new + upd:
            m.put(v + (wv,))
        for k in rm_keys:
            m.remove(k)
        self.inserted += DICT_INSERTS
        self.removed += DICT_REMOVES
        self._after_write(rec, DICT_INSERTS + DICT_UPDATES + DICT_REMOVES, "dict")

    def _merge(self, rec, rng: random.Random) -> None:
        m = self.model
        top = m.keys[-1][0]
        half = MERGE_ROWS // 2
        new = [self._new_row(rng, top + 1 + i) for i in range(half)]
        upd = [self._changed(k) for k in rng.sample(m.keys[-RECENT_MERGE:], half)]
        wv = self._writer()

        def action():
            src = self.spark.createDataFrame([m.as_dict(v) for v in new + upd], self.schema)
            return self.store.latest().merge_into(src, version=wv)

        if rec.run("merge", action) is None:
            return
        for v in new + upd:
            m.put(v + (wv,))
        self.inserted += half
        self._after_write(rec, MERGE_ROWS, "merge")

    def _after_write(self, rec, user_rows: int, kind: str) -> None:
        """Account the files the commit wrote, twice: manifest row counts
        and the parquet footers of the new files."""
        self.committed += kind in TXN_KINDS
        self.user_rows += user_rows
        manifest, _ = read_manifest(self.path)
        fresh = new_files(manifest, self.seen)
        self.seen |= {f["path"] for f in fresh}
        self.files_touched += len(fresh)
        self.rows_manifest += sum(f["n_rows"] for f in fresh)
        self.rows_footer += footer_rows([f["path"] for f in fresh])
        self.bytes_written += sum(os.path.getsize(f["path"]) for f in fresh)
        n_rows = manifest["versions"][-1]["n_rows"]
        if n_rows != len(self.model):
            rec.problems.append(f"{kind}: manifest n_rows {n_rows}, model has {len(self.model)}")

    def _snapshot(self, rec, rng: random.Random) -> None:
        ts = rec.run("snapshot", self.ti.snapshot)
        if ts is not None:
            self.snaps.append((ts, self.model.copy()))

    def _time_travel(self, rec, rng: random.Random) -> None:
        ts, snap = self.snaps[rng.randrange(len(self.snaps) - 1)]  # never the newest
        a = rng.choice(snap.keys[-RECENT_MERGE:])[0]
        lo, hi = (a,), (a + TT_WIDTH,)
        rec.run(
            "time_travel",
            lambda: self.ti.find_index(ts).read_range(lo, hi).collect(),
            lambda rows: check_rows("time_travel", spark_rows(rows, snap.cols), snap.range(lo, hi), True),
        )

    def _compact(self, rec, rng: random.Random) -> None:
        t0 = time.perf_counter()
        if rec.run("compact", lambda: self.store.latest().compact()) is not None:
            self.compact_s.append(time.perf_counter() - t0)
            self._after_write(rec, 0, "compact")

    def _vacuum(self, rec, rng: random.Random) -> None:
        before = dir_bytes(self.path)
        t0 = time.perf_counter()
        if rec.run("vacuum", lambda: self.store.vacuum() or True) is not None:
            self.vacuum_s.append(time.perf_counter() - t0)
            self.bytes_reclaimed += before - dir_bytes(self.path)

    # ------------------------------------------------------------ checks
    def final_checks(self) -> list[str]:
        manifest, _ = read_manifest(self.path)
        head = manifest["versions"][-1]
        problems = check_state("live state", manifest, head["version"], self.model)
        want = self.n0 + self.inserted - self.removed
        if head["n_rows"] != want:
            problems.append(f"n_rows {head['n_rows']} != {self.n0} + {self.inserted} - {self.removed}")
        history = manifest["history"]
        if [h["ts"] for h in history] != [ts for ts, _ in self.snaps]:
            problems.append("history timestamps differ from the snapshots taken")
        for h, (_, snap) in zip(history, self.snaps):
            problems += check_state(f"snapshot v{h['version']}", manifest, h["version"], snap)
        if self.rows_manifest != self.rows_footer:
            problems.append(
                f"rows written: manifest says {self.rows_manifest}, footers say {self.rows_footer}"
            )
        return problems

    def layer_extra(self, rec) -> dict[str, float]:
        n = self.committed
        return {
            "snapshots.files_touched_per_txn": self.files_touched / n,
            "snapshots.rows_written_per_txn": self.rows_manifest / n,
            "snapshots.bytes_written_per_txn": self.bytes_written / n,
            "snapshots.rows_written_manifest": self.rows_manifest,
            "snapshots.rows_written_footers": self.rows_footer,
            "snapshots.write_amp": self.first_round["write_amp"],
            "snapshots.space_amp": self.first_round["space_amp"],
        }

    def details(self, rec) -> dict[str, float]:
        return {
            "snapshots.compact_s": median(self.compact_s),
            "snapshots.vacuum_s": median(self.vacuum_s),
            "snapshots.bytes_reclaimed": self.bytes_reclaimed,
            "txn.version_read_p50_ms": median(self.version_read_s) * 1e3,
        }

    def end_to_end(self, rec, wall: float) -> dict[str, float]:
        """Commits per second (maintenance time included), transaction
        latencies, and write and space amplification."""
        return {
            "ops_per_s": self.committed / wall,
            "op_p50_ms": rec.p50_ms("dict"),
            "heavy_p50_ms": rec.p50_ms("merge"),
            "time_travel_p50_ms": rec.p50_ms("time_travel"),
            **self.first_round,
        }
