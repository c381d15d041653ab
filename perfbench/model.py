"""Pure-Python model of an ordered, versioned table, and the checkers that
compare engine output against it.

The model is loaded from the fixture parquet with pyarrow and replays the
benchmark's seeded mutation list; it never goes through ``index_spark``.
Store state on disk is read back with pyarrow from the manifest's file
lists, so a state check shares no code path with the engine's reads.

Rows are canonical tuples over ``cols``: timestamps become integer
microseconds, everything else stays a Python scalar.
"""

from __future__ import annotations

import bisect
import datetime as dt
import json
import os
import re

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

_EPOCH = dt.datetime(1970, 1, 1)
_US = dt.timedelta(microseconds=1)


def canon(v):
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return (v - _EPOCH) // _US
    return v


def canon_table(table: pa.Table, cols: list[str]) -> pa.Table:
    """``table`` over ``cols`` with timestamps as int64 microseconds."""
    out = {}
    for c in cols:
        col = table.column(c)
        if pa.types.is_timestamp(col.type):
            col = col.cast(pa.timestamp("us")).cast(pa.int64())
        out[c] = col
    return pa.table(out)


def arrow_rows(table: pa.Table, cols: list[str]) -> list[tuple]:
    """Canonical row tuples of a pyarrow table."""
    t = canon_table(table, cols)
    return list(zip(*(t.column(c).to_pylist() for c in cols)))


def spark_rows(rows, cols: list[str]) -> list[tuple]:
    return [tuple(canon(r[c]) for c in cols) for r in rows]


class TableModel:
    """Live state of a keyed table: the fixture rows (an arrow table sorted
    by key) under an overlay of the rows written since (key → row, or
    ``None`` once removed), plus the sorted list of live keys. Keys are
    tuples over ``key``."""

    def __init__(self, base: pa.Table, key: list[str], version: str):
        base = base.sort_by([(k, "ascending") for k in key])
        self.ts_cols = {f.name for f in base.schema if pa.types.is_timestamp(f.type)}
        base = base.append_column("__version", pa.array([version] * base.num_rows, pa.string()))
        self.base = canon_table(base, base.column_names)
        self.cols = self.base.column_names
        self.key = list(key)
        self._kidx = [self.cols.index(k) for k in key]
        self.base_keys = list(zip(*(self.base.column(k).to_pylist() for k in key)))
        if any(a >= b for a, b in zip(self.base_keys, self.base_keys[1:])):
            raise ValueError(f"fixture key {key} is not unique")
        self.keys = list(self.base_keys)
        self.overlay: dict[tuple, tuple | None] = {}

    @classmethod
    def from_parquet(cls, path: str, key: list[str], version: str) -> "TableModel":
        return cls(pq.read_table(path), key, version)

    def __len__(self) -> int:
        return len(self.keys)

    def key_of(self, row: tuple) -> tuple:
        return tuple(row[i] for i in self._kidx)

    def as_dict(self, row: tuple) -> dict:
        """A canonical row as the engine takes it (timestamps as datetimes),
        without ``__version``."""
        d = dict(zip(self.cols[:-1], row))
        for c in self.ts_cols:
            d[c] = _EPOCH + dt.timedelta(microseconds=d[c])
        return d

    def copy(self) -> "TableModel":
        m = TableModel.__new__(TableModel)
        m.__dict__.update(self.__dict__)
        m.keys, m.overlay = list(self.keys), dict(self.overlay)
        return m

    def _base_index(self, k: tuple) -> int | None:
        i = bisect.bisect_left(self.base_keys, k)
        return i if i < len(self.base_keys) and self.base_keys[i] == k else None

    def _live(self, k: tuple) -> bool:
        if k in self.overlay:
            return self.overlay[k] is not None
        return self._base_index(k) is not None

    # -------------------------------------------------------- mutations
    def put(self, row: tuple) -> None:
        k = self.key_of(row)
        if not self._live(k):
            bisect.insort(self.keys, k)
        self.overlay[k] = row

    def remove(self, k: tuple) -> None:
        self.overlay[k] = None
        del self.keys[bisect.bisect_left(self.keys, k)]

    # ------------------------------------------------------------ reads
    def rows_of(self, keys: list[tuple]) -> list[tuple]:
        """The rows of live ``keys``, in the order given."""
        at = {k: self._base_index(k) for k in keys if k not in self.overlay}
        idx = sorted(set(at.values()))
        fetched = dict(zip(idx, arrow_rows(self.base.take(idx), self.cols))) if idx else {}
        return [self.overlay[k] if k in self.overlay else fetched[at[k]] for k in keys]

    def row(self, k: tuple) -> tuple:
        return self.rows_of([k])[0]

    def get(self, k: tuple) -> list[tuple]:
        return self.rows_of([k]) if self._live(k) else []

    def get_all(self, ks) -> list[tuple]:
        return sorted(self.rows_of([k for k in set(ks) if self._live(k)]))

    def _lo(self, p: tuple, inclusive: bool) -> int:
        """First index whose key is >= p (inclusive) / > p (exclusive),
        comparing only the first len(p) columns (prefix semantics)."""
        n = len(p)
        if inclusive:
            return bisect.bisect_left(self.keys, p)
        i = bisect.bisect_right(self.keys, p)
        while i < len(self.keys) and self.keys[i][:n] == p:
            i += 1
        return i

    def range(self, lo: tuple, hi: tuple) -> list[tuple]:
        return self.rows_of(self.keys[self._lo(lo, True) : self._lo(hi, False)])

    def gt(self, k: tuple, limit: int) -> list[tuple]:
        i = self._lo(k, False)
        return self.rows_of(self.keys[i : i + limit])

    def next_key(self, k: tuple) -> list[tuple]:
        return self.gt(k, 1)

    def previous_key(self, k: tuple) -> list[tuple]:
        i = self._lo(k, True)
        return self.rows_of([self.keys[i - 1]]) if i > 0 else []

    def prefix(self, p: tuple) -> list[tuple]:
        return self.range(p, p)

    def table(self) -> pa.Table:
        """Every live row as a canonical arrow table, in no set order."""
        shadowed = [i for k in self.overlay if (i := self._base_index(k)) is not None]
        keep = pa.array([True] * self.base.num_rows)
        if shadowed:
            keep = pc.invert(pc.is_in(pa.array(range(self.base.num_rows)), pa.array(shadowed)))
        live = [r for r in self.overlay.values() if r is not None]
        written = pa.table(
            {c: pa.array([r[j] for r in live], self.base.schema.field(c).type) for j, c in enumerate(self.cols)}
        )
        return pa.concat_tables([self.base.filter(keep), written])


# ------------------------------------------------------------- checkers
def check_rows(name: str, got: list[tuple], want: list[tuple], ordered: bool) -> list[str]:
    """Problems found comparing an operation's rows with the model's."""
    if not ordered:
        got, want = sorted(got), sorted(want)
    if got == want:
        return []
    if len(got) != len(want):
        return [f"{name}: {len(got)} rows, model has {len(want)}"]
    diff = next(i for i, (a, b) in enumerate(zip(got, want)) if a != b)
    return [f"{name}: row {diff} is {got[diff]!r}, model has {want[diff]!r}"]


_MANIFEST_RE = re.compile(r"^_manifest\.v(\d+)\.json$")


def read_manifest(store_path: str) -> tuple[dict, int]:
    """The newest manifest of a store, read straight from its JSON file,
    and its size in bytes."""
    stamps = [
        int(m.group(1)) for e in os.listdir(store_path) if (m := _MANIFEST_RE.match(e))
    ]
    p = os.path.join(store_path, f"_manifest.v{max(stamps)}.json")
    with open(p) as f:
        return json.load(f), os.path.getsize(p)


def version_row(manifest: dict, version: int) -> dict:
    for row in manifest["versions"]:
        if row["version"] == version:
            return row
    raise KeyError(version)


def check_state(name: str, manifest: dict, version: int, model: TableModel) -> list[str]:
    """A stored version's full contents and manifest row count against the
    model state it should hold."""
    row = version_row(manifest, version)
    problems = []
    if row["n_rows"] != len(model):
        problems.append(f"{name}: manifest n_rows {row['n_rows']}, model has {len(model)}")
    want = model.table()
    order = [(k, "ascending") for k in model.key]
    want = want.sort_by(order)
    stored = pa.concat_tables(
        canon_table(pq.read_table(f["path"], columns=model.cols), model.cols) for f in row["files"]
    )
    got = stored.cast(want.schema).sort_by(order)
    if got.num_rows != want.num_rows:
        problems.append(f"{name}: {got.num_rows} rows stored, model has {want.num_rows}")
    elif not got.equals(want):
        differs = pc.invert(pc.equal(got.column(model.key[0]), want.column(model.key[0])))
        for c in model.cols[1:]:
            differs = pc.or_(differs, pc.invert(pc.equal(got.column(c), want.column(c)).fill_null(False)))
        problems.append(f"{name}: {pc.sum(differs).as_py()} stored rows differ from the model")
    return problems


def new_files(manifest: dict, seen: set[str]) -> list[dict]:
    """Files referenced by the newest version that no earlier check saw."""
    latest = manifest["versions"][-1]["files"]
    return [f for f in latest if f["path"] not in seen]


def footer_rows(paths: list[str]) -> int:
    return sum(pq.ParquetFile(p).metadata.num_rows for p in paths)
