"""Self-test of the correctness checkers: each must report a perturbed
result (one row dropped, one value changed, one stale version) as a
failure, and accept the unperturbed one."""

from __future__ import annotations

import os
import tempfile

import pyarrow as pa
import pyarrow.parquet as pq

from perfbench.model import TableModel, check_rows, check_state


def _model() -> TableModel:
    base = pa.table({"k": list(range(50)), "v": [i / 4 for i in range(50)]})
    m = TableModel(base, ["k"], "v0")
    for i in range(0, 50, 3):  # a third of the rows rewritten by "t1"
        m.put((i, i / 4 + 1.0, "t1"))
    m.remove((49,))
    return m


def _perturbed(rows: list[tuple]) -> dict[str, list[tuple]]:
    i = len(rows) // 2
    changed = list(rows)
    changed[i] = (rows[i][0], rows[i][1] + 0.25, rows[i][2])
    stale = list(rows)
    stale[i] = (rows[i][0], rows[i][1], "t0" if rows[i][2] == "v0" else "v0")
    return {"dropped": rows[:i] + rows[i + 1 :], "changed": changed, "stale": stale}


def run_selftest(work: str) -> list[str]:
    """Problems with the checkers themselves (empty when they work)."""
    model = _model()
    want = model.range((10,), (30,))
    problems = []
    if check_rows("exact", list(want), want, True):
        problems.append("check_rows rejects a correct result")
    for name, got in _perturbed(want).items():
        if not check_rows(name, got, want, True):
            problems.append(f"check_rows accepts a result with one row {name}")
    everything = model.range((0,), (49,))
    d = tempfile.mkdtemp(dir=work)
    for name, rows in [("exact", everything)] + list(_perturbed(everything).items()):
        path = os.path.join(d, f"{name}.parquet")
        pq.write_table(pa.table({c: [r[j] for r in rows] for j, c in enumerate(model.cols)}), path)
        manifest = {"versions": [{"version": 0, "n_rows": len(model), "files": [{"path": path}]}]}
        found = check_state(name, manifest, 0, model)
        if (name == "exact") == bool(found):
            problems.append(f"check_state misjudges a stored state with {name} rows: {found}")
    return problems

