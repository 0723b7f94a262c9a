"""Materialize-once publish: the crash-leftover sweep keeps the grace
window and runs only when a rebuild does."""

from __future__ import annotations

import os
import time

from data_ingestion_project_spark.operators.materialize import ensure_materialized
from data_ingestion_project_spark.operators.txn_table import ORPHAN_GRACE_SECONDS


def _build(tmp: str) -> None:
    os.makedirs(tmp)
    with open(os.path.join(tmp, "part-0"), "w") as fh:
        fh.write("rows")
    open(os.path.join(tmp, "_SUCCESS"), "w").close()


def _age(path: str, seconds: float) -> None:
    t = time.time() - seconds
    os.utime(path, (t, t))


def test_rebuild_reclaims_only_old_leftovers(tmp_path):
    warehouse = str(tmp_path / "wh")
    src = tmp_path / "src.parquet"
    src.write_text("v1")
    out = ensure_materialized("ds", str(src), _build, warehouse)
    old = os.path.join(warehouse, "ds__stale_crashed")
    young = os.path.join(warehouse, "ds__build_inflight")
    other = os.path.join(warehouse, "other__stale_crashed")
    for d in (old, young, other):
        os.makedirs(d)
    for d in (old, other):
        _age(d, ORPHAN_GRACE_SECONDS + 60)

    # fresh: the early return runs no sweep
    assert ensure_materialized("ds", str(src), _build, warehouse) == out
    assert os.path.isdir(old)

    # the source changed: the rebuild sweeps this dataset's old leftovers
    _age(os.path.join(out, "_SUCCESS"), 120)
    assert ensure_materialized("ds", str(src), _build, warehouse) == out
    assert not os.path.exists(old)
    assert os.path.isdir(young)  # may be a concurrent in-flight build
    assert os.path.isdir(other)  # another dataset's leftover
    assert os.path.exists(os.path.join(out, "_SUCCESS"))
    assert sorted(os.listdir(warehouse)) == ["ds", "ds__build_inflight", "other__stale_crashed"]
