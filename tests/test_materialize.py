"""The materialization owner: the materialize-once publish keeps the
crash-leftover sweep's grace window and sweeps only when it rebuilds;
``pin`` is the package's only ``localCheckpoint``, and a ``pin_scope``
frees exactly the pins made inside it."""

from __future__ import annotations

import ast
import contextvars
import os
import threading
import time
from pathlib import Path

import pytest
from test_codegen_cache import query_mix_names

import data_ingestion_project_spark
from data_ingestion_project_spark.operators.materialize import ensure_materialized, pin, pin_scope
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


def test_only_materialize_calls_local_checkpoint():
    """Every in-memory materialization goes through ``pin``, so a pin
    scope sees all of them."""
    pkg = Path(data_ingestion_project_spark.__file__).parent
    callers = {
        str(f.relative_to(pkg))
        for f in pkg.rglob("*.py")
        for n in ast.walk(ast.parse(f.read_text()))
        if isinstance(n, ast.Call)
        and isinstance(n.func, ast.Attribute)
        and n.func.attr == "localCheckpoint"
    }
    assert callers == {"operators/materialize.py"}


def _rdd_id(df) -> int:
    return df._jdf.logicalPlan().rdd().id()


def test_pin_scope_frees_its_own_pins(spark):
    """Under ``pin_scope`` a query's pins die when the scope exits: the
    persistent RDDs go back to those held at entry, the rows match an
    unscoped run, and a frame pinned inside can no longer be collected.
    A scope frees neither an enclosing scope's pins nor another
    thread's."""
    from data_ingestion_project_spark.queries import bench_queries

    sf = "/root/testdata/sf0.001"
    qs = bench_queries()
    held = lambda: set(spark.sparkContext._jsc.getPersistentRDDs().keySet())  # noqa: E731
    names = query_mix_names(("BUILD_HEAVY",))
    assert len(names) == 4
    pinned = 0
    for name in names:
        entry = held()
        with pin_scope():
            rows = sorted(map(tuple, qs[name](spark, sf).collect()))
            pinned += len(held() - entry)
        assert held() <= entry, name
        # the test itself runs in a scope; an empty context has none
        unscoped = contextvars.Context().run(lambda: qs[name](spark, sf).collect())
        assert rows == sorted(map(tuple, unscoped)), name
    assert pinned > 0

    with pin_scope():
        df = qs[names[0]](spark, sf)
    with pytest.raises(Exception, match="CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND"):
        df.collect()

    theirs = []
    with pin_scope():
        outer = pin(spark.range(10))
        with pin_scope():
            inner = pin(spark.range(5))
        assert _rdd_id(inner) not in held() and _rdd_id(outer) in held()
        t = threading.Thread(target=lambda: theirs.append(pin(spark.range(3))))
        t.start()
        t.join()
    assert _rdd_id(outer) not in held()
    assert _rdd_id(theirs[0]) in held()
    assert theirs[0].count() == 3
    spark.sparkContext._jsc.getPersistentRDDs().get(_rdd_id(theirs[0])).unpersist(False)
