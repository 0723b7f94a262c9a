"""Incremental aggregate maintenance: refresh == full recompute, and
the refresh provably scans only the appended directories."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from data_ingestion_project_spark.operators import txn_table
from data_ingestion_project_spark.operators.incremental import refresh_agg

KEYS = ["k"]
SPECS = [
    ("v", "sum", "total"),
    ("v", "min", "lo"),
    ("v", "max", "hi"),
    ("v", "count", "n"),
]


def _df(spark, rows):
    return spark.createDataFrame(rows, "k string, v long")


def _as_map(df):
    return {r.k: (r.total, r.lo, r.hi, r.n) for r in df.collect()}


def _full(spark, path):
    return _as_map(
        txn_table.read(spark, path)
        .groupBy("k")
        .agg(
            F.sum("v").alias("total"),
            F.min("v").alias("lo"),
            F.max("v").alias("hi"),
            F.count(F.lit(1)).alias("n"),
        )
    )


def test_incremental_matches_full_recompute(spark, tmp_path):
    table = str(tmp_path / "t")
    state = str(tmp_path / "s")
    txn_table.create_table(spark, table, _df(spark, [("a", 1), ("a", 2), ("b", 5)]))

    out, info = refresh_agg(spark, table, state, KEYS, SPECS)
    assert info["mode"] == "full"
    assert _as_map(out) == _full(spark, table)

    # append twice; each refresh must scan ONLY the new directory
    txn_table.append(spark, table, _df(spark, [("a", 10), ("c", 7)]))
    out, info = refresh_agg(spark, table, state, KEYS, SPECS)
    assert info == {"mode": "incremental", "scanned_dirs": 1, "version": 1}
    assert _as_map(out) == _full(spark, table)

    txn_table.append(spark, table, _df(spark, [("b", -3)]))
    out, info = refresh_agg(spark, table, state, KEYS, SPECS)
    assert info["mode"] == "incremental" and info["scanned_dirs"] == 1
    assert _as_map(out) == _full(spark, table)

    # no new commits -> no scan at all
    out, info = refresh_agg(spark, table, state, KEYS, SPECS)
    assert info["mode"] == "noop" and info["scanned_dirs"] == 0
    assert _as_map(out) == _full(spark, table)


def test_history_rewrite_falls_back_to_full(spark, tmp_path):
    table = str(tmp_path / "t")
    state = str(tmp_path / "s")
    txn_table.create_table(spark, table, _df(spark, [("a", 1), ("b", 2)]))
    refresh_agg(spark, table, state, KEYS, SPECS)

    # overwrite drops the folded-in directory -> incremental state is
    # unusable and the refresh must say so, not silently merge
    txn_table.overwrite(spark, table, _df(spark, [("z", 100)]))
    out, info = refresh_agg(spark, table, state, KEYS, SPECS)
    assert info["mode"] == "full"
    assert _as_map(out) == _full(spark, table) == {"z": (100, 100, 100, 1)}


def test_expression_columns_and_unmergeable_rejected(spark, tmp_path):
    table = str(tmp_path / "t")
    state = str(tmp_path / "s")
    txn_table.create_table(spark, table, _df(spark, [("a", 3), ("a", 4)]))

    out, _ = refresh_agg(
        spark, table, state, KEYS, [("v * 2", "sum", "double_total")]
    )
    assert out.collect()[0].double_total == 14

    with pytest.raises(ValueError, match="not mergeable"):
        refresh_agg(spark, table, str(tmp_path / "s2"), KEYS, [("v", "avg", "m")])


SUM_SPECS = [("v", "sum", "total"), ("v", "count", "n")]


def _sum_map(df):
    return {r.k: (r.total, r.n) for r in df.collect()}


def test_cdf_refresh_survives_merge_updates_and_deletes(spark, tmp_path):
    """After a file-pruned MERGE (update + insert + delete), a count/sum
    aggregate folds the exact directory delta — added partials minus
    removed partials — instead of recomputing, and still equals the
    full recompute. Fully-deleted groups disappear."""
    table = str(tmp_path / "t")
    state = str(tmp_path / "s")
    txn_table.create_table(spark, table, _df(spark, [("a", 1), ("a", 2), ("b", 5)]))
    txn_table.append(spark, table, _df(spark, [("c", 7), ("c", 3)]))

    out, info = refresh_agg(spark, table, state, KEYS, SUM_SPECS)
    assert info["mode"] == "full"

    # MERGE: update b, delete both c rows, insert d
    txn_table.merge(
        spark, table,
        spark.createDataFrame([("b", 50), ("d", 9)], "k string, v long"),
        key="k",
    )
    txn_table.merge(
        spark, table,
        spark.createDataFrame([("c", 0)], "k string, v long"),
        key="k", when_matched="delete", insert_not_matched=False,
    )
    out, info = refresh_agg(spark, table, state, KEYS, SUM_SPECS)
    assert info["mode"] == "incremental_cdf"
    expected = _sum_map(
        txn_table.read(spark, table).groupBy("k").agg(
            F.sum("v").alias("total"), F.count(F.lit(1)).alias("n")
        )
    )
    assert _sum_map(out) == expected
    assert "c" not in _sum_map(out)  # fully-deleted group dropped

    # and the state keeps working for a subsequent plain append
    txn_table.append(spark, table, _df(spark, [("d", 1)]))
    out, info = refresh_agg(spark, table, state, KEYS, SUM_SPECS)
    assert info["mode"] == "incremental" and info["scanned_dirs"] == 1
    assert _sum_map(out) == _sum_map(
        txn_table.read(spark, table).groupBy("k").agg(
            F.sum("v").alias("total"), F.count(F.lit(1)).alias("n")
        )
    )


def test_cdf_refresh_scans_only_touched_directories(spark, tmp_path):
    """The O(delta) claim under MERGE: with stats stamped, a merge
    touching one of two directories leaves the other carried forward,
    and the refresh scans added+removed (2 dirs), not the table."""
    table = str(tmp_path / "t")
    state = str(tmp_path / "s")
    txn_table.create_table(spark, table, _df(spark, [("a", 1), ("b", 2)]))
    txn_table.append(spark, table, _df(spark, [("z", 100)]))
    txn_table.analyze(spark, table, key="k")
    refresh_agg(spark, table, state, KEYS, SUM_SPECS)

    res = txn_table.merge(
        spark, table,
        spark.createDataFrame([("a", 10)], "k string, v long"),
        key="k",
    )
    assert res["touched_dirs"] == 1 and res["pruned_by_stats"] == 1
    out, info = refresh_agg(spark, table, state, KEYS, SUM_SPECS)
    assert info["mode"] == "incremental_cdf"
    assert info["scanned_dirs"] == 2  # 1 removed + 1 added, never all 3
    assert _sum_map(out)["a"] == (10, 1)
    assert _sum_map(out)["z"] == (100, 1)


def test_minmax_specs_fall_back_to_full_on_rewrite(spark, tmp_path):
    """min/max cannot be un-merged: a deletion could have removed the
    extreme row, so a rewrite with min/max specs must recompute."""
    table = str(tmp_path / "t")
    state = str(tmp_path / "s")
    txn_table.create_table(spark, table, _df(spark, [("a", 1), ("a", 9)]))
    refresh_agg(spark, table, state, KEYS, SPECS)
    txn_table.merge(
        spark, table,
        spark.createDataFrame([("a", 5)], "k string, v long"),
        key="k", when_matched="delete", insert_not_matched=False,
    )
    out, info = refresh_agg(spark, table, state, KEYS, SPECS)
    assert info["mode"] == "full"
    assert _as_map(out) == _full(spark, table)


def test_cdf_refresh_falls_back_to_full_after_vacuum(spark, tmp_path):
    """The removed dirs the CDF fold wants to subtract are exactly what
    vacuum() reclaims — once they're gone the refresh must detect it
    and recompute instead of crashing on a missing path."""
    table = str(tmp_path / "t")
    state = str(tmp_path / "s")
    txn_table.create_table(spark, table, _df(spark, [("a", 1), ("b", 2)]))
    refresh_agg(spark, table, state, KEYS, SUM_SPECS)
    txn_table.merge(
        spark, table,
        spark.createDataFrame([("a", 10)], "k string, v long"),
        key="k",
    )
    txn_table.vacuum(table, min_age_seconds=0)  # reclaims the rewritten dir
    out, info = refresh_agg(spark, table, state, KEYS, SUM_SPECS)
    assert info["mode"] == "full"
    assert _sum_map(out) == {"a": (10, 1), "b": (2, 1)}


def test_refresh_reclaims_only_old_orphan_state_dirs(spark, tmp_path):
    """A state dir no meta pointer names (a refresh that crashed before
    its publish) is reclaimed once it is older than the grace window; a
    young one may be an in-flight refresh and stays, and so does the
    live state."""
    import json
    import os
    import time

    table = str(tmp_path / "t")
    state = str(tmp_path / "s")
    txn_table.create_table(spark, table, _df(spark, [("a", 1), ("b", 5)]))
    refresh_agg(spark, table, state, KEYS, SPECS)
    old, young = os.path.join(state, "crashed_old"), os.path.join(state, "crashed_young")
    os.makedirs(old)
    os.makedirs(young)
    stale = time.time() - txn_table.ORPHAN_GRACE_SECONDS - 60
    os.utime(old, (stale, stale))

    out, info = refresh_agg(spark, table, state, KEYS, SPECS)
    assert info["mode"] == "noop"
    with open(os.path.join(state, "_meta.json"), encoding="utf-8") as fh:
        live = json.load(fh)["state_dir"]
    assert not os.path.exists(old)
    assert os.path.isdir(young)
    assert os.path.isdir(os.path.join(state, live))
    assert _as_map(out) == _full(spark, table)
