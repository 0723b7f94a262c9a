"""Incremental aggregate maintenance over a transaction-log table.

The 100 TB posture for standing aggregates: a full ``groupBy`` over the
whole table per refresh re-scans everything, but every algebraic
aggregate (count/sum/min/max) is MERGEABLE — partials computed over
*new data only* fold into the stored partials. The txn table
(operators/txn_table.py) makes "new data only" well-defined: each
commit's manifest lists immutable data directories, so the delta
between the state's recorded snapshot and the head is an exact set
difference of directories — no timestamps, no scan-and-compare.

Semantics: refresh cost is O(changed data + |state|), not O(table).
Appends fold in directly. Directory REMOVALS (a file-pruned MERGE
rewriting touched dirs, or an overwrite) fold too for the count/sum
class, because directories are immutable so the head snapshot is
exactly ``previous − removed dirs + added dirs``: the refresh adds
partials over the added dirs and SUBTRACTS partials over the removed
dirs — still O(delta) under a merge that touched one directory of a
thousand. min/max cannot be un-merged (deleting the max row needs a
rescan of its group), so a removal with min/max specs falls back to a
full recompute — correctness never depends on guessing what a
rewrite did.

Exactness note: merging float sums in a different order than a full
recompute gives bitwise-different results; for money-grade columns
pass a decimal-cast column expression (queries/_precision.DEC) so the
partial sums are associative, the same posture as the query library.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestion_project_spark.operators.txn_table import (
    _read_manifest,
    current_version,
    reclaim_orphans,
)

#: aggregate -> (partial over raw rows, merge over partials)
_MERGEABLE = {
    "count": (lambda c: F.count(F.lit(1)), F.sum),
    "sum": (F.sum, F.sum),
    "min": (F.min, F.min),
    "max": (F.max, F.max),
}


def _partial(df: DataFrame, keys: list[str], specs: list[tuple[str, str, str]]) -> DataFrame:
    aggs = []
    for col, fn, alias in specs:
        if fn not in _MERGEABLE:
            raise ValueError(
                f"{fn!r} is not mergeable (supported: {sorted(_MERGEABLE)}); "
                "non-algebraic aggregates (avg, distinct, percentiles) must be "
                "derived from mergeable parts or recomputed"
            )
        aggs.append(_MERGEABLE[fn][0](F.expr(col) if fn != "count" else col).alias(alias))
    return df.groupBy(*[F.col(k) for k in keys]).agg(*aggs)


def _merge(state: DataFrame, delta: DataFrame, keys: list[str], specs) -> DataFrame:
    merged = state.unionByName(delta)
    aggs = [_MERGEABLE[fn][1](alias).alias(alias) for _, fn, alias in specs]
    return merged.groupBy(*[F.col(k) for k in keys]).agg(*aggs)


def _meta_path(state_path: str) -> str:
    return os.path.join(state_path, "_meta.json")


def refresh_agg(
    spark: SparkSession,
    table_path: str,
    state_path: str,
    keys: list[str],
    specs: list[tuple[str, str, str]],
) -> tuple[DataFrame, dict]:
    """Refresh (or initialize) a maintained aggregate.

    ``specs`` rows are ``(column_expr_sql, fn, alias)`` with ``fn`` in
    count/sum/min/max; ``column_expr_sql`` is any SQL expression over
    the table's columns (ignored for count).

    Returns ``(aggregate_df, info)`` where ``info`` records the refresh
    mode (``full`` | ``incremental`` | ``incremental_cdf`` | ``noop``)
    and how many data
    directories were scanned — the auditable "we did NOT rescan the
    table" signal. State is published atomically: data first, then an
    ``os.replace`` of the meta pointer (crash before the replace leaves
    the previous state intact)."""
    head = current_version(table_path)
    if head is None:
        raise FileNotFoundError(f"no txn table at {table_path}")
    manifest = _read_manifest(table_path, head)
    cur_dirs: list[str] = manifest["data_dirs"]

    prev_meta = None
    if os.path.exists(_meta_path(state_path)):
        with open(_meta_path(state_path), encoding="utf-8") as fh:
            prev_meta = json.load(fh)
    # reclaim state dirs no meta pointer references: the leftovers of
    # a refresh that crashed between the parquet write and the
    # os.replace publish (the grace window spares a mis-deployed
    # second writer's in-flight dir)
    live = prev_meta["state_dir"] if prev_meta else None
    reclaim_orphans(state_path, lambda name: name != live)

    def _read_dirs(rels: list[str]) -> DataFrame:
        if not rels:  # e.g. an all-deletes merge emptied the table
            from data_ingestion_project_spark.operators.txn_table import read

            return read(spark, table_path, head)
        return spark.read.parquet(*[os.path.join(table_path, r) for r in rels])

    added = removed = None
    if prev_meta is not None:
        prev_dirs = set(prev_meta["data_dirs"])
        added = [d for d in cur_dirs if d not in prev_dirs]
        removed = [d for d in prev_dirs if d not in set(cur_dirs)]

    sum_class = all(fn in ("count", "sum") for _, fn, _ in specs)
    count_aliases = [alias for _, fn, alias in specs if fn == "count"]

    if prev_meta is not None and not removed:
        state_df = spark.read.parquet(os.path.join(state_path, prev_meta["state_dir"]))
        if not added:
            return state_df, {"mode": "noop", "scanned_dirs": 0, "version": head}
        delta = _partial(_read_dirs(added), keys, specs)
        result = _merge(state_df, delta, keys, specs)
        mode, scanned = "incremental", len(added)
    elif (
        prev_meta is not None
        and sum_class
        and count_aliases
        # the removed dirs are exactly what vacuum() reclaims — if any
        # is already gone, the delta is unrecoverable: recompute full
        and all(os.path.isdir(os.path.join(table_path, d)) for d in removed)
    ):
        # merge/overwrite rewrote directories: fold the exact dir-level
        # delta — add partials over added dirs, subtract over removed.
        state_df = spark.read.parquet(os.path.join(state_path, prev_meta["state_dir"]))
        neg = _partial(_read_dirs(removed), keys, specs).select(
            *keys, *[(-F.col(alias)).alias(alias) for _, _, alias in specs]
        )
        folded = state_df.unionByName(neg)
        if added:
            folded = folded.unionByName(_partial(_read_dirs(added), keys, specs))
        aggs = [_MERGEABLE[fn][1](alias).alias(alias) for _, fn, alias in specs]
        # a group whose rows were all deleted folds to count 0 — drop it,
        # matching what a recompute would produce
        result = (
            folded.groupBy(*[F.col(k) for k in keys])
            .agg(*aggs)
            .filter(F.col(count_aliases[0]) > 0)
        )
        mode, scanned = "incremental_cdf", len(added) + len(removed)
    else:
        # first build, or a rewrite with non-negatable aggregates
        # (min/max) — recompute from the current snapshot
        result = _partial(_read_dirs(cur_dirs), keys, specs)
        mode, scanned = "full", len(cur_dirs)

    rel = uuid.uuid4().hex
    out_dir = os.path.join(state_path, rel)
    result.write.mode("errorifexists").parquet(out_dir)
    # re-read what was written so the returned frame and the stored
    # state are the same bytes (not two evaluations of a nondeterministic plan)
    stored = spark.read.parquet(out_dir)
    tmp = _meta_path(state_path) + f".tmp.{uuid.uuid4().hex}"
    with open(tmp, "w", encoding="utf-8") as fh:
        json.dump({"version": head, "data_dirs": cur_dirs, "state_dir": rel}, fh)
    os.replace(tmp, _meta_path(state_path))
    if prev_meta is not None and prev_meta.get("state_dir"):
        old = os.path.join(state_path, prev_meta["state_dir"])
        if os.path.isdir(old):
            shutil.rmtree(old, ignore_errors=True)
    return stored, {"mode": mode, "scanned_dirs": scanned, "version": head}
