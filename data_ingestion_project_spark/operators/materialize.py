"""The one owner of materialization, in executor memory and on disk.

Pins: ``pin(df)`` is ``df.localCheckpoint(eager)``, the package's only
call of it, for a frame several branches read or an iterative round
whose lineage must be cut. Inside ``with pin_scope():``, which each
runner enters around building AND collecting one query, a pin records
its RDD id (not the frame, so a dead round can still be garbage
collected) in its thread's innermost scope. When a pin dies: at scope
exit, by return or exception, the scope unpersists the recorded RDDs
the context still holds, and a frame pinned inside can no longer be
collected; the scope frees no enclosing scope's, other thread's or
``.cache()`` frames. A pin made outside any scope (the ingestion job,
``foreachBatch`` threads) lives until GC or the session's end.

Derived datasets: ``ensure_materialized`` builds a dataset under
``spark-warehouse/`` exactly once per (source, mtime) and atomically
publishes it — the single-node stand-in for a shared derived table a
production pipeline would keep in the lakehouse (the incremental
version of this idea — append new rows instead of rebuild — is
operators/incremental_dedup.py over operators/txn_table.py).

Why it exists: several queries share an expensive derived input (the
day-partitioned events layout; the winnowed fingerprint table feeding
winnow_overlap_top / dup_cluster_sizes / benchmark_contamination).
Rebuilding it per query measures recompute, not the query; at 100 TB
you would materialize once and share. Freshness is keyed on the SOURCE
file's mtime so a regenerated input never serves a stale derivation.

The publish is atomic (build under a uuid tmp dir, ``os.rename`` into
place): a concurrent or crashed build never exposes a half-written
dataset, and a lost rename race simply adopts the winner's copy.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import uuid
from collections.abc import Callable, Iterator
from contextlib import contextmanager
from contextvars import ContextVar

from pyspark import SparkContext
from pyspark.sql import DataFrame

from data_ingestion_project_spark.operators.txn_table import reclaim_orphans

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_SCOPE: ContextVar[list[int] | None] = ContextVar("pin_scope", default=None)


def pin(df: DataFrame, eager: bool = True) -> DataFrame:
    """``df.localCheckpoint(eager)``, recorded in the active pin scope."""
    out = df.localCheckpoint(eager)
    scope = _SCOPE.get()
    if scope is not None:
        scope.append(out._jdf.logicalPlan().rdd().id())
    return out


@contextmanager
def pin_scope() -> Iterator[None]:
    """Unpersist, on exit, every RDD pinned inside (and not in a nested
    scope) that the context still holds."""
    ids: list[int] = []
    token = _SCOPE.set(ids)
    try:
        yield
    finally:
        _SCOPE.reset(token)
        sc = SparkContext._active_spark_context
        if ids and sc is not None:
            held = sc._jsc.getPersistentRDDs()
            for rid in ids:
                rdd = held.get(rid)
                if rdd is not None:
                    rdd.unpersist(False)


def dataset_tag(abs_src_dir: str) -> str:
    """Key by basename AND a path hash — two source roots with the same
    leaf name must not share a materialization."""
    return f"{os.path.basename(abs_src_dir)}_{hashlib.md5(abs_src_dir.encode()).hexdigest()[:8]}"


def ensure_materialized(
    name: str,
    src_file: str,
    build_fn: Callable[[str], None],
    warehouse: str | None = None,
) -> str:
    """Return the path of derived dataset ``name``, building it via
    ``build_fn(tmp_path)`` iff absent or older than ``src_file``.

    ``build_fn`` must write a Spark-style dataset (with ``_SUCCESS``)
    to the tmp path it is given.
    """
    out = os.path.join(warehouse or os.path.join(_REPO_ROOT, "spark-warehouse"), name)
    success = os.path.join(out, "_SUCCESS")
    src_mtime = os.path.getmtime(src_file)
    if os.path.exists(success) and os.path.getmtime(success) >= src_mtime:
        return out
    # Reclaim leftovers from crashed earlier runs: a kill inside the
    # swap below can strand a __stale_ copy (or an unrenamed __build_
    # dir); without this sweep they would leak forever. A YOUNG
    # __build_ dir may be a concurrent in-flight build, so the sweep
    # keeps txn_table's grace window.
    parent, base = os.path.split(out)
    reclaim_orphans(parent, lambda name: name.startswith((f"{base}__stale_", f"{base}__build_")))
    tmp = f"{out}__build_{uuid.uuid4().hex[:12]}"
    try:
        build_fn(tmp)
        stale = None
        if os.path.exists(out):  # stale copy: swap it out
            stale = f"{out}__stale_{uuid.uuid4().hex[:12]}"
            os.rename(out, stale)
        try:
            # publish IMMEDIATELY after unlinking the stale copy — the
            # delete happens after, so a crash between the two renames
            # is the only (tiny) window with no published dataset, and
            # the sweep above reclaims the stranded copy next run
            os.rename(tmp, out)
        except OSError:  # another run won the publish race; keep theirs
            shutil.rmtree(tmp, ignore_errors=True)
        if stale is not None:
            shutil.rmtree(stale, ignore_errors=True)
    except BaseException:
        # a failed/interrupted build must not leak the tmp dir forever
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    return out
