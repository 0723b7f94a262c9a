"""Conditional round-robin fanout for single-task expansion stages.

The r12 pass fanned several heavy single-task stages (Python codec
``mapInPandas`` boundaries, the PCA triangle expansion, the GEMM pair
scorer) out to the session cores with an unconditional
``repartition(defaultParallelism)``.  At bench SF that is a pure win:
the input is ONE parquet file, the scan is one task, and the expansion
(the whole compute) serializes behind it.  At 100 TB the same scan
already has thousands of splits and the added round-robin Exchange is
a wasted full-input shuffle — the exact argument that reverted the r12
embeddings-family fanouts (VERDICT r12 "what's wrong" #3).

``fanout_to_cores`` keeps the bench-SF win and removes the scale
hazard: it repartitions ONLY when the input's planned partition count
is below the session's core count, so a well-split input passes
through with NO Exchange in the plan.  The probe
(``df.rdd.getNumPartitions()``) runs at plan-build time on the
already-analyzed plan — no job for scan-shaped inputs; milliseconds of
driver work against a full shuffle avoided.

Precondition: the input must be scan-shaped (scans, projections,
filters — no exchange).  With AQE on, ``.rdd`` on a plan that holds an
exchange (a join or aggregation) materializes its query stages — real
jobs — and the returned frame is a fresh plan that runs them again.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def fanout_to_cores(df: DataFrame) -> DataFrame:
    """Round-robin ``repartition(defaultParallelism)`` iff the input
    plans fewer partitions than the session has cores; identity (no
    Exchange) otherwise.  ``df`` must be scan-shaped (module
    docstring): a joined or aggregated input would run its stages
    twice.  Callers fan out ONLY frames whose per-row work dominates an
    exchange of the selected columns — select the narrow columns first
    (guide §2.3: project before the exchange)."""
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= parallelism:
        return df
    return df.repartition(parallelism)
