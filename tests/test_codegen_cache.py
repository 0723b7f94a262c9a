"""Compile once: a session that serves the same queries again reuses the
classes their first run generated instead of recompiling them.

Spark keeps generated classes in a cache of
``spark.sql.codegen.cache.maxEntries`` entries (100 by default). The
benchmark's seven-query mix generates about 146 classes per pass, so a
cache of the default size evicts them before the next pass and every
later pass recompiles over a hundred. ``session.build_session`` sizes
the cache so that they stay.
"""

from __future__ import annotations

import ast
from pathlib import Path

SF = "/root/testdata/sf0.001"
WORKLOADS = Path(__file__).resolve().parents[1] / "perfbench" / "workloads.py"
# slack for a plan that differs between passes
MAX_RECOMPILED = 8


def query_mix_names(groups: tuple[str, ...] = ("BUILD_HEAVY", "LAZY")) -> list[str]:
    """The query names of the benchmark's ``QUERY_MIX`` (or of some of
    its groups), read from its source so the test follows the mix
    without importing the benchmark."""
    found = {}
    for node in ast.parse(WORKLOADS.read_text()).body:
        name = getattr(node.targets[0], "id", None) if isinstance(node, ast.Assign) else None
        if name in groups:
            found[name] = ast.literal_eval(node.value)
    return [name for g in groups for _, name in found[g]]


def test_repeated_query_mix_stops_compiling(spark):
    from data_ingestion_project_spark.queries import bench_queries

    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    qs = bench_queries()
    names = query_mix_names()
    assert len(names) == 7
    compiled = []
    for _ in range(3):
        before = metrics.METRIC_COMPILATION_TIME().getCount()
        for name in names:
            qs[name](spark, SF).collect()
        compiled.append(metrics.METRIC_COMPILATION_TIME().getCount() - before)
    assert metrics.METRIC_COMPILATION_TIME().getCount() > 0  # the counter is live
    assert compiled[2] <= MAX_RECOMPILED, compiled
