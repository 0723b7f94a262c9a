"""Physical-plan inspection: the feedback loop for scale tuning.

``plan_census`` distills what matters at 100 TB out of
``explain("formatted")``: how many shuffles, which joins were chosen,
whether Python runs in the row path, what reached the parquet scan
(PushedFilters / ReadSchema). Used by tests to pin plan shapes —
e.g. "this join must be broadcast" — so perf regressions fail loudly
instead of silently shuffling.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    # same JVM helper df.explain() prints through
    jvm = df.sparkSession._jvm
    return jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def executed_plan(df: DataFrame) -> str:
    """Final (post-AQE) physical plan — runs the query. Only the
    executed plan shows WholeStageCodegen stage boundaries and AQE's
    runtime join/partition decisions."""
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def plan_census(df: DataFrame) -> dict[str, object]:
    plan = formatted_plan(df)

    def nodes(kind: str) -> int:
        # count numbered plan nodes "(N) Kind", not the duplicated
        # mentions in the detail section
        return len(re.findall(rf"^\(\d+\) {kind}\b", plan, re.MULTILINE))

    return {
        "n_exchanges": nodes("Exchange"),
        "n_broadcast_joins": nodes("BroadcastHashJoin"),
        "n_sortmerge_joins": nodes("SortMergeJoin"),
        "n_shuffled_hash_joins": nodes("ShuffledHashJoin"),
        "n_bnl_joins": nodes("BroadcastNestedLoopJoin"),
        "n_cartesian": nodes("CartesianProduct"),
        # explicit execution-node markers only: a bare "Python" match
        # also catches "applySchemaToPythonRDD" in the Scan ExistingRDD
        # detail of a tiny createDataFrame dim (driver-local rows, no
        # Python in the row path) — a false positive. "InPandas"
        # catches the Arrow-batched family (MapInPandas,
        # FlatMapGroupsInPandas, ApplyInPandasWithState).
        "has_python_udf": any(
            m in plan
            for m in (
                "BatchEvalPython",
                "ArrowEvalPython",
                "PythonUDF",
                "InPandas",
                "MapInArrow",
            )
        ),
    }


def unbounded_global_windows(df: DataFrame) -> list[str]:
    """Window nodes in the optimized logical plan with an EMPTY
    partition spec and no Limit anywhere beneath them — the
    global-window anti-pattern: every input row moves through ONE
    task, regardless of cluster size. A global window directly over a
    ``GlobalLimit`` (e.g. ranking a top-50 frame that TakeOrdered
    already bounded) is fine and excluded. Returns the offending
    nodes' simpleStrings (empty list == clean plan)."""
    plan = df._jdf.queryExecution().optimizedPlan()

    def children(node):
        seq = node.children()
        return [seq.apply(i) for i in range(seq.size())]

    def has_limit_below(node) -> bool:
        if node.getClass().getSimpleName() in ("GlobalLimit", "LocalLimit"):
            return True
        return any(has_limit_below(c) for c in children(node))

    bad: list[str] = []

    def walk(node) -> None:
        if (
            node.getClass().getSimpleName() == "Window"
            and node.partitionSpec().isEmpty()
            and not has_limit_below(node)
        ):
            bad.append(node.simpleString(120))
        for c in children(node):
            walk(c)

    walk(plan)
    return bad


def scan_info(df: DataFrame) -> list[dict[str, str]]:
    """Per-scan PushedFilters and ReadSchema (pushdown/pruning check)."""
    plan = formatted_plan(df)
    scans = []
    for block in re.split(r"\n\n", plan):
        # detail blocks only — the tree header also mentions "Scan
        # parquet" but carries no ReadSchema/PushedFilters lines
        if not re.match(r"^\(\d+\) Scan parquet", block.strip()):
            continue
        pushed = re.search(r"PushedFilters: \[(.*?)\]", block)
        schema = re.search(r"ReadSchema: (.*)", block)
        location = re.search(r"Location: \S+ \[(.*?)\]", block)
        scans.append(
            {
                "location": location.group(1) if location else "?",
                "pushed_filters": pushed.group(1) if pushed else "",
                "read_schema": schema.group(1) if schema else "",
            }
        )
    return scans
