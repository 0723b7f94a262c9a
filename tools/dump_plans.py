"""Generate PLANS.md: plan census for every declared query.

The "explain and iterate" evidence artifact — one table row per query
showing shuffle count, join strategies, codegen, and Python presence,
plus the per-scan pushdown summary for scan-bound queries.

Usage: python tools/dump_plans.py [sf_dir]
"""

from __future__ import annotations

import sys
from pathlib import Path

REPO_ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO_ROOT))

from data_ingestion_project_spark.operators.materialize import pin_scope  # noqa: E402
from data_ingestion_project_spark.plans.explain import plan_census, scan_info  # noqa: E402
from data_ingestion_project_spark.queries import EXCLUDE_FROM_BENCH, all_queries  # noqa: E402
from data_ingestion_project_spark.session import build_session  # noqa: E402

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"


def main() -> None:
    spark = build_session("dump-plans")
    spark.sparkContext.setLogLevel("ERROR")
    rows = []
    for name, fn in all_queries().items():
        with pin_scope():
            df = fn(spark, SF_DIR)
            c = plan_census(df)
            scans = scan_info(df)
        pushed = sum(1 for s in scans if s["pushed_filters"].strip())
        rows.append(
            f"| {name} | {c['n_exchanges']} | {c['n_broadcast_joins']} "
            f"| {c['n_sortmerge_joins'] + c['n_shuffled_hash_joins']} "
            f"| {len(scans)} | {pushed} | {'yes' if c['has_python_udf'] else '—'} "
            f"| {'—' if name in EXCLUDE_FROM_BENCH else 'yes'} |"
        )

    with open(REPO_ROOT / "PLANS.md", "w") as f:
        f.write(
            "# PLANS — physical-plan census of the query inventory\n\n"
            f"Generated by `tools/dump_plans.py` at `{SF_DIR}`. Shuffle/join\n"
            "columns count physical plan nodes pre-AQE (AQE may further\n"
            "coalesce/convert at runtime). Design invariants pinned as tests\n"
            "in `tests/test_plan_shapes.py`: star joins broadcast, kNN\n"
            "shuffle-free, scans pushed+pruned, hot paths Python-free.\n\n"
            "| query | exchanges | broadcast joins | shuffle joins | scans "
            "| scans w/ pushed filters | python | in bench |\n"
            "|---|---|---|---|---|---|---|---|\n"
        )
        f.write("\n".join(rows) + "\n")
    print(f"PLANS.md written ({len(rows)} queries)")


if __name__ == "__main__":
    main()
