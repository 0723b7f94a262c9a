"""Skew-mitigation measurement (VERDICT r7 ask #5): plant a
pathologically skewed join key — ONE customer owning 20% of all orders
— in a derived corpus off $SPARK_GRAFT_SF_DIR (default scratch/sf10),
run the same orders ⋈ customer sort-merge join + per-row digest with
AQE's skew splitter OFF then ON, and print both wall clocks plus the
executed-plan markers. The numbers go into BASELINE.md; the plan-shape
contract lives in tests/test_skew_mitigation.py.

Protocol notes:
- broadcast is disabled for the probe (the 150k-row customer side
  would otherwise broadcast and hide the skew — at 100 TB the dim
  side of a skewed join is often itself too big to broadcast);
- skew thresholds are scaled to the corpus (4 MB / factor 2) the
  same way production tunes them to executor budgets; the DEFAULT
  256 MB threshold corresponds to the same hot-partition geometry at
  ~60x this corpus;
- ``forceOptimizeSkewedJoin`` is REQUIRED here and documented as the
  production posture for join→same-key-aggregate pipelines: the
  groupBy on the join key makes the SMJ's output partitioning
  load-bearing, so without force AQE (correctly) refuses the split
  to avoid the extra shuffle — measured on this corpus the split +
  re-shuffle still wins by ~1.7x because the hot task, not the
  shuffle, is the critical path;
- per joined row a chained sha2 digest is computed so the probe
  measures a realistic task-CPU profile, not just shuffle IO.

Usage: python tools/skew_demo.py [out_json]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

HOT_SHARE = 0.20


def main() -> None:
    out_path = sys.argv[1] if len(sys.argv) > 1 else None
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sf_dir = os.environ.get(
        "SPARK_GRAFT_SF_DIR", os.path.join(repo, "scratch", "sf10")
    )

    import harness
    from pyspark.sql import functions as F

    from data_ingestion_project_spark.operators.materialize import pin
    from data_ingestion_project_spark.plans.explain import executed_plan
    from data_ingestion_project_spark.sources.readers import table

    spark = harness.session("skew-demo")

    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    hot_key = cust.select(F.min("c_custkey")).first()[0]

    # the planted corpus: 20% of orders re-keyed onto ONE customer
    # (deterministic by orderkey so both runs see identical data),
    # materialized so plant cost is outside both timed runs
    skewed = pin(orders.select(
        F.when(
            F.col("o_orderkey") % 5 == 0, F.lit(hot_key)
        ).otherwise(F.col("o_custkey")).alias("o_custkey"),
        "o_orderkey",
        "o_totalprice",
        "o_orderpriority",
    ))
    n = skewed.count()
    n_hot = skewed.filter(F.col("o_custkey") == hot_key).count()
    print(f"# corpus: {n} orders, hot customer owns {n_hot} ({n_hot/n:.1%})",
          file=sys.stderr)

    def probe():
        j = skewed.join(cust, F.col("o_custkey") == F.col("c_custkey"))
        d = F.concat_ws(
            "|", "o_orderkey", "o_totalprice", "o_orderpriority",
            "c_name", "c_acctbal",
        )
        for _ in range(6):  # task-CPU-bound probe: the hot TASK, not
            d = F.sha2(d, 256)  # the shuffle, must be the critical path
        return (
            j.select("o_custkey", d.alias("d"))
            .groupBy("o_custkey")
            .agg(F.count(F.lit(1)).alias("n"), F.max("d").alias("dmax"))
        )

    conf = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "4m",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "2m",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
    }
    for k, v in conf.items():
        spark.conf.set(k, v)

    # warm both code paths once (codegen compile, parquet cache)
    probe().collect()

    results = {}
    for label, enabled in (("unmitigated", "false"), ("aqe_skew_split", "true")):
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", enabled)
        times = []
        for _ in range(3):
            t0 = time.perf_counter()
            rows = probe().collect()
            times.append(round(time.perf_counter() - t0, 3))
        plan = executed_plan(probe().limit(10**9))
        results[label] = {
            "seconds_median": harness.median(times),
            "seconds_all": times,
            "skew_marker_in_plan": "skew=true" in plan,
            "n_result_rows": len(rows),
        }
        print(f"# {label}: {times} skew_marker={'skew=true' in plan}",
              file=sys.stderr)
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")

    record = {
        "sf_dir": sf_dir,
        "n_orders": n,
        "hot_share": round(n_hot / n, 4),
        **results,
        "speedup": round(
            results["unmitigated"]["seconds_median"]
            / results["aqe_skew_split"]["seconds_median"],
            2,
        ),
    }
    print(json.dumps(record))
    if out_path:
        with open(out_path, "w") as f:
            json.dump(record, f, indent=1, sort_keys=True)
            f.write("\n")


if __name__ == "__main__":
    main()
