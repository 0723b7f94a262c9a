"""Per-family peak-memory record at the fifth decade (VERDICT r7 ask
#7): the suffix census anecdotally needed SPARK_GRAFT_DRIVER_MEM=48g
at sf10 — this tool turns that anecdote into a table, so the
250 MB/task → production-executor extrapolation is measured per
family, not inferred.

Protocol: each family runs in its OWN subprocess (a JVM's VmHWM is a
monotonic high-water mark — within one long-lived session every later
family would inherit the heaviest predecessor's peak), against the
sf10 corpus with warm tables + prebuilt derived assets (the bench
posture, so the peak prices the QUERY, not cold IO). Recorded per
family:

- ``jvm_peak_gb``   — VmHWM of the local[32] JVM (driver + all 32
  executor threads share it in local mode; this is the number that
  maps to cluster-side executor budgets);
- ``py_peak_gb``    — VmHWM of the Python driver process (collect
  buffers, Arrow batches, driver-side numpy);
- ``max_stage_peak_exec_gb`` — the largest per-stage
  ``peakExecutionMemory`` from Spark's status REST API: unified-
  memory EXECUTION usage (joins/aggs/sorts), the component that
  scales with partition size and decides spill-vs-fit on a real
  executor.

Usage: python tools/memory_highwater.py [out_json] [family ...]
Defaults: MEMORY_HIGHWATER.json, ALL scaling_sweep.HEAVY families.
Runs with whatever SPARK_GRAFT_DRIVER_MEM the caller sets (the record
should state it; 48g matches the committed SCALING.json protocol).

r10: each family is measured at TWO decades (env
SPARK_GRAFT_MEMHW_SFS, default "sf1,sf10"; each label resolves through
harness.decade_dir and must have rows in SCALING.json) and the
record carries a per-family MEMORY-vs-rows slope beta =
log(peak_ratio) / log(rows_ratio) for both the stage execution peak
(the cluster-executor-relevant number) and the whole-JVM high-water
(which includes a multi-GB constant heap baseline, so its beta
understates growth for small peaks — read it together with the
absolute value). ``seconds`` here is informational only (sweeps may
run on a contended machine); SCALING.json is the timing record.
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def measure(spark, name: str, sf_dir: str) -> dict:
    """Child body (harness.run_child): one family against warm tables and
    prebuilt derived assets, so the peak prices the QUERY, not cold IO.
    The sixth-decade families are scan/shuffle-bound and read no asset,
    so an sf100 pass may set SPARK_GRAFT_SKIP_ASSET_WARM=1 (see
    harness.warm) to skip the hour-scale unrelated asset builds."""
    import harness
    from data_ingestion_project_spark.queries import all_queries

    fn = all_queries().get(name)
    if fn is None:  # import-gated family (e.g. the Pillow twin)
        return {"family": name, "skipped": "not registered in this env"}
    harness.warm(spark, sf_dir)
    secs, n = harness.time_query(spark, fn, sf_dir)
    return {"family": name, "seconds": secs, "rows": n}


def main() -> None:
    import harness
    from scaling_sweep import HEAVY

    args = sys.argv[1:]
    out_path = args[0] if args else os.path.join(REPO, "MEMORY_HIGHWATER.json")
    families = tuple(args[1:]) or tuple(sorted(HEAVY))
    sf_labels = os.environ.get("SPARK_GRAFT_MEMHW_SFS", "sf1,sf10").split(",")
    with open(os.path.join(REPO, "SCALING.json")) as f:
        scaling_rows = json.load(f)["rows"]
    # the betas divide by SCALING.json's driving rows per decade
    for lbl in sf_labels:
        if lbl not in scaling_rows:
            print(f"decade {lbl!r} has no rows in SCALING.json", file=sys.stderr)
            sys.exit(2)

    def refit(name: str, fam: dict) -> None:
        # beta is fitted on the LARGEST measured decade pair: a family
        # extended to sf100 refits on sf10->sf100, the decade where an
        # asymptotic surprise would OOM a node first
        drv = fam["driver_table"] = HEAVY.get(name)
        ok = harness.measured(fam["per_sf"])
        got = harness.fit(
            {lbl: scaling_rows[lbl][drv] for lbl in ok} if drv else {},
            ok,
            {"max_stage_peak_exec_gb": "beta_stage", "jvm_peak_gb": "beta_jvm"},
        )
        if got:
            a, b, slopes = got
            fam.update(beta_decade=f"{a}->{b}", **slopes)

    def run(name: str, sf_dir: str) -> dict:
        return {"family": name, **harness.run_child(
            "memory_highwater.measure", name, sf_dir, task_peak=True)}

    # VmHWM isolation is per-PROCESS, so a small pool of concurrent
    # child processes keeps peaks valid; only the informational
    # ``seconds`` field gets contended.
    par = int(os.environ.get("SPARK_GRAFT_MEMHW_PAR", "2"))
    records = harness.sweep(out_path, "families", sf_labels, families, run, refit, par)
    print(json.dumps({"written": out_path, "n": len(records)}))


if __name__ == "__main__":
    main()
