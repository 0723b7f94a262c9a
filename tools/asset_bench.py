"""Price the materialized-asset BUILDS (VERDICT r10 ask #1): the one
cost a 100 TB user pays before any query — ingest — measured per asset
per decade with fitted slopes, the SCALING.json treatment applied to
the build side of every asset-served family.

Why this record exists: several certified families are benchmarked
against MAINTAINED assets (bm25_topk_indexed against the inverted
index, hits_purchase_graph against the authority table, the winnow /
minhash / simhash families against their signature tables, the on-disk
IVF probes against the partitioned index).  bench.py isolates the
build into ``assets_sec`` but never per asset and never across
decades — so "its sf100 cost is asset BUILD time" (the r10 exclusion
list) stayed prose.  This tool makes it a table:

- one SUBPROCESS per (asset, decade) — same isolation rationale as
  tools/memory_highwater.py: a JVM's VmHWM is a process-monotonic
  high-water mark, so a shared session would attribute the heaviest
  predecessor's peak to every later build;
- the asset's own warehouse dirs are DELETED first, but its upstream
  assets are left in place (winnow_pairs is priced with the fp table
  present), so each row prices exactly ONE pipeline stage and the
  ingest total is the column sum;
- recorded per row: build wall seconds, the local[32] JVM VmHWM, the
  Python driver VmHWM, the largest per-stage peakExecutionMemory
  (status REST API — the number that maps to executor budgets), the
  published asset's on-disk bytes, and the source table's row count;
- per asset across the two decades: fitted slopes
  alpha_time = log(sec ratio)/log(rows ratio) and beta_stage /
  beta_jvm for memory — read the betas with the same caveat as
  MEMORY_HIGHWATER.json (sub-4 GB stage peaks sit on the allocation
  quantum; the JVM carries a multi-GB constant heap baseline).

The ``bpe_merges`` row is the one non-disk asset: a driver-memoized
merge table (10 distributed counting rounds), so a fresh subprocess IS
the cold build and ``disk_bytes`` is null.  PQ codebooks are NOT here:
they train in-query from a bounded ≤100k driver sample by design
(operators/similarity.py), so their cost is priced by the query bench.

Usage: python tools/asset_bench.py [out_json] [asset ...]
Env: SPARK_GRAFT_ASSET_SFS (default "sf1,sf10"; each label resolves
through harness.decade_dir), SPARK_GRAFT_DRIVER_MEM (record states it;
default 8g).
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# asset -> (module, builder fn, warehouse prefixes to clear, source table)
ASSETS: dict[str, tuple[str, str, tuple[str, ...], str]] = {
    "events_by_day": (
        "data_ingestion_project_spark.queries.events",
        "_events_by_day_path",
        ("events_by_day_",),
        "events",
    ),
    "hits_authority": (
        "data_ingestion_project_spark.queries.tpch2",
        "_hits_assets_path",
        ("hits_purchase_",),
        "lineitem",
    ),
    "winnow_fps": (
        "data_ingestion_project_spark.queries.documents",
        "_winnow_fps_path",
        ("winnow_fps_",),
        "documents",
    ),
    "winnow_pairs": (
        "data_ingestion_project_spark.queries.documents",
        "_winnow_pair_counts",
        ("winnow_pairs_",),
        "documents",
    ),
    "minhash_assets": (
        "data_ingestion_project_spark.queries.documents",
        "_minhash_assets_path",
        ("minhash_assets_",),
        "documents",
    ),
    "simhash_md5": (
        "data_ingestion_project_spark.queries.documents",
        "_simhash_path",
        ("simhash_md5_",),
        "documents",
    ),
    "ivf_disk_index": (
        "data_ingestion_project_spark.queries.embeddings",
        "ivf_disk_index_path",
        ("ivf_index_",),
        "embeddings",
    ),
    "bm25_index": (
        "data_ingestion_project_spark.queries.advanced",
        "_bm25_index_path",
        ("bm25_index_",),
        "documents",
    ),
    "crypto_shred_state": (
        "data_ingestion_project_spark.queries.advanced",
        "_shred_state_path",
        ("crypto_shred_",),
        "customer",
    ),
    "bpe_merges": (
        "data_ingestion_project_spark.queries.documents",
        "_bpe_merges",
        (),
        "documents",
    ),
    "nb_scores": (
        "data_ingestion_project_spark.queries.documents",
        "_nb_scored_path",
        ("nb_scores_",),
        "documents",
    ),
}

def _du(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def measure(spark, name: str, sf_dir: str) -> dict:
    """Child body (harness.run_child): clear the asset's own warehouse
    dirs (upstream assets stay), then time its build."""
    import shutil
    from importlib import import_module

    from data_ingestion_project_spark.operators.materialize import dataset_tag
    from data_ingestion_project_spark.sources.readers import table

    mod_name, fn_name, prefixes, src_table = ASSETS[name]
    tag = dataset_tag(os.path.abspath(os.path.normpath(sf_dir)))
    warehouse = os.path.join(REPO, "spark-warehouse")
    cleared = []
    for p in prefixes:
        target = os.path.join(warehouse, p + tag)
        if os.path.exists(target):
            shutil.rmtree(target)
            cleared.append(p + tag)
    src_rows = table(spark, sf_dir, src_table).count()

    fn = getattr(import_module(mod_name), fn_name)
    t0 = time.perf_counter()
    result = fn(spark, sf_dir)
    secs = round(time.perf_counter() - t0, 3)

    if isinstance(result, str) and os.path.isdir(result):
        out = result
    else:  # DataFrame-returning builder over a cleared dir
        out = os.path.join(warehouse, prefixes[0] + tag) if prefixes else None
    return {
        "asset": name,
        "seconds": secs,
        "src_rows": src_rows,
        "cleared": cleared,
        "disk_bytes": _du(out) if out and os.path.isdir(out) else None,
    }


def main() -> None:
    import harness

    args = sys.argv[1:]
    out_path = args[0] if args else os.path.join(REPO, "ASSET_BENCH.json")
    names = tuple(args[1:]) or tuple(ASSETS)
    unknown = [n for n in names if n not in ASSETS]
    if unknown:
        print(f"not in ASSETS: {unknown}", file=sys.stderr)
        sys.exit(2)
    # labels to MEASURE this run; the record keeps the union with any
    # prior rows so a targeted extension (e.g. SPARK_GRAFT_ASSET_SFS=
    # sf100 for the two heavy builds — VERDICT r11 ask #3) never
    # discards the committed sf1/sf10 decades
    run_labels = os.environ.get("SPARK_GRAFT_ASSET_SFS", "sf1,sf10").split(",")

    def refit(name: str, fam: dict) -> None:
        ok = harness.measured(fam["per_sf"])
        got = harness.fit(
            {lbl: r["src_rows"] for lbl, r in ok.items()},
            ok,
            {
                "seconds": "alpha_time",
                "max_stage_peak_exec_gb": "beta_stage",
                "jvm_peak_gb": "beta_jvm",
                "disk_bytes": "gamma_disk",
            },
        )
        if got:
            a, b, slopes = got
            fam.update(fit_span=[a, b], **slopes)

    def run(name: str, sf_dir: str) -> dict:
        return {"asset": name, **harness.run_child("asset_bench.measure", name, sf_dir)}

    records = harness.sweep(out_path, "assets", run_labels, names, run, refit)
    print(json.dumps({"assets": len(records), "out": out_path}))


if __name__ == "__main__":
    main()
