"""Benchmark harness: runs the headline query inventory at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is timed end-to-end (plan build + execution + collect).
Protocol per BASELINE.md: fixed shuffle partitions, crypto in the
low-cost test profile (ingestion microbench included separately).

``--cold`` (VERDICT r6 ask #7): the IO-bound counter-protocol. At
100 TB the engine is parquet-decode-bound, but the warm protocol
above measures compute against OS-page-cached files. Cold mode runs
the heaviest-scan subset with the page cache DROPPED before every
query (sync; echo 3 > /proc/sys/vm/drop_caches — skipped with a
notice where not permitted) and Spark's catalog cache cleared, no
table warmup, and writes a separate BENCH_COLD.json side-record
(override: $SPARK_GRAFT_BENCH_COLD_OUT — deliberately a DIFFERENT
env var from the warm path's $SPARK_GRAFT_BENCH_OUT, so an exported
warm override can never redirect a cold run onto BENCH_LOCAL.json) —
never touching the warm BENCH_LOCAL.json protocol artifact.

Output policy (VERDICT r7 ask #4): the committed BENCH_LOCAL.json is
the QUIESCED protocol artifact. A bare ``python bench.py`` (what the
per-round driver runs, concurrently with whatever else the machine is
doing) writes to the gitignored ``scratch/BENCH_DRIVER.json`` so a
contended driver pass can't clobber the committed record; pass
``--record`` (or set $SPARK_GRAFT_BENCH_OUT) to write the protocol
artifact at round end on a quiet machine.

Positional query names (any registered query) time only that subset,
e.g. ``python bench.py pricing_summary cube_revenue --passes 3`` — the
optimization loop's measuring stick. A subset never combines with
``--record`` or ``--cold``, so a partial sweep cannot overwrite a
committed record. Argument errors exit 2 before Spark starts.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


# the 10 heaviest-scan bench queries (widest byte footprint per table
# family: lineitem / events / documents full-column scans) — the set
# whose COLD numbers bound the parquet-decode floor
COLD_SET = (
    "pricing_summary",
    "nation_market_share",
    "cube_revenue",
    "hourly_event_stats",
    "user_sessions",
    "quantile_sketch_rollup_xx",
    "chisq_event_dow",
    "cms_word_freq",
    "nb_lang_confusion",
    "substring_dup_stats",
)


def _drop_page_cache() -> bool:
    """Best-effort OS page-cache drop; False where not permitted."""
    try:
        os.sync()
        with open("/proc/sys/vm/drop_caches", "w") as f:
            f.write("3\n")
        return True
    except OSError:
        return False


def _args() -> argparse.Namespace:
    p = argparse.ArgumentParser(description="Time the headline query inventory.")
    p.add_argument("queries", nargs="*", metavar="QUERY",
                   help="time only these queries (any registered name)")
    p.add_argument("--passes", type=int,
                   help="whole-sweep repetitions; the record keeps per-query "
                        "medians (default $SPARK_GRAFT_BENCH_PASSES, else 1, "
                        "3 with --record)")
    p.add_argument("--record", action="store_true",
                   help="write the committed BENCH_LOCAL.json (quiesced machine only)")
    p.add_argument("--cold", action="store_true",
                   help="page-cache-dropped heavy-scan subset -> BENCH_COLD.json")
    args = p.parse_intermixed_args()
    if args.passes is not None and args.passes < 1:
        p.error("--passes must be >= 1")
    if args.queries and (args.record or args.cold):
        p.error("--record and --cold time the whole set; a query subset "
                "must not overwrite their committed records")
    from data_ingestion_project_spark.queries import all_queries

    unknown = [q for q in args.queries if q not in all_queries()]
    if unknown:
        p.error(f"unknown queries: {unknown}")
    return args


def main() -> None:
    args = _args()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:  # cosmetic field — never abort the bench over it
        sf = None

    from data_ingestion_project_spark.queries import (
        all_queries,
        bench_queries,
        warm_derived_assets,
    )
    from tools import harness

    spark = harness.session("bench")

    if args.cold:
        # assets must EXIST (they are pipeline outputs, not scan cost)
        # but the page cache is dropped before each timed query below
        t0 = time.perf_counter()
        warm_derived_assets(spark, sf_dir)
        assets = round(time.perf_counter() - t0, 3)
        can_drop = _drop_page_cache()
        if not can_drop:
            print("# WARNING: page-cache drop not permitted; numbers are "
                  "cold-session only", file=sys.stderr)
        timings: dict[str, float] = {}
        qs = bench_queries()
        for name in COLD_SET:
            spark.catalog.clearCache()
            _drop_page_cache()
            timings[name], n = harness.time_query(spark, qs[name], sf_dir)
            print(f"# cold {name}: {timings[name]:.3f}s ({n} rows)",
                  file=sys.stderr)
        total = round(sum(timings.values()), 3)
        result = {
            "metric": "cold_scan_queries_total_wall_clock",
            "value": total,
            "unit": "sec",
            "queries": timings,
            "page_cache_dropped": can_drop,
            "assets_sec": assets,
            "sf": sf,
        }
        out_path = os.environ.get(
            "SPARK_GRAFT_BENCH_COLD_OUT",
            os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_COLD.json"),
        )
        harness.write_json(out_path, result)
        print(json.dumps(result))
        return

    # Isolate JVM/session warmup (executor spin-up, codegen compiler,
    # parquet footer caches, OS page cache) from the first timed query
    # so round-over-round regressions in the heaviest query aren't
    # masked by a 5-8 s startup tax. Shared derived assets (events
    # day-layout, winnow fp/pair tables): built once per corpus mtime,
    # reused by every consumer query and across runs. Built here —
    # timed separately — so per-query numbers measure the query against
    # maintained assets (the production posture), not a rebuild of
    # pipeline outputs.
    warmup, assets = harness.warm(spark, sf_dir)
    print(f"# warmup (session + table scans): {warmup:.3f}s", file=sys.stderr)
    print(f"# derived assets (events layout, winnow fp/pairs): {assets:.3f}s", file=sys.stderr)

    # Round-11 protocol (VERDICT r10 ask #7): the committed record is
    # the per-query MEDIAN over N full sweeps, not a single pass — the
    # shared host's contention band (identical code measured 234-300 s
    # across same-evening passes) made single-pass round-over-round
    # diffs need manual outlier adjudication. Passes are whole-sweep
    # repetitions (not back-to-back per query), so a contention spike
    # hits DIFFERENT queries in different passes and the median sheds
    # it; per-query spread (max-min across passes) is recorded so a
    # diff tool can flag any query whose delta is inside its own noise.
    # Default 1 pass for ad-hoc/driver runs (time budget), 3 for the
    # committed --record artifact; override with --passes N or
    # $SPARK_GRAFT_BENCH_PASSES.
    n_passes = args.passes or int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", 0) or 0)
    if n_passes <= 0:
        n_passes = 3 if args.record else 1

    qs = all_queries()
    selected = {q: qs[q] for q in args.queries} if args.queries else bench_queries()
    all_passes: dict[str, list[float]] = {}
    # FIXED alphabetical run order, decoupled from the certification
    # rotation in queries/__init__: whichever queries run first absorb
    # residual codegen warmup (~+0.3-1 s), so a rotation-dependent
    # order made round-over-round per-query diffs misread reordering
    # as regression (observed r3->r4 on dup_graph_pagerank et al.).
    for p in range(n_passes):
        for name, fn in sorted(selected.items()):
            sec, n = harness.time_query(spark, fn, sf_dir)
            all_passes.setdefault(name, []).append(sec)
            print(f"# pass{p + 1} {name}: {sec:.3f}s ({n} rows)",
                  file=sys.stderr)

    timings = {name: harness.median(xs) for name, xs in all_passes.items()}
    spread = {name: round(max(xs) - min(xs), 3) for name, xs in all_passes.items()}

    total = round(sum(timings.values()), 3)
    result = {
        "metric": "headline_queries_total_wall_clock",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "warmup_sec": warmup,
        "assets_sec": assets,
        "sf": sf,
        "n_passes": n_passes,
    }
    if n_passes > 1:
        result["passes"] = all_passes
        result["spread"] = spread
    # The driver captures only a stdout TAIL, which truncates the
    # ~100-query JSON line (BENCH_r02/r03 recorded "parsed": null — the
    # tail kept the END of the big line, chopping its opening brace).
    # Persist the full record to a repo file, print it FIRST, and make
    # the LAST stdout line a short summary that always fits the tail,
    # after one line naming the slowest queries (VERDICT r13 #8), so a
    # truncated tail still shows where the time went.
    repo = os.path.dirname(os.path.abspath(__file__))
    if args.record:
        default_out = os.path.join(repo, "BENCH_LOCAL.json")
    else:
        # driver-triggered / ad-hoc run: keep the committed quiesced
        # protocol artifact intact (VERDICT r7 ask #4)
        os.makedirs(os.path.join(repo, "scratch"), exist_ok=True)
        default_out = os.path.join(repo, "scratch", "BENCH_DRIVER.json")
    out_path = os.environ.get("SPARK_GRAFT_BENCH_OUT", default_out)
    harness.write_json(out_path, result)
    print(json.dumps(result))
    slowest = sorted(timings.items(), key=lambda kv: kv[1], reverse=True)[:25]
    print(json.dumps({"slowest": dict(slowest)}))
    summary = {
        "metric": result["metric"],
        "value": total,
        "unit": "sec",
        "sf": sf,
        "n_queries": len(timings),
        "warmup_sec": warmup,
        "assets_sec": assets,
        "per_query_sec": round(total / len(timings), 3) if timings else None,
        "n_passes": n_passes,
        "queries_file": os.path.basename(out_path),
    }
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
