"""Scaling-curve sweep (VERDICT r4 ask #6): measure the heavy query
families at sf0.001 / sf0.01 / sf0.1 and fit the per-query growth
exponent, so the "would survive 100x" claim rests on a measured slope,
not plan shape alone.

For each query: t(sf) = wall clock of plan+execute+collect against
warmed tables and prebuilt derived assets (the bench posture). The
exponent alpha solves t2/t1 = (n2/n1)^alpha over the LARGEST input
decade (n = the query's driving table rows, which differ per family:
documents hold 500 rows at both sf0.001 and sf0.01, so doc families
fit on the 0.01 -> 0.1 step; event/TPC-H families fit on 10k -> 100k
events / 60k -> 600k lineitem). Per-query constant overhead (~0.3 s
scheduler floor) is NOT subtracted — it deflates alpha at small n, so
the reported exponents are conservative UPPER-truthful at the big end
and the acceptance bound in tests/test_scaling_record.py allows the
floor's distortion.

Usage:  python tools/scaling_sweep.py [out_json]
        python tools/scaling_sweep.py [out_json] --patch sf1,sf10 family ...
Writes out_json (default SCALING.json: records + exponents) and prints
a markdown table. Runtime: ~3 bench passes (one per sf) over the HEAVY
set, ~4 min; plus the sf1 decade (below) when the derived corpus exists.

``--patch`` re-measures only the named families at the named decades
into the existing out_json and refits their exponents: use it when a
full pass measured a family under ambient load, or after a plan fix,
so re-measuring the outliers quiesced is a 5-minute patch instead of
a 60-minute sweep. A decade new to the record (e.g. sf100,
tools/make_scaled_corpus.py scratch/sf100 1000) has its table rows
recorded on first sight. Decade labels resolve through
harness.decade_dir; SPARK_GRAFT_SKIP_ASSET_WARM=1 skips the asset build
(harness.warm) where every named family reads base tables directly.

Round-7 extension (VERDICT r6 ask #1): when the 10x derived corpus is
present (tools/make_scaled_corpus.py -> scratch/sf1, override via
SPARK_GRAFT_SF1_DIR), the sweep adds an sf0.1 -> sf1 measurement for
every heavy family, so the exponents are fitted on a decade where
per-query work is far above the scheduler floor (6M lineitem / 1M
events / 50k documents); likewise the fifth decade (scratch/sf10,
SPARK_GRAFT_SF10_DIR, 60M lineitem / 10M events / 500k documents).
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# query -> driving table (the input whose cardinality the family's
# cost should track ~linearly under the committed plan shapes)
HEAVY = {
    # documents families (500 / 500 / 5000 docs)
    "nb_lang_confusion": "documents",
    "substring_dup_stats": "documents",
    "leakage_safe_split": "documents",
    "dup_graph_pagerank": "documents",
    "benchmark_contamination": "documents",
    "winnow_overlap_top": "documents",
    "minhash_near_dups": "documents",
    "simhash_near_dups": "documents",
    "dup_cluster_sizes": "documents",
    "token_stats": "documents",
    "dedup_funnel": "documents",
    "quantile_sketch_rollup": "events",
    "quantile_sketch_rollup_xx": "events",
    # event families (1k / 10k / 100k events)
    "hourly_event_stats": "events",
    "user_sessions": "events",
    "approx_top_words": "documents",
    # TPC-H-ish heavy join/agg (6k / 60k / 600k lineitem)
    "pricing_summary": "lineitem",
    "nation_market_share": "lineitem",
    "cube_revenue": "lineitem",
    # round-5 heavy families (r5 verdict ask #8)
    "entity_golden_records": "supplier",
    "cms_word_freq": "documents",
    # round-10 additions whose work grows with a fact table (the
    # calendar- and cell-bounded r10 families are flat by construction
    # and stay out): rank maps over orders/customers, the JT dense
    # value grid, the BF per-group medians, the token-stream richness
    # panel, and the lineitem 3-way diversity joins
    "squared_rank_dispersion_test": "orders",
    "jonckheere_terpstra_priority": "orders",
    "ordinal_association_panel": "orders",
    "cliffs_delta_segments": "customer",
    "brown_forsythe_event_values": "events",
    "weighted_logrank_panel": "orders",
    "rmst_retention": "events",
    "capture_recapture_users": "events",
    "lexical_richness_panel": "documents",
    "brand_diversity_by_nation": "lineitem",
    "brand_rank_agreement_regions": "lineitem",
    "theils_u_event_dow": "events",
    "cohen_kappa_quality_flags": "documents",
    "bm25_topk": "documents",
    "hybrid_rrf_search": "documents",
    # round-6 families: the JPEG certification replay (the most
    # expensive bench query), the served-index BM25 twin, the explode-
    # family MI census, and two single-pass statistics censuses
    "jpeg_decode_stats": "documents",
    "bm25_topk_indexed": "documents",
    "mi_label_dims": "embeddings",
    "chisq_event_dow": "events",
    "revenue_seasonality": "orders",
    # round-6 second wave: graph/text/weighted-cumsum/model families
    "keyword_textrank": "documents",
    "dup_graph_kcore": "documents",
    "abc_customer_classes": "orders",
    "nb_margin_calibration": "documents",
    "ordered_funnel_7d": "events",
    # round-7 additions: the suffix-rank certification census and the
    # envelope-crypto lifecycle audit
    "exact_substring_census": "documents",
    "crypto_shred_audit": "customer",
    # round-8 additions (VERDICT r7 asks #1/#6): the 4-shuffle-join
    # suffix-rank extraction, the certified covariance pass, and the
    # Pillow production twin of the JPEG census (registered only where
    # Pillow imports — priced at C speed in decades that have it)
    "longest_repeat_extract": "documents",
    "embedding_covariance_stats": "embeddings",
    "jpeg_decode_stats_fast": "documents",
    # round-8 new families: rank statistics, PMI pairs, the histogram
    # split scan, bipartite HITS, cohort LTV
    "spearman_price_quantity": "lineitem",
    "mannwhitney_event_values": "events",
    "pmi_collocations": "documents",
    "decision_stump_splits": "embeddings",
    "hits_purchase_graph": "lineitem",
    "cohort_ltv_curve": "events",
    # round-7 second wave: pairwise-slope/stylometry/cluster-quality/
    # basket/attribution/journey/actuarial families
    "theil_sen_revenue_trend": "orders",
    "source_stylometry_delta": "documents",
    "embedding_davies_bouldin": "embeddings",
    "brand_basket_lift": "lineitem",
    "attribution_multitouch_dow": "events",
    "markov_stationary_events": "events",
    "kaplan_meier_retention": "events",
    "rfm_segments": "orders",
    "event_trigram_paths": "events",
    "dup_graph_bfs_depths": "documents",
    # round-9 families: Apriori triple mining (the 3-join pruning
    # cascade), NB-scored ROC operating point, centroid silhouette,
    # sweep-line concurrency, the association grid, K-sample rank
    # ANOVA (rank2_map under a 5-way split), robust trimmed stats,
    # bigram richness + novelty (the heaviest doc-bigram shuffles;
    # heaps_law_fit shares novelty's machinery verbatim and is not
    # separately swept), CUPED per-user folds, Hurst block windows,
    # per-label centroid drift
    "apriori_triples": "lineitem",
    "youden_threshold": "documents",
    "simplified_silhouette": "embeddings",
    "peak_concurrent_sessions": "events",
    "cramers_v_matrix": "events",
    "kruskal_wallis_event_values": "events",
    "trimmed_robust_stats": "customer",
    "chao1_vocab_richness": "documents",
    "ngram_novelty_decay": "documents",
    "cuped_ab_test": "events",
    "hurst_exponent_rs": "orders",
    "embedding_centroid_drift": "embeddings",
    # round-9 second wave: the classical-test completion set.  Heavy
    # representatives only — the per-day-frame tests (bollinger, runs,
    # grubbs, page, revenue_streaks) share the one-orders-shuffle
    # posture pettitt exemplifies and are not separately swept.
    "good_turing_vocab": "documents",
    "cvm_length_drift": "documents",
    "dup_cluster_source_mix": "documents",
    "wilcoxon_first_last_order": "orders",
    "logrank_segment_churn": "orders",
    "mann_kendall_trend": "orders",
    "pettitt_changepoint": "orders",
    "ljung_box_revenue": "orders",
    "kendalls_w_region_brands": "lineitem",
    "cochran_q_first_day": "events",
    "mcnemar_week_retention": "events",
    "markov_hitting_time_events": "events",
    "hopkins_statistic": "embeddings",
    "bartlett_event_values": "events",
    "mood_median_test": "events",
    "bowker_symmetry_events": "events",
    # round-11 session-2 additions whose work grows with a fact table
    # (the calendar-bounded permutation entropy / periodogram and the
    # already-measured-shape twins g_test [chisq] and rbo [hybrid]
    # stay out): the threshold sweep's inverted-index pair join, the
    # two-hop Adamic–Adar join, the triangle-corner histogram, the
    # per-term MAP/MRR explode+group-limit, the orders⋈lineitem
    # Cochran–Armitage flag join, and the 15-decimal-moment BP fold.
    # (jaccard_threshold_sweep stays OUT: its exact-Jaccard pair join
    # inherits near_dup_jaccard_top's data-degeneracy on this
    # corpus's 31-word vocabulary — measuring it prices the data,
    # not the engine; same rationale as its bench exclusion.)
    "adamic_adar_link_prediction": "documents",
    "local_clustering_histogram": "documents",
    "map_mrr_search_eval": "documents",
    "cochran_armitage_returns": "lineitem",
    "breusch_pagan_price_quantity": "lineitem",
}


def main() -> None:
    import argparse

    import harness

    p = argparse.ArgumentParser(description="Scaling-curve sweep over HEAVY.")
    p.add_argument("out_json", nargs="?", default=os.path.join(harness.REPO, "SCALING.json"))
    p.add_argument("--patch", nargs="+", metavar=("SFS", "FAMILY"),
                   help="re-measure only these families at these comma-separated "
                        "decades into the existing out_json")
    args = p.parse_args()
    if args.patch:
        if len(args.patch) < 2:
            p.error("--patch takes a decade list and at least one family")
        labels, families = args.patch[0].split(","), args.patch[1:]
        unknown = [n for n in families if n not in HEAVY]
        if unknown:
            p.error(f"not in HEAVY: {unknown}")
        with open(args.out_json) as f:
            rec = json.load(f)
    else:
        labels, families = list(harness.BASE_SFS), sorted(HEAVY)
        for sf in ("sf1", "sf10"):
            if os.path.isdir(harness.decade_dir(sf)):
                labels.append(sf)
            else:
                print(f"# {sf} corpus absent at {harness.decade_dir(sf)}", file=sys.stderr)
        rec = {"rows": {}, "seconds": {}, "exponents": {}}

    from data_ingestion_project_spark.queries import all_queries
    from data_ingestion_project_spark.sources.readers import table

    spark = harness.session("scaling-sweep")
    queries = all_queries()
    for sf in labels:
        sf_dir = harness.decade_dir(sf)
        harness.warm(spark, sf_dir)
        if sf not in rec["rows"]:
            rec["rows"][sf] = {t: table(spark, sf_dir, t).count() for t in set(HEAVY.values())}
        for name in families:
            if name not in queries:  # import-gated (e.g. the Pillow
                # production twin) — measured only where it registers
                print(f"# {sf} {name}: not registered in this env; skipped",
                      file=sys.stderr)
                continue
            secs, n = harness.time_query(spark, queries[name], sf_dir)
            rec["seconds"].setdefault(name, {})[sf] = secs
            print(f"# {sf} {name}: {secs:.3f}s ({n} rows)", file=sys.stderr)

    for name in families:
        t = rec["seconds"].get(name, {})
        drv = HEAVY[name]
        got = harness.fit(
            {sf: rec["rows"][sf][drv] for sf in t},
            {sf: {"seconds": secs} for sf, secs in t.items()},
            {"seconds": "alpha"},
        )
        if not got or "alpha" not in got[2]:
            print(f"# {name}: <2 growing decades measured, no exponent fit", file=sys.stderr)
            continue
        a, b, f = got
        rec["exponents"][name] = {
            "driver_table": drv,
            "step": f"{a}->{b}",
            "rows_ratio": f["rows_ratio"],
            "time_ratio": round(t[b] / t[a], 3),
            "alpha": f["alpha"],
        }
    harness.write_json(args.out_json, rec)

    cols = list(rec["rows"])
    print("| query | driver | " + " | ".join(f"t({sf})" for sf in cols) + " | step | alpha |")
    print("|---|---|" + "---|" * (len(cols) + 2))
    for name in families:
        if name in rec["exponents"]:
            e, t = rec["exponents"][name], rec["seconds"][name]
            cells = " | ".join(str(t.get(sf, "-")) for sf in cols)
            print(f"| {name} | {e['driver_table']} | {cells} | {e['step']} | {e['alpha']} |")


if __name__ == "__main__":
    main()
