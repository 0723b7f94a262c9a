"""Price INCREMENTAL asset maintenance — the cost of refreshing each
standing asset after one ~10k-doc ingest batch (VERDICT r11 ask #3:
ASSET_BENCH priced only COLD builds; a 100 TB user's steady-state cost
is the refresh, not the rebuild).

Protocol per decade (default sf1, sf10 under scratch/):

1. STANDING STATE — txn tables initialized from the decade's full
   documents corpus via the SAME maintenance code paths queries and
   streaming use (operators/incremental_dedup, inverted_index,
   moments): winnow fp index (bulk fp append), MinHash+SimHash
   signature tables (update_signature_assets), inverted index
   (update_inverted_index — the dfs leg MERGEs, so its refresh cost
   genuinely depends on standing size and MUST be measured against a
   populated table), per-lang length moments, and the winnow
   pair-count index (update_pair_index).  State lives under
   scratch/refresh_state/<sf>/ and is rebuilt per run (the record is
   a cold, reproducible protocol, not an accumulating scratch pad).
2. BATCH — a deterministic 10k-doc novel batch derived from
   /root/testdata/sf0.1 by the make_scaled_corpus re-keying rules
   (ids offset past the standing max, tokens remapped per replica so
   the batch is genuinely novel, not a planted dup storm).
3. REFRESH — ONE build_corpus_batch call (the exact composed per-batch
   step streaming/ingest runs), per-leg wall clock captured through
   the checkpoint_hook seam; plus one update_pair_index call for the
   pair asset.  Legs: dedup (fp join vs standing index + index
   append), corpus (accepted-doc append), signatures (MinHash+SimHash
   appends), index (postings/lens appends + additive dfs MERGE),
   moments (K-row MERGE), pairs (pair-count increment append).

The record lands in ASSET_BENCH.json under "refresh" with an
asset_map tying legs to the cold-build rows, and a rebuild_only map
naming the assets with no incremental path (and why).  The claim the
numbers exist to back: REFRESH COST TRACKS THE BATCH, NOT THE
STANDING CORPUS — the sf1 and sf10 rows should be ~equal while the
cold builds differ ~10×.

Usage: python tools/asset_refresh_bench.py [out_json]
Env: SPARK_GRAFT_REFRESH_SFS (default "sf1,sf10"),
SPARK_GRAFT_REFRESH_BATCH_ROWS (default 10000).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

ASSET_MAP = {
    "dedup": "winnow_fps (fp index: batch fp join vs standing + append)",
    "corpus": "accepted-corpus txn table (doc append)",
    "signatures": "minhash_assets + simhash_md5 (signature appends)",
    "index": "bm25_index (postings/lens appends + additive dfs MERGE)",
    "moments": "per-lang length moments (K-row MERGE)",
    "pairs": "winnow_pairs (pair-count increments vs standing fp index)",
}

REBUILD_ONLY = {
    "hits_authority": "power iteration over the whole purchase graph; "
    "incremental maintenance would need delta-iteration machinery the "
    "operator deliberately does not carry",
    "ivf_disk_index": "centroids drift with the corpus; the documented "
    "posture is periodic retrain from the bounded sample + partition "
    "re-assign of new vectors only",
    "bpe_merges": "merge table is train-time state; refreshing it "
    "changes tokenization of already-encoded text",
    "crypto_shred_state": "per-user envelope keys are created lazily "
    "at encrypt time; there is no bulk refresh to price",
    "events_by_day": "day-partitioned layout; refresh IS a partition "
    "append of the new day's rows (priced implicitly by the corpus "
    "append leg's shape)",
    "nb_scores": "model weights retrain on the even-id split; the "
    "steady-state batch op is score-only append against frozen "
    "weights, which the signatures leg's shape prices (per-doc "
    "independent rows)",
}


def _batch(spark, standing_max_id: int, rows: int):
    """Deterministic novel batch: replicas of the sf0.1 documents with
    re-keyed ids past the standing corpus and PER-DOC token salts (the
    --neardup salting rule): every batch doc is novel vs the standing
    corpus AND vs its batch-mates, so nothing drops and the priced
    refresh is a clean full-batch append (the source corpus's 31-word
    vocabulary would otherwise make every batch doc a winnow near-dup
    of every other — the documented degeneracy, not an ingest shape)."""
    from pyspark.sql import functions as F

    from data_ingestion_project_spark.operators.materialize import pin

    d = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
    n_src = d.count()
    factor = max(1, (rows + n_src - 1) // n_src)
    reps = spark.range(factor).select(F.col("id").alias("__r"))
    out = (
        d.crossJoin(F.broadcast(reps))
        .withColumn(
            "doc_id",
            F.col("doc_id")
            + F.lit(standing_max_id + 1)
            + F.col("__r") * F.lit(n_src),
        )
        .withColumn(
            "text",
            F.regexp_replace(
                "text",
                r"(\S+)",
                F.concat(F.lit("$1rb"), F.col("doc_id").cast("string")),
            ),
        )
        .withColumn("n_chars", F.length("text").cast("long"))
        .drop("__r")
    )
    return pin(out.orderBy("doc_id").limit(rows))


def main() -> None:
    out_path = sys.argv[1] if len(sys.argv) > 1 else os.path.join(_REPO, "ASSET_BENCH.json")
    sf_labels = os.environ.get("SPARK_GRAFT_REFRESH_SFS", "sf1,sf10").split(",")
    batch_rows = int(os.environ.get("SPARK_GRAFT_REFRESH_BATCH_ROWS", "10000"))

    import harness
    from pyspark.sql import functions as F

    from data_ingestion_project_spark.functions.text import winnow_fingerprints
    from data_ingestion_project_spark.operators.incremental_dedup import (
        _fenced_append,
        build_corpus_batch,
        update_pair_index,
        update_signature_assets,
    )
    from data_ingestion_project_spark.operators.inverted_index import (
        update_inverted_index,
    )
    from data_ingestion_project_spark.operators.materialize import pin
    from data_ingestion_project_spark.operators.moments import update_moments_asset

    spark = harness.session("asset-refresh-bench")

    record: dict = {"batch_rows": batch_rows, "per_sf": {}}

    for lbl in sf_labels:
        sf_dir = harness.decade_dir(lbl)
        state = os.path.join(_REPO, "scratch", "refresh_state", lbl.replace("/", "_"))
        if os.path.exists(state):
            shutil.rmtree(state)
        os.makedirs(state)
        paths = {
            name: os.path.join(state, name)
            for name in (
                "corpus",
                "index",
                "minhash",
                "simhash",
                "postings",
                "lens",
                "dfs",
                "moments",
                "pairs",
            )
        }
        corpus = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        n_standing = corpus.count()
        max_id = corpus.agg(F.max("doc_id")).first()[0]

        print(f"== init standing state @ {lbl} ({n_standing} docs)", file=sys.stderr)
        t0 = time.perf_counter()
        fps = winnow_fingerprints(corpus, "text", "doc_id", k=8, w=4).select(
            F.col("doc_id").cast("long"), F.col("fp").cast("long")
        )
        fps = pin(fps)
        _fenced_append(spark, paths["index"], fps, None)
        update_pair_index(spark, paths["index"], paths["pairs"], fps)
        _fenced_append(spark, paths["corpus"], corpus, None)
        update_signature_assets(
            spark, paths["minhash"], paths["simhash"], corpus
        )
        update_inverted_index(
            spark, paths["postings"], paths["lens"], paths["dfs"], corpus
        )
        update_moments_asset(
            spark,
            paths["moments"],
            corpus.select(
                F.col("lang"), F.length("text").cast("double").alias("n_chars")
            ),
            key_col="lang",
            x_col="n_chars",
        )
        init_secs = round(time.perf_counter() - t0, 3)

        batch = _batch(spark, max_id, batch_rows)
        n_batch = batch.count()

        print(f"== refresh batch @ {lbl} ({n_batch} docs)", file=sys.stderr)
        marks: list[tuple[str, float]] = []
        t_start = time.perf_counter()

        def hook(leg: str, _bid: int) -> None:
            marks.append((leg, time.perf_counter()))

        info = build_corpus_batch(
            spark, batch, paths, min_shared=8, checkpoint_hook=hook
        )
        legs: dict[str, float] = {}
        prev = t_start
        for leg, t in marks:
            legs[leg] = round(t - prev, 3)
            prev = t
        # the pair asset refreshes off the accepted batch's fps
        t0 = time.perf_counter()
        bfps = winnow_fingerprints(batch, "text", "doc_id", k=8, w=4).select(
            F.col("doc_id").cast("long"), F.col("fp").cast("long")
        )
        update_pair_index(spark, paths["index"], paths["pairs"], bfps)
        legs["pairs"] = round(time.perf_counter() - t0, 3)
        legs["total"] = round(sum(v for k, v in legs.items() if k != "total"), 3)

        record["per_sf"][lbl] = {
            "standing_docs": n_standing,
            "batch_docs": n_batch,
            "accepted_docs": info.get("n_accepted"),
            "init_standing_secs": init_secs,
            "refresh_secs": legs,
        }
        shutil.rmtree(state, ignore_errors=True)

    record["asset_map"] = ASSET_MAP
    record["rebuild_only"] = REBUILD_ONLY

    out = {}
    if os.path.exists(out_path):
        with open(out_path) as f:
            out = json.load(f)
    out["refresh"] = record
    with open(out_path, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    print(json.dumps({"refresh_sfs": sf_labels, "out": out_path}))


if __name__ == "__main__":
    main()
