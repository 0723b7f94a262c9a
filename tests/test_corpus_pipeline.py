"""Capstone integration: the end-to-end corpus build composed from the
engine's own pieces — quality filter → incremental cross-batch dedup →
deterministic mixture sampling → sequence-packing accounting — on the
driver's documents table. Each stage is tested elsewhere in isolation;
this proves they COMPOSE: outputs chain, counts reconcile stage to
stage, and the whole build is bit-reproducible run to run (every stage
is a pure function of the data — no sampler state, no arrival order)."""

from __future__ import annotations

import pyspark.sql.functions as F

from data_ingestion_project_spark.functions.text import (
    bpe_token_count,
    punct_ratio,
    stopword_count,
    token_count,
)
from data_ingestion_project_spark.operators.incremental_dedup import (
    dedup_batch_against_index,
)
from data_ingestion_project_spark.sources.readers import table

SF = "/root/testdata/sf0.001"
SEQ_LEN = 512


def _quality_pass(d):
    toks = token_count("text")
    mean_wl = F.length(F.regexp_replace("text", r"\s+", "")) / toks
    return d.filter(
        (toks >= 5)
        & mean_wl.between(2.0, 12.0)
        & (stopword_count("text") >= 1)
        & (punct_ratio("text") <= 0.2)
    )


def _run_pipeline(spark, tmp_path, tag):
    d = table(spark, SF, "documents")
    n_raw = d.count()

    survivors = _quality_pass(d)
    n_quality = survivors.count()

    # two arrival batches against one persistent fingerprint index
    b1 = survivors.filter(F.col("doc_id") % 2 == 0)
    b2 = survivors.filter(F.col("doc_id") % 2 == 1)
    idx = str(tmp_path / f"fp_index_{tag}")
    acc1, info1 = dedup_batch_against_index(spark, idx, b1)
    acc2, info2 = dedup_batch_against_index(spark, idx, b2)
    deduped = acc1.unionByName(acc2)
    n_dedup = deduped.count()
    assert info1["n_accepted"] + info2["n_accepted"] == n_dedup

    # deterministic mixture sampling (content-independent hash bucket)
    bucket = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2), 16, 10).cast("int")
    rate = F.when(F.col("lang") == "en", F.lit(0.5)).otherwise(F.lit(0.2))
    sampled = deduped.filter(bucket < rate * 256)
    n_sampled = sampled.count()

    # packing accounting over the final corpus
    from pyspark.sql.window import Window

    toks = sampled.select(
        "doc_id", "lang", (F.col("doc_id") % 4).alias("shard"),
        bpe_token_count("text").cast("long").alias("tok"),
    )
    packed = (
        toks.groupBy("lang", "shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("tok").alias("total_tokens"),
            F.ceil(F.sum("tok") / F.lit(SEQ_LEN)).alias("n_sequences"),
        )
        .orderBy("lang", "shard")
    )
    rows = packed.collect()
    return {
        "funnel": (n_raw, n_quality, n_dedup, n_sampled),
        "packed": [tuple(r) for r in rows],
        "info": (dict(info1), dict(info2)),
    }


def test_corpus_build_stages_compose_and_reconcile(spark, tmp_path):
    out = _run_pipeline(spark, tmp_path, "a")
    n_raw, n_quality, n_dedup, n_sampled = out["funnel"]
    # monotone funnel, nothing fabricated
    assert n_raw >= n_quality >= n_dedup >= n_sampled > 0
    # dedup actually engaged across batches or in-batch on this corpus
    dropped = sum(
        i["n_dropped_vs_index"] + i["n_dropped_in_batch"] for i in out["info"]
    )
    assert n_quality - n_dedup == dropped
    # packing accounting self-consistent per (lang, shard)
    for lang, shard, n_docs, total_tokens, n_sequences in out["packed"]:
        assert n_docs > 0 and total_tokens > 0
        assert n_sequences == -(-total_tokens // SEQ_LEN)  # ceil
    # at this tiny SF the English-centric stopword rule eliminates most
    # non-en docs at the quality stage — the pipeline must still carry
    # en through every stage
    langs = {r[0] for r in out["packed"]}
    assert "en" in langs


def test_corpus_build_is_reproducible(spark, tmp_path):
    """Every stage is a pure function of the data — two independent
    builds (separate index state) must agree bit-for-bit."""
    a = _run_pipeline(spark, tmp_path, "r1")
    b = _run_pipeline(spark, tmp_path, "r2")
    assert a["funnel"] == b["funnel"]
    assert a["packed"] == b["packed"]


def test_nb_classifier_learns_separable_corpus(spark):
    """On a PLANTED corpus with (mostly) disjoint per-label
    vocabularies the NB operator must classify the held-out half
    perfectly — the 'a model was actually learned' bar. (The synthetic
    documents table cannot pin this: its lang labels are near-random
    over one shared 31-word vocabulary, so the corpus-level query
    certifies machinery + priors via its DuckDB oracle instead.)"""
    from pyspark.sql import functions as F

    from data_ingestion_project_spark.operators.nb import _scored, confusion_from_scored

    vocab = {
        "aa": "alpha beta gamma delta",
        "bb": "uno dos tres cuatro",
        "cc": "eins zwei drei vier",
    }
    rows = []
    for li, (label, words) in enumerate(sorted(vocab.items())):
        for j in range(20):  # ids interleave so both halves see all labels
            doc_id = li + 3 * j
            text = (words + " ") * 3 + ("noise shared filler" if j % 4 == 0 else "")
            rows.append((doc_id, label, text.strip()))
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    counts = (
        df.select(
            "doc_id", "lang",
            F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("word"),
        )
        .groupBy("doc_id", "lang", "word")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    got = {
        (r["true_label"], r["pred_label"]): r["n_docs"]
        for r in confusion_from_scored(
            _scored(counts, "doc_id", "lang", "word", "c", None)
        ).collect()
    }
    # perfect diagonal: every held-out doc classified correctly
    assert got == {("aa", "aa"): 10, ("bb", "bb"): 10, ("cc", "cc"): 10}


def test_nb_lang_confusion_accounts_for_every_heldout_doc(spark):
    """Corpus-level structural contract: confusion counts sum to the
    held-out doc count and labels come from the corpus languages (the
    value-exact certification is the query's DuckDB oracle)."""
    import duckdb

    from data_ingestion_project_spark.queries import all_queries

    rows = all_queries()["nb_lang_confusion"](spark, "/root/testdata/sf0.001").collect()
    langs = {
        r[0] for r in duckdb.sql(
            "SELECT DISTINCT lang FROM '/root/testdata/sf0.001/documents.parquet'"
        ).fetchall()
    }
    n_test = duckdb.sql(
        "SELECT COUNT(*) FROM '/root/testdata/sf0.001/documents.parquet' WHERE doc_id % 2 = 1"
    ).fetchone()[0]
    assert sum(r["n_docs"] for r in rows) == n_test
    assert {r["true_lang"] for r in rows} <= langs
    assert {r["pred_lang"] for r in rows} <= langs


def test_substring_dup_stats_bounds_and_planted_dup(spark):
    """Gram-duplication fractions are valid ratios, and a corpus of
    two identical docs + one unique doc yields 100% duplication for
    the copies and 0% for the loner (unit semantics check on a frame
    driven through the same operator pipeline)."""
    from pyspark.sql import functions as F

    from data_ingestion_project_spark.queries import all_queries

    rows = all_queries()["substring_dup_stats"](spark, "/root/testdata/sf0.001").collect()
    assert rows and all(0.0 <= r["avg_dup_frac"] <= 1.0 for r in rows)
    assert all(r["n_majority_dup"] <= r["n_docs"] for r in rows)

    # planted micro-corpus, same gram computation inline (k=8)
    base = "w0 w1 w2 w3 w4 w5 w6 w7 w8 w9"            # 10 tokens -> 3 grams
    uniq = "u0 u1 u2 u3 u4 u5 u6 u7 u8 u9"
    df = spark.createDataFrame(
        [(1, "en", base), (2, "en", base), (3, "en", uniq)],
        "doc_id long, lang string, text string",
    )
    k = 8
    ts = F.split(F.lower(F.trim("text")), r"\s+")
    toks = df.select("doc_id", "lang", ts.alias("ts"))
    n = F.size("ts")
    grams = toks.filter(n >= k).select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), n - (k - 1)),
                lambda i: F.md5(F.array_join(F.slice("ts", i, k), " ")),
            )
        ).alias("g"),
    )
    occ = grams.groupBy("g").agg(F.count(F.lit(1)).alias("n_occ"))
    per_doc = {
        r["doc_id"]: (r["n_grams"], r["n_dup"])
        for r in grams.join(occ, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum((F.col("n_occ") >= 2).cast("long")).alias("n_dup"),
        )
        .collect()
    }
    assert per_doc[1] == (3, 3) and per_doc[2] == (3, 3)  # full duplication
    assert per_doc[3] == (3, 0)                           # unique doc clean


def test_modality_agreement_scale_finds_planted_cross_modal_dups(spark):
    """The bench-included scale twin of the cross-modal audit must
    actually FIND the 50 planted duplicates on both candidate paths:
    the semantic side (SemDeDup cluster-bounded pairs) catches all 50
    exactly (cosine 1.0, same cluster by construction), and the capped
    banded-LSH lexical side agrees on >= 40 of them (the cap may drop
    a few planted pairs whose degenerate bucket overflows — the
    documented trade on this 31-word-vocabulary corpus)."""
    from data_ingestion_project_spark.queries import all_queries

    row = all_queries()["modality_agreement_scale"](
        spark, "/root/testdata/sf0.001"
    ).collect()[0]
    assert row["n_semantic"] == 50  # exactly the planted pairs
    assert row["n_both"] >= 40     # lexical agreement floor
    assert row["n_lexical"] >= row["n_both"]
    assert row["n_semantic_only"] == row["n_semantic"] - row["n_both"]


def test_compression_ratio_flags_repetitive_text(spark):
    """The deflate-ratio filter must discriminate: planted repetitive
    docs (every 13th) compress below the 0.35 flag line, natural
    corpus prose stays above it — so per-language flag counts equal
    exactly the planted count, and the stage is deterministic across
    runs (same bytes, same zlib level)."""
    from data_ingestion_project_spark.queries import all_queries

    sf = "/root/testdata/sf0.001"
    fn = all_queries()["compression_ratio_stats"]
    rows = {r.lang: r for r in fn(spark, sf).collect()}

    import duckdb

    planted = dict(
        duckdb.sql(
            f"SELECT lang, SUM(CASE WHEN doc_id % 13 = 0 THEN 1 ELSE 0 END) "
            f"FROM '{sf}/documents.parquet' GROUP BY lang"
        ).fetchall()
    )
    for lang, r in rows.items():
        assert r.n_flagged == planted[lang], lang  # exactly the planted docs
        assert r.mean_ratio_micro > 350_000  # natural prose dominates the mean

    again = {r.lang: tuple(r) for r in fn(spark, sf).collect()}
    assert again == {r.lang: tuple(r) for r in rows.values()}  # deterministic
