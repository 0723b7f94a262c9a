"""Materialized inverted index — the lexical-retrieval asset, giving
BM25 the same SERVED posture the dedup family already has (signature
tables, winnow fp index, IVF disk index): term lookups read posting
lists, never the corpus text.

Three tables, all derivable from one tokenize pass:
- ``postings``  (wb, word, doc_id, tf) — the posting lists, written
  PARTITIONED BY the word's hash bucket ``wb`` so a probe query's
  scan prunes to the probe terms' bucket directories at planning time
  (a 4-term query against a 100 TB corpus opens 4/N_BUCKETS of the
  index, not all of it);
- ``lens``      (doc_id, dl) — document lengths for BM25
  normalization;
- ``dfs``       (word, df) — document frequencies. df is ADDITIVE
  across batches (a word's df = sum of its per-batch dfs because a
  doc lives in exactly one batch), so incremental maintenance is the
  same fenced cellwise-ADD merge as the CMS — and like the CMS it is
  NOT idempotent, hence fenced.

Scoring (:func:`bm25_from_index`) reproduces queries/advanced.bm25_topk
arithmetic exactly — Lucene idf, k1/b saturation, per-term integer
micro-unit quantization BEFORE the per-doc sum — so the indexed query
certifies against the SAME DuckDB oracle as the explode-per-query
form, proving index build + serving lose nothing.

Reference parity: n/a (SURVEY.md header — the 418-line pandas ETL has
no retrieval surface); north-star training-data component (corpus
search / contamination lookup serving).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

N_BUCKETS = 16


def _word_bucket(word_col) -> "F.Column":
    """Portable md5 bucket of the word (matches :func:`term_bucket`)."""
    return F.conv(F.substring(F.md5(word_col), 1, 4), 16, 10).cast("int") % N_BUCKETS


def term_bucket(term: str) -> int:
    """Driver-side twin of :func:`_word_bucket` for probe terms, so
    lookups can pin the partition filter at planning time."""
    return int(hashlib.md5(term.encode()).hexdigest()[:4], 16) % N_BUCKETS


def _tokens(docs: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """The bm25_topk tokenization: whitespace split of lower(trim())."""
    return docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.explode(F.split(F.lower(F.trim(text_col)), r"\s+")).alias("word"),
    )


def index_rows(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(postings, lens, dfs) for a document frame — used both by the
    full materialization and (per batch) by the incremental
    maintenance, so the two paths are row-for-row identical by
    construction (the signature-asset pattern)."""
    toks = _tokens(docs, text_col, id_col)
    postings = (
        toks.groupBy("word", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
        .withColumn("wb", _word_bucket(F.col("word")))
    )
    lens = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    dfs = postings.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    return postings, lens, dfs


def write_index(
    docs: DataFrame,
    out_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """One-shot materialization: postings partitioned by word bucket
    (term-lookup partition pruning), lens and dfs as plain tables."""
    postings, lens, dfs = index_rows(docs, text_col, id_col)
    postings.repartition("wb").write.partitionBy("wb").parquet(f"{out_dir}/postings")
    lens.repartition(4).write.parquet(f"{out_dir}/lens")
    dfs.repartition(1).write.parquet(f"{out_dir}/dfs")


def update_inverted_index(
    spark: SparkSession,
    postings_path: str,
    lens_path: str,
    dfs_path: str,
    batch_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    fence: tuple[str, int] | None = None,
) -> None:
    """Per-batch incremental maintenance into txn tables: postings and
    lens rows are per-doc facts (fenced APPEND — a doc lives in one
    batch, so appends never overlap); dfs is ADDITIVE (a replay would
    double-count word dfs), so it rides the fenced keyed MERGE
    (``df = t.df + s.df``, txn_table.fold_merge) exactly like the CMS
    cell fold. The three tables carry their own fences: a crash between
    commits replays exactly the missing ones."""
    from data_ingestion_project_spark.operators import txn_table as T
    from data_ingestion_project_spark.operators.incremental_dedup import _fenced_append

    postings, lens, dfs = index_rows(batch_docs, text_col, id_col)
    _fenced_append(spark, postings_path, postings, fence)
    _fenced_append(spark, lens_path, lens, fence)
    T.fold_merge(spark, dfs_path, dfs, "word", {"df": "t.df + s.df"}, fence)


def bm25_from_index(
    postings: DataFrame,
    lens: DataFrame,
    dfs: DataFrame,
    terms: tuple[str, ...],
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 10,
) -> DataFrame:
    """BM25 top-k SERVED from the index tables — byte-for-byte the
    queries/advanced.bm25_topk arithmetic (Lucene idf, integer
    micro-unit per-term quantization before the per-doc sum), so both
    forms share one DuckDB oracle. The postings read carries the term
    filter AND the precomputed bucket filter (``wb IN ...``) so a
    partitioned index prunes to the probe buckets at planning time;
    corpus-level stats (N, avgdl) ride as a broadcast 1-row frame and
    the term dfs as a broadcast terms-cardinality frame."""
    buckets = sorted({term_bucket(t) for t in terms})
    tf = postings.filter(
        F.col("wb").isin(buckets) & F.col("word").isin(*terms)
    ).select("word", "doc_id", "tf")
    stats = lens.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.sum("dl").cast("double").alias("sum_dl"),
    )
    term_dfs = dfs.filter(F.col("word").isin(*terms))
    scored = (
        tf.join(F.broadcast(term_dfs), "word")
        .join(lens, "doc_id")
        .crossJoin(F.broadcast(stats))
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    tf_norm = (F.col("tf") * (k1 + 1)) / (
        F.col("tf")
        + k1 * (1 - b + b * F.col("dl") * F.col("n_docs") / F.col("sum_dl"))
    )
    totals = (
        scored.select(
            "doc_id",
            F.round(idf * tf_norm * 1_000_000, 0).cast("long").alias("score_i"),
        )
        .groupBy("doc_id")
        .agg(F.sum("score_i").alias("total_i"))
    )
    return (
        totals.orderBy(F.col("total_i").desc(), F.col("doc_id").asc())
        .limit(top_k)
        .select(
            "doc_id",
            F.round(F.col("total_i") / 1_000_000, 6).alias("bm25"),
        )
    )
