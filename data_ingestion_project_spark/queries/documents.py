"""Document-table analytics: text statistics, quality, fingerprints,
dedup — the LLM-training-data pipeline surface (north star in
BASELINE.json; the reference itself has no text analytics).

SQL-expressible variants carry a DuckDB oracle; the probabilistic
dedup variants (MinHash LSH, SimHash) are exposed rows-only since
their candidate generation is not reasonably expressible in ANSI SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestion_project_spark.functions.text import (
    BPE_SPLIT_PATTERN,
    bpe_token_count,
    fingerprint,
    lang_guess,
    normalize_text,
    punct_ratio,
    stopword_count,
    token_count,
    winnow_fingerprints,
)
from data_ingestion_project_spark.operators.dedup import (
    exact_dup_pairs,
    jaccard_pairs,
    jaccard_pairs_prefix,
    md5_minhash_candidates,
    substitution_block_pairs,
)
from data_ingestion_project_spark.operators.fanout import fanout_to_cores
from data_ingestion_project_spark.operators.materialize import pin
from data_ingestion_project_spark.queries._precision import floor_round
from data_ingestion_project_spark.sources.readers import table


def lang_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    return (
        d.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
        .orderBy("lang")
    )


ORACLE_LANG_STATS = """
SELECT lang, COUNT(*) AS n_docs, ROUND(AVG(n_chars), 4) AS avg_chars,
       MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
FROM documents GROUP BY lang ORDER BY lang
"""


def token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token counting — pure codegen (split+size), no UDF."""
    d = table(spark, sf_dir, "documents")
    toks = token_count("text")
    return (
        d.select("lang", toks.alias("n_tokens"))
        .groupBy("lang")
        .agg(
            F.round(F.avg("n_tokens"), 4).alias("avg_tokens"),
            F.min("n_tokens").alias("min_tokens"),
            F.max("n_tokens").alias("max_tokens"),
        )
        .orderBy("lang")
    )


ORACLE_TOKEN_STATS = """
SELECT lang,
       ROUND(AVG(n_tokens), 4) AS avg_tokens,
       MIN(n_tokens) AS min_tokens,
       MAX(n_tokens) AS max_tokens
FROM (
  SELECT lang, CAST(len(string_split_regex(trim(text), '\\s+')) AS INTEGER) AS n_tokens
  FROM documents
) t
GROUP BY lang ORDER BY lang
"""


def doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality features: punctuation density + stopword
    count; all regex work is JVM-side codegen."""
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.round(punct_ratio("text"), 6).alias("punct_ratio"),
        stopword_count("text").alias("n_stopwords"),
        token_count("text").alias("n_tokens"),
    ).orderBy("doc_id")


ORACLE_DOC_QUALITY = """
SELECT doc_id,
       ROUND((length(text) - length(regexp_replace(text, '[.!?,;:]', '', 'g'))) * 1.0
             / length(text), 6) AS punct_ratio,
       CAST(len(regexp_extract_all(lower(text), '\\b(the|a|of|and|to|in|is|it)\\b', 0)) AS INTEGER)
         AS n_stopwords,
       CAST(len(string_split_regex(trim(text), '\\s+')) AS INTEGER) AS n_tokens
FROM documents
ORDER BY doc_id
"""


def quality_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style quality-filter waterfall per source (Rae et al.
    2021, §A1.1-style heuristic rules — public-knowledge document
    filters): minimum length, mean-word-length band, stopword
    presence, punctuation density cap. Reports per-source survivor
    counts per rule and the token budget that survives the full
    filter — the accounting an LLM-data pipeline publishes for every
    corpus snapshot. One scan, one shuffle; every rule is a codegen'd
    expression over columns already computed for doc_quality."""
    d = table(spark, sf_dir, "documents")
    toks = token_count("text")
    mean_wl = F.length(F.regexp_replace("text", r"\s+", "")) / toks
    rules = d.select(
        "source",
        toks.alias("n_tokens"),
        (toks >= 5).alias("pass_len"),
        mean_wl.between(2.0, 12.0).alias("pass_wl"),
        (stopword_count("text") >= 1).alias("pass_stop"),
        (punct_ratio("text") <= 0.2).alias("pass_punct"),
    ).withColumn(
        "pass_all",
        F.col("pass_len") & F.col("pass_wl") & F.col("pass_stop") & F.col("pass_punct"),
    )
    return (
        rules.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("pass_len").cast("int")).alias("n_pass_len"),
            F.sum(F.col("pass_wl").cast("int")).alias("n_pass_wl"),
            F.sum(F.col("pass_stop").cast("int")).alias("n_pass_stop"),
            F.sum(F.col("pass_punct").cast("int")).alias("n_pass_punct"),
            F.sum(F.col("pass_all").cast("int")).alias("n_pass_all"),
            F.sum(F.when(F.col("pass_all"), F.col("n_tokens")).otherwise(0)).alias(
                "surviving_tokens"
            ),
            F.round(
                F.sum(F.col("pass_all").cast("int")) / F.count(F.lit(1)), 4
            ).alias("pass_rate"),
        )
        .orderBy("source")
    )


ORACLE_QUALITY_FILTER_FUNNEL = """
WITH rules AS (
  SELECT source,
         CAST(len(string_split_regex(trim(text), '\\s+')) AS INTEGER) AS n_tokens,
         len(regexp_replace(text, '\\s+', '', 'g')) * 1.0 AS n_nonspace,
         CAST(len(regexp_extract_all(lower(text), '\\b(the|a|of|and|to|in|is|it)\\b', 0)) AS INTEGER) AS n_stop,
         (length(text) - length(regexp_replace(text, '[.!?,;:]', '', 'g'))) * 1.0 / length(text) AS p_ratio
  FROM documents
), flags AS (
  SELECT source, n_tokens,
         (n_tokens >= 5) AS pass_len,
         (n_nonspace / n_tokens BETWEEN 2.0 AND 12.0) AS pass_wl,
         (n_stop >= 1) AS pass_stop,
         (p_ratio <= 0.2) AS pass_punct
  FROM rules
), all_flags AS (
  SELECT *, (pass_len AND pass_wl AND pass_stop AND pass_punct) AS pass_all FROM flags
)
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(CAST(pass_len AS INT)) AS BIGINT) AS n_pass_len,
       CAST(SUM(CAST(pass_wl AS INT)) AS BIGINT) AS n_pass_wl,
       CAST(SUM(CAST(pass_stop AS INT)) AS BIGINT) AS n_pass_stop,
       CAST(SUM(CAST(pass_punct AS INT)) AS BIGINT) AS n_pass_punct,
       CAST(SUM(CAST(pass_all AS INT)) AS BIGINT) AS n_pass_all,
       CAST(SUM(CASE WHEN pass_all THEN n_tokens ELSE 0 END) AS BIGINT) AS surviving_tokens,
       ROUND(SUM(CAST(pass_all AS INT)) * 1.0 / COUNT(*), 4) AS pass_rate
FROM all_flags GROUP BY source ORDER BY source
"""


def stratified_sample_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling for corpus mixing: per-language
    keep rates (en 50%, others 20%) applied via a content-independent
    hash bucket — ``md5(doc_id)``'s first byte < 256 × rate. Unlike
    ``df.sample``, the decision is a pure function of the row key:
    reproducible across partitionings, re-runs, and engines (the oracle
    replays it exactly), and at 100 TB it needs no sampling state —
    it's a codegen'd filter. Reports per-language kept/total."""
    d = table(spark, sf_dir, "documents")
    bucket = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2), 16, 10).cast("int")
    rate = F.when(F.col("lang") == "en", F.lit(0.5)).otherwise(F.lit(0.2))
    kept = (bucket < rate * 256).cast("int")
    return (
        d.select("lang", kept.alias("kept"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("kept").alias("n_sampled"),
            F.round(F.sum("kept") / F.count(F.lit(1)), 4).alias("observed_rate"),
        )
        .orderBy("lang")
    )


ORACLE_STRATIFIED_SAMPLE_RATES = """
WITH h AS (
  SELECT lang,
         (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
           + strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1 AS bucket
  FROM documents
), flags AS (
  SELECT lang,
         CASE WHEN bucket < (CASE WHEN lang = 'en' THEN 0.5 ELSE 0.2 END) * 256
              THEN 1 ELSE 0 END AS kept
  FROM h
)
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(kept) AS BIGINT) AS n_sampled,
       ROUND(SUM(kept) * 1.0 / COUNT(*), 4) AS observed_rate
FROM flags GROUP BY lang ORDER BY lang
"""


# Conservative e-mail pattern in the regex subset shared by Java regex
# (Spark) and RE2 (DuckDB): no lookaround, ASCII classes only.
_EMAIL_RE = r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"


def pii_scrub_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction accounting per source — the scrub pass
    an LLM-data pipeline runs before training (emails here; phones/IPs
    are the same expression shape). Counts matches, redacts with
    regexp_replace, reports docs-with-PII and characters removed.

    The synthetic corpus contains no PII, so the query first PLANTS a
    deterministic marker address in every 5th document — the planted
    rows are the certified fixture (same posture as
    media_feature_stats' synthetic payloads): the extraction and
    redaction expressions are certified end-to-end against DuckDB with
    nonzero counts, and on real data the plant step is dropped."""
    d = table(spark, sf_dir, "documents")
    planted = d.select(
        "source",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact: user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("t"),
    )
    feats = planted.select(
        "source",
        F.size(F.regexp_extract_all("t", F.lit(_EMAIL_RE), F.lit(0))).alias("n_emails"),
        (F.length("t") - F.length(F.regexp_replace("t", _EMAIL_RE, "[EMAIL]"))).alias(
            "chars_removed"
        ),
    )
    return (
        feats.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("n_emails") > 0).cast("int")).alias("n_docs_with_pii"),
            F.sum("n_emails").alias("total_emails"),
            F.sum("chars_removed").alias("total_chars_removed"),
        )
        .orderBy("source")
    )


ORACLE_PII_SCRUB_STATS = f"""
WITH planted AS (
  SELECT source,
         CASE WHEN doc_id % 5 = 0
              THEN text || ' contact: user' || CAST(doc_id AS VARCHAR) || '@example.com'
              ELSE text END AS t
  FROM documents
), feats AS (
  SELECT source,
         CAST(len(regexp_extract_all(t, '{_EMAIL_RE}', 0)) AS INTEGER) AS n_emails,
         length(t) - length(regexp_replace(t, '{_EMAIL_RE}', '[EMAIL]', 'g')) AS chars_removed
  FROM planted
)
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN n_emails > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_with_pii,
       CAST(SUM(n_emails) AS BIGINT) AS total_emails,
       CAST(SUM(chars_removed) AS BIGINT) AS total_chars_removed
FROM feats GROUP BY source ORDER BY source
"""


def bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate-BPE token accounting per (source, lang) — the token
    budget an LLM-training-data pipeline reports per corpus slice. The
    count is matches of the GPT-2-style pre-tokenizer regex
    (functions/text.py: pure JVM codegen, no tokenizer library). All
    aggregates derive from exact integer sums, so the rounded ratios
    are order-independent and oracle-stable."""
    d = table(spark, sf_dir, "documents")
    return (
        d.select(
            "source",
            "lang",
            bpe_token_count("text").alias("n_bpe"),
            token_count("text").alias("n_ws"),
        )
        .groupBy("source", "lang")
        .agg(
            F.sum("n_bpe").alias("total_bpe_tokens"),
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.sum("n_bpe") / F.count(F.lit(1)), 4).alias("avg_bpe_tokens"),
            F.round(F.sum("n_bpe") / F.sum("n_ws"), 4).alias("bpe_per_word"),
        )
        .orderBy("source", "lang")
    )


_BPE_SQL = BPE_SPLIT_PATTERN.replace("'", "''")

ORACLE_BPE_TOKEN_STATS = f"""
SELECT source, lang,
       CAST(SUM(n_bpe) AS BIGINT) AS total_bpe_tokens,
       COUNT(*) AS n_docs,
       ROUND(SUM(n_bpe) * 1.0 / COUNT(*), 4) AS avg_bpe_tokens,
       ROUND(SUM(n_bpe) * 1.0 / SUM(n_ws), 4) AS bpe_per_word
FROM (
  SELECT source, lang,
         CAST(len(regexp_extract_all(text, '{_BPE_SQL}', 0)) AS INTEGER) AS n_bpe,
         CAST(len(string_split_regex(trim(text), '\\s+')) AS INTEGER) AS n_ws
  FROM documents
) t
GROUP BY source, lang
ORDER BY source, lang
"""


def _winnow_fps_path(spark: SparkSession, sf_dir: str) -> str:
    """Materialize (once per corpus mtime) the winnowed fingerprint
    table (doc_id, fp; k=8, w=4, md5 mode) shared by every consumer
    (the pair table below, benchmark_contamination). Rebuilding the
    fingerprint pipeline per query measures recompute, not the query —
    at 100 TB the fp table is a shared lakehouse asset maintained
    incrementally (operators/incremental_dedup.py appends new docs' fps
    as batches arrive; this is the batch-rebuild twin)."""
    import os

    from data_ingestion_project_spark.operators.materialize import (
        dataset_tag,
        ensure_materialized,
    )

    abs_dir = os.path.abspath(os.path.normpath(sf_dir))

    def _build(tmp: str) -> None:
        d = table(spark, sf_dir, "documents")
        fps = winnow_fingerprints(d, "text", "doc_id", k=8, w=4, use_md5=True)
        # 8 files: the fp table is ~gram_count*2/(w+1) rows of 2 small
        # columns; at real scale this write would be bucketed BY fp so
        # the pair-expansion groupBy shuffles nothing.
        fps.repartition(8).write.parquet(tmp)

    return ensure_materialized(
        f"winnow_fps_{dataset_tag(abs_dir)}",
        os.path.join(abs_dir, "documents.parquet"),
        _build,
    )


def _winnow_fps(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(_winnow_fps_path(spark, sf_dir))


def _winnow_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared candidate table: (id_a, id_b, n_shared) counted pairs from
    winnowed fingerprints with posting lists capped at 50 docs —
    materialized once per corpus mtime (chained off the fp table's own
    freshness stamp) and read by winnow_overlap_top and
    dup_cluster_sizes. The pair table IS the asset a dedup pipeline
    maintains; recomputing the expansion per analytic query measures
    recompute, not the query.

    Posting-list expansion instead of a fp-keyed self-join: grouping
    once and expanding pairs from the sorted id array computes each
    posting list exactly once and emits only the O(df²)-bounded
    candidate pairs the join would produce anyway. `ids` is a bound
    attribute, so the nested lambdas are O(output), not O(n²)
    recompute."""
    import os

    from data_ingestion_project_spark.operators.materialize import (
        dataset_tag,
        ensure_materialized,
    )

    abs_dir = os.path.abspath(os.path.normpath(sf_dir))
    fps_path = _winnow_fps_path(spark, sf_dir)

    def _build(tmp: str) -> None:
        fps = spark.read.parquet(fps_path)
        lists = (
            fps.groupBy("fp")
            .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
            .filter((F.size("ids") >= 2) & (F.size("ids") <= 50))
        )
        n = F.size("ids")
        pairs = lists.select(
            F.explode(
                F.flatten(
                    F.transform(
                        F.sequence(F.lit(1), n - 1),
                        lambda i: F.transform(
                            F.slice(F.col("ids"), i + 1, n),
                            lambda x: F.struct(
                                F.element_at("ids", i).alias("id_a"), x.alias("id_b")
                            ),
                        ),
                    )
                )
            ).alias("p")
        )
        counted = pairs.groupBy(
            F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b")
        ).agg(F.count(F.lit(1)).alias("n_shared"))
        counted.repartition(4).write.parquet(tmp)

    path = ensure_materialized(
        f"winnow_pairs_{dataset_tag(abs_dir)}",
        os.path.join(fps_path, "_SUCCESS"),
        _build,
    )
    return spark.read.parquet(path)


def winnow_overlap_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 document pairs by shared winnowed fingerprints (MOSS-style
    partial-overlap / containment detection; functions/text.py cites
    Schleimer et al. SIGMOD 2003). Candidate generation groups by
    fingerprint ONCE and expands pairs from each (capped) posting list
    — one shuffle, never all-pairs, and the winnow pipeline runs a
    single time (the fp-keyed self-join alternative recomputes it per
    join branch — see _winnow_pair_counts). Posting lists are capped
    at 50 docs (a fingerprint shared by more documents carries no pair
    signal, same pruning as jaccard_pairs). md5 hashing here so DuckDB
    replays the identical winnow selection; production uses the
    xxhash64 default."""
    counted = _winnow_pair_counts(spark, sf_dir)
    return counted.orderBy(F.col("n_shared").desc(), "id_a", "id_b").limit(20)


def dup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster size histogram: winnow pairs sharing >= 20
    fingerprints are edges; connected components (operators/graph.py,
    iterative min-label propagation) give the transitive dup clusters a
    dedup pass would keep one canonical doc from. Output is
    (cluster_size, n_clusters) — tiny and deterministic. The DuckDB
    oracle replays the closure with a recursive CTE, certifying an
    iterative (non-single-SQL-shape) Spark operator value-exactly."""
    from data_ingestion_project_spark.operators.graph import connected_components

    edges = _winnow_pair_counts(spark, sf_dir).filter(F.col("n_shared") >= 20)
    comp = connected_components(edges, src="id_a", dst="id_b")
    sizes = comp.groupBy("comp").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .orderBy("cluster_size")
    )


def dup_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the near-dup graph: edge count, closed
    triangles, open wedges (length-2 paths), and the global clustering
    coefficient 3·triangles/wedges — the structural signal that
    separates template DUPLICATION (dense, high-clustering cliques of
    boilerplate) from chained partial overlap (low-clustering paths),
    which tells a dedup pipeline whether cluster-collapse or pairwise
    pruning fits the corpus.

    Plan: edges are stored id_a < id_b, which IS the canonical
    orientation, so each triangle is counted exactly once by the
    two-hop join e1(a,b)⋈e2(b,c)⋈e3(a,c) — the standard distributed
    formulation; at web scale you would re-orient by degree
    (low-degree endpoint first) to bound the join's skew, the same
    trick the star CC formulation uses. Wedges come from one
    degree aggregate (Σ d·(d-1)/2). All-integer arithmetic, one
    value-determined division — oracle-exact."""
    edges = _winnow_pair_counts(spark, sf_dir).filter(F.col("n_shared") >= 20).select(
        "id_a", "id_b"
    )
    e1, e2, e3 = edges.alias("e1"), edges.alias("e2"), edges.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.id_b") == F.col("e2.id_a"))
        .join(
            e3,
            (F.col("e3.id_a") == F.col("e1.id_a"))
            & (F.col("e3.id_b") == F.col("e2.id_b")),
        )
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    deg = (
        edges.select(F.col("id_a").alias("node"))
        .unionAll(edges.select(F.col("id_b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    wed = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        # per-row integer wedge count, long-summed — exact at any scale
        F.sum((F.col("d") * (F.col("d") - 1) / 2).cast("long")).alias("n_wedges"),
    )
    n_edges = edges.agg(F.count(F.lit(1)).alias("n_edges"))
    return (
        n_edges.crossJoin(F.broadcast(wed))
        .crossJoin(F.broadcast(tri))
        .select(
            "n_edges",
            "n_nodes",
            "n_triangles",
            "n_wedges",
            F.when(F.col("n_wedges") > 0, F.round(3 * F.col("n_triangles") / F.col("n_wedges"), 6))
            .otherwise(F.lit(0.0))
            .alias("clustering_coeff"),
        )
    )


def dup_cluster_sizes_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dup_cluster_sizes computed with the ALTERNATING large-star /
    small-star connected components (operators/graph.py, Kiveris et
    al. SoCC'14) instead of min-label propagation — the O(log² n)-round
    formulation for high-diameter graphs. Shares the SAME DuckDB
    recursive-CTE oracle, so the driver gate value-certifies the star
    algorithm end-to-end on real pair data, not just pytest toys."""
    from data_ingestion_project_spark.operators.graph import connected_components_star

    edges = _winnow_pair_counts(spark, sf_dir).filter(F.col("n_shared") >= 20)
    comp = connected_components_star(edges, src="id_a", dst="id_b")
    sizes = comp.groupBy("comp").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .orderBy("cluster_size")
    )


# Shared winnow fingerprint CTEs (the SQL twin of
# functions/text.py::winnow_fingerprints with k=8, w=4, md5 mode),
# composed into the winnow-pair and contamination oracles.
_WINNOW_FPS_CTES = """norm AS (
  SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS s
  FROM documents
), fps AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
           range(1, greatest(greatest(len(s) - 7, 1) - 3, 1) + 1),
           j -> list_min(list_slice(grams, j, j + 3))))) AS fp
  FROM (
    SELECT doc_id, s,
           list_transform(range(1, greatest(len(s) - 7, 1) + 1), i -> md5(substr(s, i, 8))) AS grams
    FROM norm
  )
)"""

# ... extended with the posting-list prune + pair expansion (the SQL
# twin of _winnow_pair_counts).
_WINNOW_PAIR_CTES = _WINNOW_FPS_CTES + """, rare AS (
  SELECT fp FROM fps GROUP BY fp HAVING COUNT(*) <= 50
), pruned AS (
  SELECT doc_id, fp FROM fps JOIN rare USING (fp)
), wpairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared
  FROM pruned a JOIN pruned b ON a.fp = b.fp AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)"""

ORACLE_WINNOW_OVERLAP_TOP = f"""
WITH {_WINNOW_PAIR_CTES}
SELECT id_a, id_b, n_shared FROM wpairs
ORDER BY n_shared DESC, id_a, id_b
LIMIT 20
"""


def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise SOURCE overlap matrix — the dataset-curation audit that
    generalizes benchmark_contamination from one held-out source to
    every source pair: counts of winnow near-dup document pairs
    (>= 5 shared fingerprints, the contamination threshold) per
    unordered source pair, diagonal included. A hot off-diagonal cell
    means two ingestion feeds ship overlapping text (double-counted
    training mass, or benchmark leakage if one side is an eval suite);
    a hot diagonal means a feed self-duplicates. Reads the MAINTAINED
    winnow pair asset (_winnow_pair_counts — built once, appended per
    batch via operators/incremental_dedup.update_pair_index), so the
    audit never re-winnows the corpus; the source lookup is one
    doc-sized join per pair side."""
    d = table(spark, sf_dir, "documents")
    pairs = _winnow_pair_counts(spark, sf_dir).filter(F.col("n_shared") >= 5)
    meta = d.select("doc_id", "source")
    ma = meta.select(F.col("doc_id").alias("id_a"), F.col("source").alias("sa"))
    mb = meta.select(F.col("doc_id").alias("id_b"), F.col("source").alias("sb"))
    return (
        pairs.join(ma, "id_a")
        .join(mb, "id_b")
        .select(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy("source_a", "source_b")
    )


ORACLE_SOURCE_OVERLAP_MATRIX = f"""
WITH {_WINNOW_PAIR_CTES},
meta AS (SELECT doc_id, source FROM documents)
SELECT LEAST(ma.source, mb.source) AS source_a,
       GREATEST(ma.source, mb.source) AS source_b,
       COUNT(*) AS n_pairs
FROM wpairs w
JOIN meta ma ON ma.doc_id = w.id_a
JOIN meta mb ON mb.doc_id = w.id_b
WHERE w.n_shared >= 5
GROUP BY 1, 2 ORDER BY source_a, source_b
"""

ORACLE_DUP_GRAPH_TRIANGLES = f"""
WITH {_WINNOW_PAIR_CTES},
edges AS (SELECT id_a, id_b FROM wpairs WHERE n_shared >= 20),
tri AS (
  SELECT COUNT(*) AS n_triangles
  FROM edges e1
  JOIN edges e2 ON e2.id_a = e1.id_b
  JOIN edges e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b
),
deg AS (
  SELECT node, COUNT(*) AS d FROM (
    SELECT id_a AS node FROM edges UNION ALL SELECT id_b FROM edges
  ) t GROUP BY node
),
wed AS (
  SELECT COUNT(*) AS n_nodes,
         CAST(SUM((d * (d - 1)) // 2) AS BIGINT) AS n_wedges
  FROM deg
),
ne AS (SELECT COUNT(*) AS n_edges FROM edges)
SELECT n_edges, n_nodes, n_triangles, n_wedges,
       CASE WHEN n_wedges > 0
            THEN ROUND(3 * n_triangles * 1.0 / n_wedges, 6)
            ELSE 0.0 END AS clustering_coeff
FROM ne CROSS JOIN wed CROSS JOIN tri
"""

def local_clustering_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution of LOCAL clustering coefficients over the near-dup
    graph: per node, c(v) = 2·t(v)/(d(v)(d(v)−1)) where t(v) is the
    number of triangles through v, bucketed into deciles — the
    per-node refinement of dup_graph_triangles' single global number.
    A mass at c≈1 is clique-like template duplication (safe to
    cluster-collapse); mass at c≈0 is chained partial overlap (collapse
    would merge non-duplicates) — the histogram is the decision input
    for choosing the dedup collapse policy per corpus.

    Plan: triangles from the canonical a<b<c two-hop join (the
    dup_graph_triangles shape), exploded once to per-corner counts;
    degrees from one aggregate; only nodes with d ≥ 2 have a defined
    coefficient.  Exactness: t and d are exact integers; each c(v)
    quantizes to integer micro-units (one value-determined division),
    the decile bucket floors the SAME micro integer (never the raw
    double), and the global mean divides two exact integers."""
    edges = _winnow_pair_counts(spark, sf_dir).filter(F.col("n_shared") >= 20).select(
        "id_a", "id_b"
    )
    e1, e2, e3 = edges.alias("e1"), edges.alias("e2"), edges.alias("e3")
    tri_nodes = (
        e1.join(e2, F.col("e1.id_b") == F.col("e2.id_a"))
        .join(
            e3,
            (F.col("e3.id_a") == F.col("e1.id_a"))
            & (F.col("e3.id_b") == F.col("e2.id_b")),
        )
        .select(
            F.explode(
                F.array(F.col("e1.id_a"), F.col("e1.id_b"), F.col("e2.id_b"))
            ).alias("node")
        )
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("t"))
    )
    deg = (
        edges.select(F.col("id_a").alias("node"))
        .unionAll(edges.select(F.col("id_b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
        .filter(F.col("d") >= 2)
    )
    per = deg.join(tri_nodes, "node", "left").select(
        "node",
        F.round(
            F.lit(2.0e6)
            * F.coalesce(F.col("t"), F.lit(0)).cast("double")
            / (F.col("d").cast("double") * (F.col("d").cast("double") - F.lit(1.0))),
            0,
        )
        .cast("long")
        .alias("c_q"),
    )
    bucketed = per.select(
        F.least(F.floor(F.col("c_q") / F.lit(100_000)), F.lit(9))
        .cast("int")
        .alias("bucket"),
        "c_q",
    )
    g = bucketed.agg(
        F.count(F.lit(1)).alias("n_eligible"), F.sum("c_q").alias("sum_cq")
    )
    return (
        bucketed.groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_nodes"))
        .crossJoin(F.broadcast(g))
        .select(
            "bucket",
            (F.col("bucket").cast("double") / F.lit(10.0)).alias("bucket_lo"),
            "n_nodes",
            F.col("n_eligible").cast("long").alias("n_eligible"),
            floor_round(
                F.col("sum_cq").cast("double")
                / F.col("n_eligible").cast("double")
                / F.lit(1.0e6),
                6,
            ).alias("mean_coeff"),
        )
        .orderBy("bucket")
    )


ORACLE_LOCAL_CLUSTERING_HISTOGRAM = f"""
WITH {_WINNOW_PAIR_CTES},
edges AS (SELECT id_a, id_b FROM wpairs WHERE n_shared >= 20),
tri AS (
  SELECT e1.id_a AS a, e1.id_b AS b, e2.id_b AS c
  FROM edges e1
  JOIN edges e2 ON e2.id_a = e1.id_b
  JOIN edges e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b
),
tri_nodes AS (
  SELECT node, COUNT(*) AS t FROM (
    SELECT a AS node FROM tri UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri
  ) x GROUP BY node
),
deg AS (
  SELECT node, COUNT(*) AS d FROM (
    SELECT id_a AS node FROM edges UNION ALL SELECT id_b FROM edges
  ) x GROUP BY node HAVING COUNT(*) >= 2
),
per AS (
  SELECT dg.node,
         CAST(ROUND(2000000.0 * CAST(COALESCE(tn.t, 0) AS DOUBLE)
                    / (CAST(dg.d AS DOUBLE) * (CAST(dg.d AS DOUBLE) - 1.0)), 0)
              AS BIGINT) AS c_q
  FROM deg dg LEFT JOIN tri_nodes tn ON tn.node = dg.node
),
bucketed AS (
  SELECT CAST(LEAST(FLOOR(c_q / 100000), 9) AS INT) AS bucket, c_q FROM per
),
g AS (SELECT COUNT(*) AS n_eligible, SUM(c_q) AS sum_cq FROM bucketed)
SELECT bucket,
       CAST(bucket AS DOUBLE) / 10.0 AS bucket_lo,
       COUNT(*) AS n_nodes,
       CAST(g.n_eligible AS BIGINT) AS n_eligible,
       sign(CAST(g.sum_cq AS DOUBLE) / CAST(g.n_eligible AS DOUBLE) / 1000000.0)
         * floor(abs(CAST(g.sum_cq AS DOUBLE) / CAST(g.n_eligible AS DOUBLE)
                     / 1000000.0) * 1000000.0 + 0.5) / 1000000.0 AS mean_coeff
FROM bucketed CROSS JOIN g
GROUP BY bucket, g.n_eligible, g.sum_cq
ORDER BY bucket
"""


_JACCARD_SWEEP_THRESHOLDS = (0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9)


def jaccard_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-threshold OPERATING CURVE: for each candidate Jaccard
    threshold τ, the number of exact word-set near-dup pairs at
    jaccard ≥ τ and the number of distinct documents touched — the
    table a curation team reads to CHOOSE the dedup threshold (how
    many documents each notch of aggressiveness would implicate),
    turning the single-τ near_dup_jaccard queries into a policy sweep.

    Plan is DICTIONARY-GATED (r12): a LIMIT-bounded probe checks
    whether the global token dictionary fits a machine word (≤ 64
    tokens).  If it does — the degenerate regime where every posting
    list is the whole corpus and the inverted-index join is a cross
    join in disguise — the whole curve computes at MASK level
    (operators/dedup.jaccard_threshold_counts_smalldict): word sets
    become 64-bit masks, jaccard a popcount ratio, pair counts
    conditional sums of group multiplicities over the (distinct
    masks)² frame, and no doc-pair frame is ever materialized.  On a
    Zipfian dictionary the probe fails fast and the plan is ONE
    inverted-index pair join (operators/dedup.jaccard_pairs,
    min_jaccard = 0.3 prunes the frame at the source) swept by a
    7-row threshold literal frame.  Exactness (both branches):
    jaccard is one value-determined division of exact integers
    compared against PINNED literal thresholds; everything reported
    is a count."""
    from data_ingestion_project_spark.operators.dedup import (
        jaccard_threshold_counts_smalldict,
        small_dict_vocab,
    )

    d = table(spark, sf_dir, "documents")
    vocab = small_dict_vocab(d)
    if vocab is not None:
        return jaccard_threshold_counts_smalldict(
            d, vocab, _JACCARD_SWEEP_THRESHOLDS
        )
    pairs = pin(
        jaccard_pairs(d, min_jaccard=_JACCARD_SWEEP_THRESHOLDS[0])
        .select("id_a", "id_b", "jaccard")
    )
    thr = spark.createDataFrame(
        [(t,) for t in _JACCARD_SWEEP_THRESHOLDS], "threshold double"
    )
    hit = pairs.crossJoin(F.broadcast(thr)).filter(
        F.col("jaccard") >= F.col("threshold")
    )
    n_pairs = hit.groupBy("threshold").agg(F.count(F.lit(1)).alias("n_pairs"))
    n_docs = (
        hit.select("threshold", F.explode(F.array("id_a", "id_b")).alias("doc"))
        .groupBy("threshold")
        .agg(F.count_distinct("doc").alias("n_docs"))
    )
    return (
        thr.join(n_pairs, "threshold", "left")
        .join(n_docs, "threshold", "left")
        .select(
            "threshold",
            F.coalesce("n_pairs", F.lit(0)).cast("long").alias("n_pairs"),
            F.coalesce("n_docs", F.lit(0)).cast("long").alias("n_docs"),
        )
        .orderBy("threshold")
    )


def _oracle_jaccard_threshold_sweep() -> str:
    tvals = ", ".join(f"({t!r})" for t in _JACCARD_SWEEP_THRESHOLDS)
    return f"""
WITH words AS (
  SELECT doc_id,
         unnest(list_distinct(string_split_regex(
           regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), '\\s+'))) AS word
  FROM documents
), sizes AS (
  SELECT doc_id, COUNT(*) AS set_size FROM words GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
  FROM words a JOIN words b ON a.word = b.word AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
), pairs AS (
  SELECT id_a, id_b,
         n_common * 1.0 / (sa.set_size + sb.set_size - n_common) AS jaccard
  FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE n_common * 1.0 / (sa.set_size + sb.set_size - n_common) >= 0.3
), thr(threshold) AS (VALUES {tvals}),
hit AS (
  SELECT t.threshold, p.id_a, p.id_b
  FROM pairs p CROSS JOIN thr t WHERE p.jaccard >= t.threshold
), np AS (SELECT threshold, COUNT(*) AS n_pairs FROM hit GROUP BY 1),
nd AS (
  SELECT threshold, COUNT(DISTINCT doc) AS n_docs FROM (
    SELECT threshold, id_a AS doc FROM hit
    UNION ALL SELECT threshold, id_b FROM hit
  ) x GROUP BY threshold
)
SELECT t.threshold,
       COALESCE(np.n_pairs, 0) AS n_pairs,
       COALESCE(nd.n_docs, 0) AS n_docs
FROM thr t
LEFT JOIN np ON np.threshold = t.threshold
LEFT JOIN nd ON nd.threshold = t.threshold
ORDER BY t.threshold
"""


ORACLE_JACCARD_THRESHOLD_SWEEP = _oracle_jaccard_threshold_sweep()


def adamic_adar_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic–Adar link prediction on the near-dup graph: for every
    NON-adjacent document pair with at least one common neighbor,
    score = Σ_z 1/ln(deg(z)) over their common neighbors z — the
    classic missing-link score (a shared rare neighbor is strong
    evidence; a shared hub is weak).  On a dedup graph these are the
    pairs most likely to be duplicates the pairwise detector MISSED
    (e.g. two near-identical docs that each matched a third but whose
    own fingerprint overlap fell under the threshold) — the top-10
    ranked here is the human-review queue a curation pipeline emits.

    Plan: edges come from the maintained winnow-pair asset; the
    candidate set is one two-hop self-join of the neighbor list
    (bounded by Σ_z deg(z)² — on a dedup graph cluster sizes are
    capped by the oversized-bucket valve; at web scale you would also
    cap per-node fan-out to the top-d neighbors, the standard AA
    truncation), an anti-join removes existing edges, and the score
    aggregation is exact: each 1/ln(deg) quantizes to integer
    nano-units (deg ≥ 2 for any common neighbor by construction, so
    ln > 0). Top-10 with full (score, id_a, id_b) tie-break."""
    edges = _winnow_pair_counts(spark, sf_dir).filter(F.col("n_shared") >= 20).select(
        "id_a", "id_b"
    )
    nbr = edges.select(F.col("id_a").alias("z"), F.col("id_b").alias("nb")).unionAll(
        edges.select(F.col("id_b").alias("z"), F.col("id_a").alias("nb"))
    )
    deg = nbr.groupBy("z").agg(F.count(F.lit(1)).alias("d"))
    a = nbr.join(deg, "z").select(
        "z", F.col("nb").alias("id_a"), F.col("d").alias("d")
    )
    b = nbr.select("z", F.col("nb").alias("id_b"))
    cand = (
        a.join(b, "z")
        .filter(F.col("id_a") < F.col("id_b"))
        .join(edges, ["id_a", "id_b"], "left_anti")
    )
    wq = F.round(F.lit(1.0e9) / F.log(F.col("d").cast("double")), 0).cast("long")
    scores = cand.groupBy("id_a", "id_b").agg(
        F.count(F.lit(1)).alias("n_common"), F.sum(wq).alias("score_q")
    )
    return (
        scores.orderBy(F.col("score_q").desc(), "id_a", "id_b")
        .limit(10)
        .select(
            "id_a",
            "id_b",
            "n_common",
            (F.col("score_q").cast("double") / F.lit(1.0e9)).alias("aa_score"),
        )
    )


ORACLE_ADAMIC_ADAR_LINK_PREDICTION = f"""
WITH {_WINNOW_PAIR_CTES},
edges AS (SELECT id_a, id_b FROM wpairs WHERE n_shared >= 20),
nbr AS (
  SELECT id_a AS z, id_b AS nb FROM edges
  UNION ALL SELECT id_b, id_a FROM edges
),
deg AS (SELECT z, COUNT(*) AS d FROM nbr GROUP BY z),
cand AS (
  SELECT a.nb AS id_a, b.nb AS id_b, dg.d
  FROM nbr a
  JOIN nbr b ON a.z = b.z AND a.nb < b.nb
  JOIN deg dg ON dg.z = a.z
),
cand2 AS (
  SELECT c.id_a, c.id_b, c.d
  FROM cand c LEFT JOIN edges e ON e.id_a = c.id_a AND e.id_b = c.id_b
  WHERE e.id_a IS NULL
),
s AS (
  SELECT id_a, id_b, COUNT(*) AS n_common,
         SUM(CAST(ROUND(1000000000.0 / ln(CAST(d AS DOUBLE)), 0) AS BIGINT))
           AS score_q
  FROM cand2 GROUP BY 1, 2
)
SELECT id_a, id_b, n_common,
       CAST(score_q AS DOUBLE) / 1000000000.0 AS aa_score
FROM s ORDER BY score_q DESC, id_a, id_b LIMIT 10
"""


def dup_cluster_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster COHESION census of the near-dup graph plus its
    global modularity: for each connected component, internal edge
    count and edge density 2e/(n(n−1)) — the per-cluster signal that
    tells a dedup pass whether a cluster is a clique of true
    duplicates (density ≈ 1, safe to collapse to one canonical doc)
    or a low-density chain of pairwise partial overlaps (collapsing
    would delete non-duplicates).  dup_graph_triangles answers this
    globally; this is the per-cluster decision table.

    Modularity of the component partition needs only per-component
    edge counts: every edge is internal to its component, so the
    degree sum d_c = 2·e_c and Q = Σ_c (e_c/m − (e_c/m)²).

    Plan: edges come from the maintained winnow-pair asset; CC labels
    from operators/graph.py (min-label propagation); one KEYED SHUFFLE
    label join tags each edge with its component (id_a's label — both
    endpoints share it by construction), then two tiny aggregates.
    The label frame is node-cardinality, so it is NOT broadcast (the
    dup_graph_assortativity rule — a corpus-sized broadcast is a
    driver OOM at 100 TB); only the 1-row m/q scalars are.
    Top-15 by size with full tie-break; all-integer counts, two
    value-determined rounded doubles.  The DuckDB oracle replays the
    closure with the same recursive CTE as dup_cluster_sizes."""
    from data_ingestion_project_spark.operators.graph import connected_components

    edges = _winnow_pair_counts(spark, sf_dir).filter(F.col("n_shared") >= 20).select(
        "id_a", "id_b"
    )
    comp = connected_components(edges, src="id_a", dst="id_b")
    sizes = comp.groupBy("comp").agg(F.count(F.lit(1)).alias("n_nodes"))
    ec = (
        edges.join(comp.withColumnRenamed("node", "id_a"), "id_a")
        .groupBy("comp")
        .agg(F.count(F.lit(1)).alias("n_edges"))
    )
    m = edges.agg(F.count(F.lit(1)).alias("m"))
    per = sizes.join(ec, "comp")
    q = per.crossJoin(F.broadcast(m)).agg(
        F.round(
            F.sum(
                F.col("n_edges").cast("double") / F.col("m")
                - (F.col("n_edges").cast("double") / F.col("m"))
                * (F.col("n_edges").cast("double") / F.col("m"))
            ),
            6,
        ).alias("q_modularity")
    )
    return (
        per.orderBy(F.col("n_nodes").desc(), F.col("comp").asc())
        .limit(15)
        .crossJoin(F.broadcast(q))
        .select(
            "comp",
            "n_nodes",
            "n_edges",
            F.round(
                F.lit(2.0)
                * F.col("n_edges").cast("double")
                / (
                    F.col("n_nodes").cast("double")
                    * (F.col("n_nodes").cast("double") - F.lit(1.0))
                ),
                6,
            ).alias("density"),
            "q_modularity",
        )
        .orderBy(F.col("n_nodes").desc(), F.col("comp").asc())
    )


ORACLE_DUP_CLUSTER_DENSITY = f"""
WITH RECURSIVE {_WINNOW_PAIR_CTES},
edges AS (
  SELECT id_a, id_b FROM wpairs WHERE n_shared >= 20
),
sym AS (
  SELECT id_a AS s, id_b AS d FROM edges
  UNION ALL
  SELECT id_b AS s, id_a AS d FROM edges
),
walk(n, lbl) AS (
  SELECT DISTINCT s, s FROM sym
  UNION
  SELECT e.d, w.lbl FROM walk w JOIN sym e ON e.s = w.n
),
comp AS (SELECT n, MIN(lbl) AS c FROM walk GROUP BY n),
sizes AS (SELECT c AS comp, COUNT(*) AS n_nodes FROM comp GROUP BY c),
ec AS (
  SELECT cm.c AS comp, COUNT(*) AS n_edges
  FROM edges e JOIN comp cm ON cm.n = e.id_a
  GROUP BY 1
),
m AS (SELECT COUNT(*) AS m FROM edges),
per AS (
  SELECT s.comp, s.n_nodes, ec.n_edges
  FROM sizes s JOIN ec ON ec.comp = s.comp
),
q AS (
  SELECT ROUND(SUM(CAST(n_edges AS DOUBLE) / m
                   - (CAST(n_edges AS DOUBLE) / m)
                   * (CAST(n_edges AS DOUBLE) / m)), 6) AS q_modularity
  FROM per CROSS JOIN m
)
SELECT comp, CAST(n_nodes AS BIGINT) AS n_nodes,
       CAST(n_edges AS BIGINT) AS n_edges,
       ROUND(2.0 * CAST(n_edges AS DOUBLE)
             / (CAST(n_nodes AS DOUBLE) * (CAST(n_nodes AS DOUBLE) - 1.0)),
             6) AS density,
       q_modularity
FROM per CROSS JOIN q
ORDER BY n_nodes DESC, comp ASC
LIMIT 15
"""


ORACLE_DUP_CLUSTER_SIZES = f"""
WITH RECURSIVE {_WINNOW_PAIR_CTES},
edges AS (
  SELECT id_a AS s, id_b AS d FROM wpairs WHERE n_shared >= 20
  UNION ALL
  SELECT id_b AS s, id_a AS d FROM wpairs WHERE n_shared >= 20
),
walk(n, lbl) AS (
  SELECT DISTINCT s, s FROM edges
  UNION
  SELECT e.d, w.lbl FROM walk w JOIN edges e ON e.s = w.n
),
comp AS (SELECT n, MIN(lbl) AS c FROM walk GROUP BY n),
sizes AS (SELECT c, COUNT(*) AS cluster_size FROM comp GROUP BY c)
SELECT cluster_size, COUNT(*) AS n_clusters
FROM sizes GROUP BY cluster_size ORDER BY cluster_size
"""


def media_feature_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal pipeline end-to-end through the driver gate: build a
    deterministic media table (payload = UTF-8 bytes of the document
    text, kind cycled by doc_id), run the REAL mapInPandas feature
    extraction from operators/multimodal.py (Arrow batches, stubbed
    codec — features are bytes of the payload's sha256, so the oracle
    can replay them), aggregate per kind. Certifies the multimodal
    plumbing (binary columns, UDF schema, batch shape) value-exactly;
    only the codec byte-math is synthetic."""
    from data_ingestion_project_spark.operators.multimodal import extract_media_features

    d = table(spark, sf_dir, "documents")
    media = d.select(
        F.col("doc_id").alias("media_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("kind"),
        F.encode("text", "UTF-8").alias("payload"),
    )
    feats = extract_media_features(media)
    return (
        feats.groupBy("kind")
        .agg(
            F.count(F.lit(1)).alias("n_media"),
            F.sum("n_bytes").alias("total_bytes"),
            F.round(F.avg("feat_mean"), 4).alias("avg_feat_mean"),
            F.round(F.avg("feat_entropy"), 4).alias("avg_feat_entropy"),
        )
        .orderBy("kind")
    )


def media_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL codec end-to-end through the driver gate (VERDICT r2 #8):
    each document is rendered as a genuine binary-PPM (P6) image —
    width/height/pixel value derived from doc_id, header + raster built
    with pure JVM expressions — then DECODED FOR REAL by the stdlib P6
    parser (operators/multimodal.decode_ppm, via the Arrow mapInPandas
    path) and aggregated per recovered width. The oracle derives the
    same stats from doc_id arithmetic, so a parser that misreads the
    header, miscounts the raster, or mis-averages pixels value-fails
    the gate. Pixel values are printable ASCII so the payload survives
    a 1-byte-per-char UTF-8 encode."""
    from data_ingestion_project_spark.operators.multimodal import decode_media_dims

    d = table(spark, sf_dir, "documents")
    w = (F.col("doc_id") % 5 + 4).cast("int")
    h = (F.col("doc_id") % 4 + 3).cast("int")
    media = d.select(
        F.col("doc_id").alias("media_id"),
        F.encode(
            F.concat(
                F.lit("P6\n"),
                w.cast("string"),
                F.lit(" "),
                h.cast("string"),
                F.lit("\n255\n"),
                F.expr("repeat(char(CAST(doc_id % 95 + 32 AS INT)), "
                       "CAST((doc_id % 5 + 4) * (doc_id % 4 + 3) * 3 AS INT))"),
            ),
            "UTF-8",
        ).alias("payload"),
    )
    # NOTE (r12): deliberately NOT fanned out like the JPEG/PNG/MP4
    # codecs — the P6 parse is a header read + one bytes.mean, and the
    # bench measured the repartition as a net LOSS here (0.50 → 0.74 s:
    # the exchange costs more than the trivial decode saves)
    dims = decode_media_dims(media)
    return (
        dims.groupBy("width")
        .agg(
            F.count(F.lit(1)).alias("n_media"),
            F.round(F.avg("height"), 4).alias("avg_height"),
            F.sum("n_samples").alias("total_samples"),
            F.round(F.avg("feat_mean"), 4).alias("avg_feat_mean"),
        )
        .orderBy("width")
    )


def png_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL COMPRESSED codec end-to-end (VERDICT r4 ask #3): each
    document is rendered executor-side as a genuine zlib-compressed,
    CRC'd PNG — dims, color type (gray/RGB), scanline filter (all five
    types, by doc_id % 5) and a pixel ramp all derived from doc_id —
    then decoded FOR REAL by the stdlib PNG parser
    (operators/multimodal.decode_png: chunk walk + CRC check + inflate
    + per-scanline unfilter incl. Paeth) via the Arrow mapInPandas dims
    path, and aggregated per recovered width. The oracle recomputes the
    same stats from doc_id arithmetic alone, so a decoder that
    misparses IHDR, loses raster bytes, or unfilters wrongly
    value-fails the gate. Dims are odd×odd with odd channel counts so
    per-doc pixel means never land on .5 — Python round (half-even)
    and DuckDB ROUND (half-away) agree.

    Both stages are Arrow-batched mapInPandas over (doc_id)-derived
    bytes — the inherently-Python codec seam; everything around it
    (grouping, averages) is JVM-side."""
    import pandas as _pd

    from data_ingestion_project_spark.operators.multimodal import (
        decode_media_dims,
        encode_png,
    )

    d = table(spark, sf_dir, "documents")

    def _encode(batches):
        for pdf in batches:
            payloads = []
            for doc_id in pdf["doc_id"]:
                i = int(doc_id)
                w = i % 4 * 2 + 3
                h = i % 3 * 2 + 3
                ct = 0 if i % 2 == 0 else 2  # gray (1ch) / RGB (3ch)
                n = w * h * (1 if ct == 0 else 3)
                px = bytes((i * 3 + j) % 256 for j in range(n))
                payloads.append(encode_png(w, h, px, color_type=ct, filter_type=i % 5))
            yield _pd.DataFrame({"media_id": pdf["doc_id"], "payload": payloads})

    # r12: fan the Python codec stage out to the session cores — the
    # single-file scan otherwise runs every encode+decode in ONE task
    # (guide §2.6 idle capacity; measured 4.7 s single-task JPEG decode)
    # r13: conditional (operators/fanout) — a well-split input at
    # scale skips the round-robin Exchange
    media = fanout_to_cores(d.select("doc_id")).mapInPandas(
        _encode, schema="media_id long, payload binary"
    )
    dims = decode_media_dims(media)
    return (
        dims.groupBy("width")
        .agg(
            F.count(F.lit(1)).alias("n_media"),
            F.round(F.avg("height"), 4).alias("avg_height"),
            F.sum("n_samples").alias("total_samples"),
            F.round(F.avg("feat_mean"), 4).alias("avg_feat_mean"),
        )
        .orderBy("width")
    )


def mp4_metadata_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL MP4 / ISO BMFF container parse end-to-end: each document is
    rendered executor-side as a genuine spec-correct MP4 (ftyp +
    moov(mvhd + per-track tkhd/mdhd/hdlr) + mdat — multi-track on odd
    doc_ids, 16.16 fixed-point dims, packed language, all fields
    doc_id-derived), then parsed FOR REAL by the stdlib box walker
    (operators/multimodal.parse_mp4) via the Arrow mapInPandas dims
    path, and aggregated per recovered video width.  The oracle
    recomputes the same stats from doc_id arithmetic alone, so a
    parser that misreads a box size, a fixed-point width, or the mvhd
    duration value-fails the gate.  After this query the injected-
    codec seam is elementary-stream decode (H.264/AAC) only.

    Both stages are Arrow-batched mapInPandas over (doc_id)-derived
    bytes — the inherently-Python container seam; everything around
    it (grouping, averages) is JVM-side."""
    import pandas as _pd

    from data_ingestion_project_spark.operators.multimodal import (
        decode_media_dims,
        encode_mp4,
    )

    d = table(spark, sf_dir, "documents")

    def _encode(batches):
        for pdf in batches:
            payloads = []
            for doc_id in pdf["doc_id"]:
                i = int(doc_id)
                tracks = [
                    {
                        "handler": "vide",
                        "width": 16 * (i % 4 + 1),
                        "height": 16 * (i % 3 + 1),
                        "timescale": 90000,
                        "language": "und",
                    }
                ]
                if i % 2 == 1:
                    tracks.append(
                        {"handler": "soun", "timescale": 48000, "language": "eng"}
                    )
                payloads.append(
                    encode_mp4(
                        1000,
                        1000 + (i % 977) * 10,
                        tracks,
                        mdat=bytes(i % 50 + 1),
                    )
                )
            yield _pd.DataFrame({"media_id": pdf["doc_id"], "payload": payloads})

    # r12: fan the Python codec stage out to the session cores — the
    # single-file scan otherwise runs every encode+decode in ONE task
    # (guide §2.6 idle capacity; measured 4.7 s single-task JPEG decode)
    # r13: conditional (operators/fanout) — a well-split input at
    # scale skips the round-robin Exchange
    media = fanout_to_cores(d.select("doc_id")).mapInPandas(
        _encode, schema="media_id long, payload binary"
    )
    dims = decode_media_dims(media)
    return (
        dims.groupBy("width")
        .agg(
            F.count(F.lit(1)).alias("n_media"),
            F.round(F.avg("height"), 4).alias("avg_height"),
            F.sum("n_samples").alias("total_mdat_bytes"),
            F.round(F.avg("feat_mean"), 4).alias("avg_dur_mod"),
        )
        .orderBy("width")
    )


ORACLE_MP4_METADATA_STATS = """
WITH m AS (
  SELECT doc_id,
         16 * (doc_id % 4 + 1) AS width,
         16 * (doc_id % 3 + 1) AS height,
         (1000 + (doc_id % 977) * 10) % 256 AS dur_mod,
         doc_id % 50 + 1 AS mdat_bytes
  FROM documents
)
SELECT CAST(width AS INT) AS width,
       COUNT(*) AS n_media,
       ROUND(AVG(height), 4) AS avg_height,
       CAST(SUM(mdat_bytes) AS BIGINT) AS total_mdat_bytes,
       ROUND(AVG(dur_mod), 4) AS avg_dur_mod
FROM m GROUP BY width ORDER BY width
"""


def weighted_sample_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted reservoir sample (A-ES, operators/sampling.py) audit:
    draw EXACTLY 200 documents with inclusion probability proportional
    to n_chars — the fixed-token-budget corpus-assembly primitive
    ("fill the budget, long docs proportionally more likely") — and
    report the per-source composition plus the sampled char mass.

    The sample itself is deterministic (md5 race draw, integer-
    quantized ln, integer-ratio sort key — see the operator module
    docstring), so the oracle replays draw, key, top-k and the
    composition aggregate value-exactly: a wrong quantization, a
    non-portable hash, or a broken tie-break all hash-fail the gate.
    Statistical correctness (inclusion tracks weight across salts) is
    pinned separately in pytest, where determinism would be the wrong
    tool.

    Plan: scan → key projection → TakeOrderedAndProject (per-partition
    top-k heaps, no shuffle/sort) → 200-row composition aggregate."""
    from data_ingestion_project_spark.operators.sampling import weighted_sample

    d = table(spark, sf_dir, "documents")
    s = weighted_sample(d, 200, id_col="doc_id", weight_col="n_chars")
    return (
        s.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.sum("n_chars").alias("sampled_chars"),
            F.min("doc_id").alias("first_doc"),
        )
        .orderBy("source")
    )


def _sql_hex48(hexcol: str) -> str:
    """48-bit integer from the first 12 hex digits of ``hexcol``,
    DuckDB-side (no conv() there): positional hex-digit arithmetic."""
    return " + ".join(
        f"(strpos('0123456789abcdef', substr({hexcol}, {i + 1}, 1)) - 1)"
        f" * {16 ** (11 - i)}"
        for i in range(12)
    )


ORACLE_WEIGHTED_SAMPLE_AUDIT = f"""
WITH keyed AS (
  SELECT doc_id, source, n_chars,
         CAST(ROUND(ln(({_sql_hex48("md5('aes:' || CAST(doc_id AS VARCHAR))")} + 1)
                       / {float(1 << 48)}) * 10000, 0) AS BIGINT) AS lnq
  FROM documents
), topk AS (
  SELECT doc_id, source, n_chars FROM keyed
  ORDER BY CAST(lnq AS DOUBLE) / n_chars DESC, doc_id ASC
  LIMIT 200
)
SELECT source,
       COUNT(*) AS n_sampled,
       CAST(SUM(n_chars) AS BIGINT) AS sampled_chars,
       MIN(doc_id) AS first_doc
FROM topk GROUP BY source ORDER BY source
"""


def jpeg_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL ENTROPY-CODED codec end-to-end (round-5 verdict ask #1):
    each document is rendered executor-side as a genuine baseline
    Huffman JPEG — dims, chroma mode (gray / 4:4:4 / 4:2:0 by
    doc_id % 3), restart markers (every 2 MCUs for doc_id % 5 == 0)
    and a flat fill value v = (doc_id·7) % 256 all derived from
    doc_id — then decoded FOR REAL by operators/jpegcodec.py (marker
    walk, DHT/DQT decode, Huffman entropy decode, dequant, 2-D IDCT,
    chroma upsample, YCbCr→RGB) via the Arrow mapInPandas dims path,
    and aggregated per recovered width.

    Flat-color images make the lossy pipeline ARITHMETICALLY EXACT
    (see jpegcodec module docstring): at quality 50 the luma DC quant
    step is exactly 16, so every decoded sample equals
    min(255, 128 + 2·sign(s)·⌊(|s|+1)/2⌋) with s = v−128 — a closed
    form the DuckDB oracle computes independently from doc_id
    arithmetic alone. A decoder that misparses a marker, mis-decodes a
    Huffman code, drops a restart reset, or transposes the IDCT (the
    exact bug this query's first run caught) value-fails the gate.
    Dims are odd so nothing hides behind even-size block alignment;
    4:2:0 exercises subsampled-plane padding + upsampling."""
    import pandas as _pd

    from data_ingestion_project_spark.operators.jpegcodec import encode_jpeg
    from data_ingestion_project_spark.operators.multimodal import decode_media_dims

    d = table(spark, sf_dir, "documents")

    def _encode(batches):
        for pdf in batches:
            payloads = []
            for doc_id in pdf["doc_id"]:
                i = int(doc_id)
                w = i % 4 * 2 + 3
                h = i % 3 * 2 + 3
                mode = ("gray", "444", "420")[i % 3]
                ncomp = 1 if mode == "gray" else 3
                v = (i * 7) % 256
                payloads.append(
                    encode_jpeg(
                        w,
                        h,
                        bytes([v]) * (w * h * ncomp),
                        mode=mode,
                        quality=50,
                        restart_interval=2 if i % 5 == 0 else 0,
                    )
                )
            yield _pd.DataFrame({"media_id": pdf["doc_id"], "payload": payloads})

    # r12: fan the Python codec stage out to the session cores — the
    # single-file scan otherwise runs every encode+decode in ONE task
    # (guide §2.6 idle capacity; measured 4.7 s single-task JPEG decode)
    # r13: conditional (operators/fanout) — a well-split input at
    # scale skips the round-robin Exchange
    media = fanout_to_cores(d.select("doc_id")).mapInPandas(
        _encode, schema="media_id long, payload binary"
    )
    dims = decode_media_dims(media)
    return (
        dims.groupBy("width")
        .agg(
            F.count(F.lit(1)).alias("n_media"),
            F.round(F.avg("height"), 4).alias("avg_height"),
            F.sum("n_samples").alias("total_samples"),
            F.round(F.avg("feat_mean"), 4).alias("avg_feat_mean"),
        )
        .orderBy("width")
    )


def jpeg_decode_stats_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRODUCTION twin of jpeg_decode_stats (VERDICT r6 ask #6): the
    identical encode → decode → aggregate pipeline with the decode
    seam filled by Pillow/libjpeg at C speed instead of the
    pure-Python certification codec — the png_decode_stats precedent,
    now for JPEG.  Registered ONLY when Pillow imports (the
    import-gated posture of argon2/protobuf), so environments without
    it skip cleanly; where both run, pytest asserts row-for-row
    agreement (flat-color fixtures decode exactly under any
    conformant decoder — see jpeg_decode_stats).  Bench-only /
    rows-only: the certification replay next to it carries the
    oracle."""
    import pandas as _pd

    from data_ingestion_project_spark.operators.jpegcodec import encode_jpeg
    from data_ingestion_project_spark.operators.multimodal import (
        decode_media_dims,
        pil_decode,
    )

    d = table(spark, sf_dir, "documents")

    def _encode(batches):
        for pdf in batches:
            payloads = []
            for doc_id in pdf["doc_id"]:
                i = int(doc_id)
                w = i % 4 * 2 + 3
                h = i % 3 * 2 + 3
                mode = ("gray", "444", "420")[i % 3]
                ncomp = 1 if mode == "gray" else 3
                v = (i * 7) % 256
                payloads.append(
                    encode_jpeg(
                        w,
                        h,
                        bytes([v]) * (w * h * ncomp),
                        mode=mode,
                        quality=50,
                        restart_interval=2 if i % 5 == 0 else 0,
                    )
                )
            yield _pd.DataFrame({"media_id": pdf["doc_id"], "payload": payloads})

    # r12: fan the Python codec stage out to the session cores — the
    # single-file scan otherwise runs every encode+decode in ONE task
    # (guide §2.6 idle capacity; measured 4.7 s single-task JPEG decode)
    # r13: conditional (operators/fanout) — a well-split input at
    # scale skips the round-robin Exchange
    media = fanout_to_cores(d.select("doc_id")).mapInPandas(
        _encode, schema="media_id long, payload binary"
    )
    dims = decode_media_dims(media, decode_fn=pil_decode)
    return (
        dims.groupBy("width")
        .agg(
            F.count(F.lit(1)).alias("n_media"),
            F.round(F.avg("height"), 4).alias("avg_height"),
            F.sum("n_samples").alias("total_samples"),
            F.round(F.avg("feat_mean"), 4).alias("avg_feat_mean"),
        )
        .orderBy("width")
    )


ORACLE_JPEG_DECODE_STATS = """
WITH m AS (
  SELECT doc_id,
         doc_id % 4 * 2 + 3 AS width,
         doc_id % 3 * 2 + 3 AS height,
         CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 3 END AS ch,
         (doc_id * 7) % 256 - 128 AS s
  FROM documents
), per_doc AS (
  -- the quality-50 flat-image closed form: every decoded sample is
  -- min(255, 128 + 2*sign(s)*floor((|s|+1)/2)), s = v - 128
  SELECT width, height, width * height * ch AS n,
         LEAST(255, 128 + 2 * (CASE WHEN s < 0 THEN -1 WHEN s > 0 THEN 1 ELSE 0 END)
                         * ((abs(s) + 1) // 2)) AS feat_mean
  FROM m
)
SELECT CAST(width AS INT) AS width,
       COUNT(*) AS n_media,
       ROUND(AVG(height), 4) AS avg_height,
       CAST(SUM(n) AS BIGINT) AS total_samples,
       ROUND(AVG(feat_mean), 4) AS avg_feat_mean
FROM per_doc GROUP BY width ORDER BY width
"""


ORACLE_PNG_DECODE_STATS = """
WITH m AS (
  SELECT doc_id,
         doc_id % 4 * 2 + 3 AS width,
         doc_id % 3 * 2 + 3 AS height,
         CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 3 END AS ch
  FROM documents
), px AS (
  SELECT doc_id, width, height, ch,
         (doc_id * 3 + unnest(range(width * height * ch))) % 256 AS v
  FROM m
), per_doc AS (
  SELECT doc_id, width, height, width * height * ch AS n,
         CAST(ROUND(SUM(v) * 1.0 / (width * height * ch), 0) AS INT) AS feat_mean
  FROM px GROUP BY doc_id, width, height, ch
)
SELECT CAST(width AS INT) AS width,
       COUNT(*) AS n_media,
       ROUND(AVG(height), 4) AS avg_height,
       CAST(SUM(n) AS BIGINT) AS total_samples,
       ROUND(AVG(feat_mean), 4) AS avg_feat_mean
FROM per_doc GROUP BY width ORDER BY width
"""


ORACLE_MEDIA_DECODE_STATS = """
WITH m AS (
  SELECT doc_id,
         doc_id % 5 + 4 AS width,
         doc_id % 4 + 3 AS height,
         doc_id % 95 + 32 AS px
  FROM documents
)
SELECT CAST(width AS INT) AS width,
       COUNT(*) AS n_media,
       ROUND(AVG(height), 4) AS avg_height,
       CAST(SUM(width * height * 3) AS BIGINT) AS total_samples,
       ROUND(AVG(px), 4) AS avg_feat_mean
FROM m GROUP BY width ORDER BY width
"""


# hex-pair → byte value, DuckDB-side (no strtol there): digit positions
# in the hex alphabet.
def _sql_hex_byte(pos: int) -> str:
    return (
        f"(strpos('0123456789abcdef', substr(h, {pos}, 1)) - 1) * 16"
        f" + strpos('0123456789abcdef', substr(h, {pos + 1}, 1)) - 1"
    )


ORACLE_MEDIA_FEATURE_STATS = f"""
WITH feats AS (
  -- sha256(VARCHAR) hashes the string's UTF-8 bytes = the Spark
  -- side's sha256 over encode(text, 'UTF-8')
  SELECT CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
         octet_length(encode(text)) AS n_bytes,
         sha256(text) AS h
  FROM documents
), parsed AS (
  SELECT kind, n_bytes,
         {_sql_hex_byte(1)} AS feat_mean,
         {_sql_hex_byte(3)} AS feat_entropy
  FROM feats
)
SELECT kind, COUNT(*) AS n_media,
       CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
       ROUND(AVG(feat_mean), 4) AS avg_feat_mean,
       ROUND(AVG(feat_entropy), 4) AS avg_feat_entropy
FROM parsed GROUP BY kind ORDER BY kind
"""


def bigram_logprob_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model predictability census — the Markov step up
    from the unigram model (unigram_logprob_quality): per document, the
    mean negative log-probability of its ADJACENT word pairs under the
    corpus bigram model with Laplace smoothing
    (P(w2|w1) = (c(w1,w2)+1)/(c(w1·)+V)), bucketed by whole nats.
    Repetitive/templated text lands in low buckets, high-entropy word
    salad in high ones — the bigram twin of a perplexity filter.

    Plan: adjacency WITHOUT a positional self-join — bigrams come from
    one JVM expression (explode of arrays_zip over two slices of the
    token array), then the model is two aggregates over that frame and
    one join back. Docs with fewer than 2 tokens have no bigrams and
    are excluded (both engines identically). Cross-engine exactness:
    per-bigram ln weights are integer-quantized (×1e4, the NB idiom),
    per-doc totals are exact BIGINT sums, the per-doc mean divides two
    identical integers, and the report aggregates per-doc means that
    were re-quantized (×1e3) — no float accumulates anywhere."""
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.split(F.lower(F.trim("text")), r"\s+").alias("a")
    ).withColumn("n", F.size("a"))
    pairs = (
        toks.filter(F.col("n") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.arrays_zip(
                    F.slice("a", 1, F.col("n") - 1).alias("w1"),
                    F.slice("a", 2, F.col("n") - 1).alias("w2"),
                )
            ).alias("p"),
        )
        .select("doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    )
    c12 = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    c1 = pairs.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    vocab = (
        d.select(F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("w"))
        .agg(F.count_distinct("w").alias("v"))
    )
    model = (
        c12.join(c1, "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "w1",
            "w2",
            F.round(
                F.log((F.col("c12") + 1) / (F.col("c1") + F.col("v"))) * 10000, 0
            )
            .cast("long")
            .alias("lp_i"),
        )
    )
    doc_scores = (
        pairs.join(model, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(F.sum("lp_i").alias("total_i"), F.count(F.lit(1)).alias("n_bi"))
        .select(
            "doc_id",
            # mean nats (negative log prob), re-quantized to 1e-7 nats
            F.round(-F.col("total_i") * 1000.0 / F.col("n_bi"), 0)
            .cast("long")
            .alias("nats_q"),
        )
    )
    return (
        doc_scores.groupBy(
            F.floor(F.col("nats_q") / 10_000_000).cast("int").alias("nats_bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.sum("nats_q") / (F.count(F.lit(1)) * 10_000_000.0), 4).alias(
                "avg_nats"
            ),
        )
        .orderBy("nats_bucket")
    )


ORACLE_BIGRAM_LOGPROB_BUCKETS = """
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS a
  FROM documents
), pairs AS (
  SELECT doc_id, a[i] AS w1, a[i + 1] AS w2
  FROM toks, LATERAL (SELECT unnest(range(1, len(a))) AS i) _
  WHERE len(a) >= 2
), c12 AS (
  SELECT w1, w2, COUNT(*) AS c12 FROM pairs GROUP BY w1, w2
), c1 AS (
  SELECT w1, COUNT(*) AS c1 FROM pairs GROUP BY w1
), vocab AS (
  SELECT COUNT(DISTINCT w) AS v FROM (
    SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w FROM documents
  )
), model AS (
  SELECT w1, w2,
         CAST(ROUND(ln((c12 + 1) * 1.0 / (c1 + v)) * 10000, 0) AS BIGINT) AS lp_i
  FROM c12 JOIN c1 USING (w1), vocab
), doc_scores AS (
  SELECT doc_id,
         CAST(ROUND(-SUM(lp_i) * 1000.0 / COUNT(*), 0) AS BIGINT) AS nats_q
  FROM pairs JOIN model USING (w1, w2)
  GROUP BY doc_id
)
SELECT CAST(FLOOR(nats_q / 10000000) AS INTEGER) AS nats_bucket,
       COUNT(*) AS n_docs,
       ROUND(SUM(nats_q) / (COUNT(*) * 10000000.0), 4) AS avg_nats
FROM doc_scores GROUP BY 1 ORDER BY nats_bucket
"""


def fingerprint_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-addressed dedup accounting per source: md5 fingerprint of
    normalized text (exact-dedup key at any scale)."""
    d = table(spark, sf_dir, "documents")
    return (
        d.select("source", fingerprint("text").alias("fp"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_distinct(F.col("fp")).alias("n_unique"),
        )
        .orderBy("source")
    )


ORACLE_FINGERPRINT_SUMMARY = """
SELECT source, COUNT(*) AS n_docs,
       COUNT(DISTINCT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))) AS n_unique
FROM documents GROUP BY source ORDER BY source
"""


def exact_duplicate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate pair listing (0 rows on clean corpora — the
    operator still exercises the fingerprint equi-join plan)."""
    d = table(spark, sf_dir, "documents")
    return exact_dup_pairs(d).orderBy("id_a", "id_b")


ORACLE_EXACT_DUPLICATE_PAIRS = """
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       md5(regexp_replace(lower(trim(a.text)), '\\s+', ' ', 'g')) AS fp
FROM documents a
JOIN documents b
  ON md5(regexp_replace(lower(trim(a.text)), '\\s+', ' ', 'g'))
   = md5(regexp_replace(lower(trim(b.text)), '\\s+', ' ', 'g'))
 AND a.doc_id < b.doc_id
ORDER BY id_a, id_b
"""


def near_dup_jaccard_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 most-similar doc pairs by exact word-set Jaccard.

    Dictionary-gated (r12): when the global token dictionary fits a
    machine word (≤ 64 tokens — the probe is LIMIT-bounded), the top-k
    computes over the (distinct masks)² popcount frame with only the
    at-threshold tie bundle ever expanded to doc ids
    (operators/dedup.jaccard_topk_smalldict) — value-identical to the
    quadratic join, cost bounded by the DICTIONARY, not the corpus.
    Zipfian dictionaries take the inverted-index equi-join (no cross
    join; operators/dedup.jaccard_pairs).  Distinct jaccard values
    under a ≤64-token dictionary are rationals with denominator ≤ 64,
    spaced ≥ 1/(64·63) ≫ the 1e-6 rounding quantum, so ordering by
    the rounded value is ordering by the exact one."""
    from data_ingestion_project_spark.operators.dedup import (
        jaccard_topk_smalldict,
        small_dict_vocab,
    )

    d = table(spark, sf_dir, "documents")
    vocab = small_dict_vocab(d)
    if vocab is not None:
        pairs = jaccard_topk_smalldict(d, vocab, k=20)
    else:
        pairs = jaccard_pairs(d, min_jaccard=0.0)
    return (
        pairs.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
        .orderBy(F.col("jaccard").desc(), F.col("id_a").asc(), F.col("id_b").asc())
        .limit(20)
    )


ORACLE_NEAR_DUP_JACCARD_TOP = """
WITH words AS (
  SELECT doc_id,
         unnest(list_distinct(string_split_regex(
           regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), '\\s+'))) AS word
  FROM documents
), sizes AS (
  SELECT doc_id, COUNT(*) AS set_size FROM words GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
  FROM words a JOIN words b ON a.word = b.word AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT id_a, id_b,
       ROUND(n_common * 1.0 / (sa.set_size + sb.set_size - n_common), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
ORDER BY jaccard DESC, id_a ASC, id_b ASC
LIMIT 20
"""


def near_dup_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 pairs with exact Jaccard >= 0.5 via PREFIX FILTERING
    (operators/dedup.jaccard_pairs_prefix — SSJoin/PPJoin): candidates
    only from each doc's rarest-token prefix, exact rescore, zero
    recall loss by theorem. Value-identical to the quadratic join (the
    oracle replays that), with the candidate join bounded by rare-token
    posting lists on any Zipfian corpus; bench-excluded here only
    because THIS corpus's 31-word uniform vocabulary has no rare
    tokens for any df-based method to exploit."""
    d = table(spark, sf_dir, "documents")
    pairs = jaccard_pairs_prefix(d, min_jaccard=0.5)
    return (
        pairs.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
        .orderBy(F.col("jaccard").desc(), F.col("id_a").asc(), F.col("id_b").asc())
        .limit(20)
    )


ORACLE_NEAR_DUP_JACCARD_PREFIX = """
WITH words AS (
  SELECT doc_id,
         unnest(list_distinct(string_split_regex(
           regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), '\\s+'))) AS word
  FROM documents
), sizes AS (
  SELECT doc_id, COUNT(*) AS set_size FROM words GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
  FROM words a JOIN words b ON a.word = b.word AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT id_a, id_b,
       ROUND(n_common * 1.0 / (sa.set_size + sb.set_size - n_common), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE n_common * 1.0 / (sa.set_size + sb.set_size - n_common) >= 0.5
ORDER BY jaccard DESC, id_a ASC, id_b ASC
LIMIT 20
"""


def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language-ID vs the labeled lang column (confusion
    counts). The CASE-expression heuristic is deliberately
    SQL-expressible so it stays oracle-checkable."""
    d = table(spark, sf_dir, "documents")
    return (
        d.select("lang", lang_guess("text").alias("guessed"))
        .groupBy("lang", "guessed")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("lang", "guessed")
    )


ORACLE_LANG_ID_CONFUSION = """
SELECT lang,
       CASE
         WHEN regexp_matches(lower(text), '[一-鿿]') THEN 'zh'
         WHEN regexp_matches(lower(text), '[äöüß]|\\b(und|der|die|das|nicht)\\b') THEN 'de'
         WHEN regexp_matches(lower(text), '[àâçéèêëîïôùûœ]|\\b(le|la|les|et|est|une)\\b') THEN 'fr'
         WHEN regexp_matches(lower(text), '[áéíóúñ¿¡]|\\b(el|los|las|es|una|que)\\b') THEN 'es'
         ELSE 'en'
       END AS guessed,
       COUNT(*) AS n
FROM documents
GROUP BY 1, 2
ORDER BY lang, guessed
"""


def similar_supplier_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-matching (levenshtein <= 1, equal lengths):
    the string-similarity primitive for entity resolution, via the
    substitution-neighborhood equi-join (operators/dedup.py) — exact
    candidate generation, one shuffle on the wildcard-variant key, no
    cross product. (Supplier names are fixed-format ``Supplier#NNN...``,
    so blocking on length alone degenerates to the full n^2/2 cross
    join; the variant key stays discriminative regardless.) The oracle
    is the declarative quadratic spec — same result set by construction
    because the blocking is recall-exact."""
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    pairs = substitution_block_pairs(s, id_col="s_suppkey", text_col="s_name")
    return (
        pairs.groupBy("dist")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy("dist")
    )


def entity_golden_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution end-to-end — blocking, matching, clustering,
    survivorship: candidate pairs via an exact BLOCKING-KEY equi-join
    (the record's digit string — the "match exactly on the strong key,
    fuzzily on the rest" rule; on digit-bearing names a bare
    edit-distance rule is degenerate, every record chains to its
    neighbor through single-digit steps), a levenshtein ≤ 1 rescore
    within blocks, transitive match closure via min-label connected
    components, then one GOLDEN RECORD per entity cluster by a
    deterministic survivorship rule (min_by on the key). Output: the
    ER census by cluster size, with a sample canonical name as the
    survivorship witness.

    Scale: blocking is ONE equi-join shuffle on the key, with the
    hot-key valve ENFORCED (operators/er.blocking_pairs
    max_block_size=16 — blocks exceeding the cap are refused before
    the quadratic self-join; on this corpus every block is ≤ 3 rows —
    original + two planted variants share a digit string — so the
    oracle, which replays the uncapped join, matches value-exactly;
    the cap's planted-hot-key behavior is property-tested in
    tests/test_operators.py). CC is O(diameter) rounds on the
    match-pair-sized edge list, survivorship one aggregation. The
    oracle replays blocking, rescore, closure (recursive CTE), and
    survivorship (arg_min), so the driver certifies the whole ER
    semantics value-exactly.

    Supplier names are synthetic-unique (zero natural typos), so the
    dirty records are PLANTED in-query, both engines identically (the
    repo's planted-dup idiom): every 10th supplier gets a one-char typo
    variant, every 20th a SECOND typo at a different position — the
    two variants differ from each other by distance 2, so only
    TRANSITIVE closure through the original merges them: the planted
    3-clusters certify closure, not just pairwise matching."""
    from data_ingestion_project_spark.operators.er import (
        blocking_pairs,
        match_pairs,
        resolve_clusters,
    )

    base = table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    typo = lambda pos: F.concat(  # noqa: E731 — same-length substitution
        F.expr(f"substring(s_name, 1, {pos - 1})"),
        F.lit("~"),
        F.expr(f"substring(s_name, {pos + 1})"),
    )
    v1 = base.filter(F.col("s_suppkey") % 10 == 0).select(
        (F.col("s_suppkey") + 1_000_000).alias("s_suppkey"), typo(3).alias("s_name")
    )
    v2 = base.filter(F.col("s_suppkey") % 20 == 0).select(
        (F.col("s_suppkey") + 2_000_000).alias("s_suppkey"), typo(6).alias("s_name")
    )
    s = base.unionByName(v1).unionByName(v2)
    keyed = s.withColumn("bkey", F.regexp_replace("s_name", "[^0-9]", ""))
    cands = blocking_pairs(keyed, id_col="s_suppkey", block_col="bkey", max_block_size=16)
    edges = match_pairs(cands, keyed, id_col="s_suppkey", text_col="s_name", max_distance=1)
    clustered = resolve_clusters(s, edges, id_col="s_suppkey")
    per = clustered.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("cluster_size"),
        F.count_distinct("s_name").alias("n_names"),
        F.min_by("s_name", "s_suppkey").alias("canonical_name"),
    )
    return (
        per.groupBy("cluster_size")
        .agg(
            F.count(F.lit(1)).alias("n_clusters"),
            F.round(F.sum("n_names") / F.count(F.lit(1)), 4).alias(
                "avg_name_variants"
            ),
            F.min("canonical_name").alias("sample_canonical"),
        )
        .orderBy("cluster_size")
    )


ORACLE_ENTITY_GOLDEN_RECORDS = """
WITH RECURSIVE ents AS (
  SELECT s_suppkey, s_name FROM supplier
  UNION ALL
  SELECT s_suppkey + 1000000,
         substr(s_name, 1, 2) || '~' || substr(s_name, 4)
  FROM supplier WHERE s_suppkey % 10 = 0
  UNION ALL
  SELECT s_suppkey + 2000000,
         substr(s_name, 1, 5) || '~' || substr(s_name, 7)
  FROM supplier WHERE s_suppkey % 20 = 0
),
keyed AS (
  SELECT s_suppkey, s_name,
         regexp_replace(s_name, '[^0-9]', '', 'g') AS bkey
  FROM ents
),
pairs AS (
  SELECT a.s_suppkey AS id_a, b.s_suppkey AS id_b
  FROM keyed a
  JOIN keyed b ON a.bkey = b.bkey
             AND a.s_suppkey < b.s_suppkey
  WHERE levenshtein(a.s_name, b.s_name) <= 1
),
edges AS (
  SELECT id_a AS s, id_b AS d FROM pairs
  UNION ALL
  SELECT id_b AS s, id_a AS d FROM pairs
),
walk(n, lbl) AS (
  SELECT DISTINCT s, s FROM edges
  UNION
  SELECT e.d, w.lbl FROM walk w JOIN edges e ON e.s = w.n
),
comp AS (SELECT n, MIN(lbl) AS c FROM walk GROUP BY n),
clustered AS (
  SELECT s.s_suppkey, s.s_name, COALESCE(comp.c, s.s_suppkey) AS cluster
  FROM ents s LEFT JOIN comp ON comp.n = s.s_suppkey
),
per AS (
  SELECT cluster, COUNT(*) AS cluster_size,
         COUNT(DISTINCT s_name) AS n_names,
         arg_min(s_name, s_suppkey) AS canonical_name
  FROM clustered GROUP BY cluster
)
SELECT cluster_size, COUNT(*) AS n_clusters,
       ROUND(SUM(n_names) * 1.0 / COUNT(*), 4) AS avg_name_variants,
       MIN(canonical_name) AS sample_canonical
FROM per GROUP BY cluster_size ORDER BY cluster_size
"""


def unicode_clean_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode-hygiene census — the scrub-then-NFC cleaning step every
    web-scale text pipeline runs before dedup/tokenization: drop
    zero-width format characters (ZWSP/ZWNJ/ZWJ/BOM — JVM
    ``regexp_replace``, codegen), then NFC-normalize composition forms
    (``e`` + COMBINING ACUTE → precomposed ``é`` — the one Arrow
    pandas-UDF step, since Spark has no NFC builtin).  Reports, per
    language: docs touched by each stage and code points removed.

    The synthetic corpus is pure ASCII (already NFC, no format chars),
    so dirt is PLANTED in-query, both engines identically (the repo's
    planted-fixture idiom): every 7th doc gets its ``e``s decomposed
    into ``e`` + U+0301; every 11th is wrapped in ZWSP/ZWNJ.  Docs at
    lcm positions exercise both stages; all planted chars are BMP so
    Spark's UTF-16 length and DuckDB's code-point length agree.

    Scale: one projection pass (scrub is codegen; NFC is a single
    ArrowEvalPython over the scrubbed column) + one partial-agg shuffle
    on ``lang``.  All-integer output — no float rounding in the gate.
    """
    from data_ingestion_project_spark.functions.unicodefn import (
        nfc_normalize,
        scrub_zero_width,
    )

    d = table(spark, sf_dir, "documents")
    t1 = F.when(
        F.col("doc_id") % 7 == 0,
        F.replace(F.col("text"), F.lit("e"), F.lit("é")),
    ).otherwise(F.col("text"))
    t2 = F.when(
        F.col("doc_id") % 11 == 0,
        F.concat(F.lit("​"), t1, F.lit("‌")),
    ).otherwise(t1)
    staged = (
        d.select("lang", t2.alias("raw"))
        .withColumn("scrubbed", scrub_zero_width(F.col("raw")))
        .withColumn("canon", nfc_normalize(F.col("scrubbed")))
    )
    return (
        staged.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                (F.length("raw") > F.length("scrubbed")).cast("long")
            ).alias("zw_docs"),
            F.sum(F.length("raw") - F.length("scrubbed")).alias("zw_chars_removed"),
            F.sum(
                (F.col("scrubbed") != F.col("canon")).cast("long")
            ).alias("nfc_changed_docs"),
            F.sum(F.length("scrubbed") - F.length("canon")).alias("nfc_cp_delta"),
        )
        .orderBy("lang")
    )


# chr(769)=U+0301 combining acute; chr(8203)/chr(8204)=ZWSP/ZWNJ;
# chr(8205)/chr(65279)=ZWJ/BOM (scrub class only).
ORACLE_UNICODE_CLEAN_STATS = """
WITH planted AS (
  SELECT lang,
         CASE WHEN doc_id % 11 = 0 THEN chr(8203) || t1 || chr(8204) ELSE t1 END AS raw
  FROM (
    SELECT doc_id, lang,
           CASE WHEN doc_id % 7 = 0 THEN replace(text, 'e', 'e' || chr(769)) ELSE text END AS t1
    FROM documents
  )
),
staged AS (
  SELECT lang, raw,
         regexp_replace(raw, '[' || chr(8203) || chr(8204) || chr(8205) || chr(65279) || ']', '', 'g') AS scrubbed
  FROM planted
),
normed AS (
  SELECT lang, raw, scrubbed, nfc_normalize(scrubbed) AS canon FROM staged
)
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN length(raw) > length(scrubbed) THEN 1 ELSE 0 END) AS BIGINT) AS zw_docs,
       CAST(SUM(length(raw) - length(scrubbed)) AS BIGINT) AS zw_chars_removed,
       CAST(SUM(CASE WHEN scrubbed <> canon THEN 1 ELSE 0 END) AS BIGINT) AS nfc_changed_docs,
       CAST(SUM(length(scrubbed) - length(canon)) AS BIGINT) AS nfc_cp_delta
FROM normed GROUP BY lang ORDER BY lang
"""


ORACLE_SIMILAR_SUPPLIER_NAMES = """
SELECT levenshtein(a.s_name, b.s_name) AS dist, COUNT(*) AS n_pairs
FROM supplier a
JOIN supplier b ON a.s_suppkey < b.s_suppkey AND length(a.s_name) = length(b.s_name)
WHERE levenshtein(a.s_name, b.s_name) <= 1
GROUP BY 1
ORDER BY dist
"""


def minhash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end recall certification of banded MinHash-LSH: candidate
    pairs from the md5-string minhash (cross-engine deterministic —
    operators/dedup.md5_minhash_candidates) scored against the exact
    Jaccard >= 0.9 ground truth. Unlike the rows-only smoke checks on
    the xxhash production path, this one is FULLY oracle-checked: the
    oracle replays the identical minhash in SQL, so the driver
    certifies that banded LSH actually finds the near-duplicates, not
    merely that it runs. (12 permutations, 4 bands of 3: a J=0.9 pair
    shares a band with p = 1-(1-0.9^3)^4 ~ 0.993.)"""
    d = table(spark, sf_dir, "documents")
    true_pairs = jaccard_pairs(d, min_jaccard=0.9).select("id_a", "id_b")
    cand = md5_minhash_candidates(d, num_perm=12, bands=4)
    hit = true_pairs.join(cand, ["id_a", "id_b"], "left_semi")
    t = true_pairs.agg(F.count(F.lit(1)).alias("n_true"))
    c = cand.agg(F.count(F.lit(1)).alias("n_candidates"))
    h = hit.agg(F.count(F.lit(1)).alias("n_hit"))
    return (
        t.crossJoin(c)
        .crossJoin(h)
        .select(
            "n_true",
            "n_candidates",
            "n_hit",
            F.round(F.col("n_hit") / F.col("n_true"), 4).alias("recall"),
        )
    )


ORACLE_MINHASH_RECALL = """
WITH words AS (
  SELECT doc_id,
         unnest(list_distinct(string_split_regex(
           regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), '\\s+'))) AS word
  FROM documents
), seeds AS (
  SELECT unnest(range(1, 13)) AS j
), sigs AS (
  SELECT doc_id, j, MIN(md5(CAST(j AS VARCHAR) || ':' || word)) AS sig
  FROM words CROSS JOIN seeds GROUP BY doc_id, j
), bkeys AS (
  SELECT doc_id, (j - 1) // 3 AS band, string_agg(sig, '|' ORDER BY j) AS bkey
  FROM sigs GROUP BY doc_id, band
), cand AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bkeys a JOIN bkeys b
    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), sizes AS (
  SELECT doc_id, COUNT(*) AS set_size FROM words GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
  FROM words a JOIN words b ON a.word = b.word AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), tp AS (
  SELECT id_a, id_b
  FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE n_common * 1.0 / (sa.set_size + sb.set_size - n_common) >= 0.9
)
SELECT (SELECT COUNT(*) FROM tp) AS n_true,
       (SELECT COUNT(*) FROM cand) AS n_candidates,
       (SELECT COUNT(*) FROM tp JOIN cand USING (id_a, id_b)) AS n_hit,
       ROUND((SELECT COUNT(*) FROM tp JOIN cand USING (id_a, id_b)) * 1.0
             / (SELECT COUNT(*) FROM tp), 4) AS recall
"""


# ------------------------------- rows-only (approximate dedup variants)


def _minhash_assets_path(spark: SparkSession, sf_dir: str) -> str:
    """Materialize (once per corpus mtime) the MinHash dedup assets:
    one compact per-doc table (doc_id, signature array<long>[32],
    words array<string>) — the signature feeds banded-LSH candidate
    generation, the word set the exact-Jaccard rescore. At 100 TB
    these are pipeline outputs appended per ingested batch (the same
    asset posture as the winnow fp index and its incremental twin in
    operators/incremental_dedup.py); re-exploding the corpus into a
    token table per dedup query — the pre-round-4 localCheckpoint —
    materializes corpus-size × token-multiplicity bytes every run.
    Both columns come out of ONE tokenize pass and ONE groupBy
    (operators/dedup.minhash_asset_rows — the SAME function the
    per-batch incremental maintenance path
    operators/incremental_dedup.update_signature_assets appends with,
    so the mtime-keyed rebuild here and the txn-table incremental twin
    are row-for-row identical; this static bench corpus keeps the
    mtime build, an ingesting deployment appends per batch)."""
    import os

    from data_ingestion_project_spark.operators.dedup import minhash_asset_rows
    from data_ingestion_project_spark.operators.materialize import (
        dataset_tag,
        ensure_materialized,
    )

    abs_dir = os.path.abspath(os.path.normpath(sf_dir))

    def _build(tmp: str) -> None:
        d = table(spark, sf_dir, "documents")
        minhash_asset_rows(d, "text", "doc_id", num_perm=32).repartition(8).write.parquet(tmp)

    return ensure_materialized(
        f"minhash_assets_{dataset_tag(abs_dir)}",
        os.path.join(abs_dir, "documents.parquet"),
        _build,
    )


def _simhash_path(spark: SparkSession, sf_dir: str) -> str:
    """Materialize (once per corpus mtime) the per-doc (doc_id,
    simhash) table — one 60-bit scalar per document, the cheapest
    dedup asset there is; the query-side work is then only the
    pigeonhole block join + popcount rescore. Built in md5 mode
    (operators/dedup.simhash use_md5 — the portable-hash idiom) so
    the whole pipeline replays as ANSI SQL and the query carries a
    value-exact oracle; an ingest stream that prefers xxhash64
    codegen speed keeps the operator default (same trade as
    md5_minhash_candidates)."""
    import os

    from data_ingestion_project_spark.operators.dedup import simhash
    from data_ingestion_project_spark.operators.materialize import (
        dataset_tag,
        ensure_materialized,
    )

    abs_dir = os.path.abspath(os.path.normpath(sf_dir))

    def _build(tmp: str) -> None:
        d = table(spark, sf_dir, "documents")
        simhash(d, "text", "doc_id", bits=60, use_md5=True).repartition(4).write.parquet(tmp)

    return ensure_materialized(
        f"simhash_md5_{dataset_tag(abs_dir)}",
        os.path.join(abs_dir, "documents.parquet"),
        _build,
    )


def minhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rescored top-200 near-dup pairs from MinHash-LSH: band equi-join
    candidates → exact-Jaccard rescore → bounded TakeOrdered (VERDICT
    r2 #4 — a dedup QUERY should return the ranked worst offenders, not
    the raw candidate firehose; the unbounded pair stream is an
    operator stage, operators/dedup.minhash_lsh_pairs_from, feeding
    the cluster pass). Deterministic total order (jaccard desc, id
    tiebreak) so the rows-only check is stable. Approximate candidate
    generation → rows-only (no oracle); recall floor pinned in pytest
    against exact Jaccard ground truth. Served from the MAINTAINED
    signature/word-set asset (_minhash_assets_path) — the query reads
    two compact per-doc columns, never re-exploding the corpus into
    tokens (the production posture: signatures are pipeline outputs,
    appended per batch)."""
    from data_ingestion_project_spark.operators.dedup import minhash_lsh_pairs_from

    assets = spark.read.parquet(_minhash_assets_path(spark, sf_dir))
    return (
        minhash_lsh_pairs_from(
            assets.select("doc_id", "signature"),
            assets.select("doc_id", "words"),
            num_perm=32,
            bands=8,
            min_jaccard=0.3,
            max_bucket_size=50,
        )
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
        .orderBy(F.col("jaccard").desc(), "id_a", "id_b")
        .limit(200)
    )


def simhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rescored top-200 SimHash near-dup pairs (Hamming ≤ 3 exact
    rescore over pigeonhole-blocked candidates; same bounded-output
    rationale as minhash_near_dups). Full recall needs max_hamming <
    blocks — see operators/dedup.py. Served from the maintained
    (doc_id, simhash) asset (_simhash_path): one 60-bit scalar per doc
    read off disk, so the query is just the block join + popcount.

    Certified value-exactly since r10: the asset is built in md5 mode
    (60-bit portable hash), so the DuckDB oracle replays EVERYTHING —
    tokenization, per-bit ±1 votes, sign packing, the 16-bit pigeonhole
    block keys, the max_block_size=100 degenerate-block valve
    (count-over-window, identical semantics), xor-popcount Hamming,
    and the deterministic (hamming, id_a, id_b) top-200 — entirely in
    integer arithmetic, no float anywhere."""
    from data_ingestion_project_spark.operators.dedup import simhash_near_pairs_from

    sh = spark.read.parquet(_simhash_path(spark, sf_dir))
    return (
        simhash_near_pairs_from(sh, max_hamming=3, blocks=4, max_block_size=100)
        .orderBy("hamming", "id_a", "id_b")
        .limit(200)
    )


def _oracle_simhash_near_dups() -> str:
    """Full integer replay of the md5-mode SimHash pipeline (see
    simhash_near_dups docstring). Generated: 60 per-bit vote rows per
    (doc, word) via a VALUES lattice of (bit, 2^bit)."""
    bit_rows = ",".join(f"({i},{1 << i})" for i in range(60))
    hex60 = " + ".join(
        f"(strpos('0123456789abcdef', substr(hx, {i + 1}, 1)) - 1)"
        f" * {16 ** (15 - 1 - i)}"
        for i in range(15)
    )
    blk_rows = ",".join(f"({i},{1 << (i * 16)})" for i in range(4))
    return f"""
WITH words AS (
  SELECT DISTINCT doc_id,
         unnest(list_distinct(string_split_regex(
           regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), '\\s+'))) AS word
  FROM documents
), hashed AS (
  SELECT doc_id, {hex60} AS hv
  FROM (SELECT doc_id, md5(word) AS hx FROM words)
), votes AS (
  SELECT doc_id, bits.i AS i, bits.p AS p,
         CASE WHEN (hv // bits.p) % 2 = 1 THEN 1 ELSE -1 END AS v
  FROM hashed, (VALUES {bit_rows}) AS bits(i, p)
), sh AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN s > 0 THEN p ELSE 0 END) AS BIGINT) AS simhash
  FROM (SELECT doc_id, i, p, SUM(v) AS s FROM votes GROUP BY doc_id, i, p)
  GROUP BY doc_id
), blocks AS (
  SELECT doc_id, simhash, bl.blk AS blk,
         (simhash // bl.shp) % 65536 AS key
  FROM sh, (VALUES {blk_rows}) AS bl(blk, shp)
), capped AS (
  SELECT * FROM (
    SELECT *, COUNT(*) OVER (PARTITION BY blk, key) AS bs FROM blocks
  ) WHERE bs <= 100
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         a.simhash AS sh_a, b.simhash AS sh_b
  FROM capped a JOIN capped b
    ON a.blk = b.blk AND a.key = b.key AND a.doc_id < b.doc_id
)
SELECT id_a, id_b, CAST(bit_count(xor(sh_a, sh_b)) AS INTEGER) AS hamming
FROM cand
WHERE bit_count(xor(sh_a, sh_b)) <= 3
ORDER BY hamming, id_a, id_b
LIMIT 200
"""


ORACLE_SIMHASH_NEAR_DUPS = _oracle_simhash_near_dups()


def approx_top_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 words via mergeable Misra-Gries summaries
    (operators/heavy_hitters.py) — the bounded-memory one-pass twin of
    top_words: each partition emits at most 4096 (word, weight)
    counters, so the shuffle moves summaries, not the vocabulary.
    In general MG weights are lower bounds short by ≤ n/(capacity+1)
    (property-tested against exact counts); on THIS corpus the
    vocabulary (31 words) is far below capacity, so no counter ever
    evicts and every weight equals the exact count — which is why the
    query carries a value-exact DuckDB oracle (exact top-20) rather
    than a rows-only check. Deterministic (count desc, word asc)
    tie-break on both sides."""
    from data_ingestion_project_spark.operators.heavy_hitters import heavy_hitters

    d = table(spark, sf_dir, "documents")
    words = d.select(F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("word"))
    return heavy_hitters(words, "word", capacity=4096, k=20)


def cms_word_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch point-frequency census (operators/cms.py) — the
    dual of the Misra-Gries path (approx_top_words): where MG returns
    frequent-item IDENTITIES with lower-bound weights, the CMS answers
    "how often did THIS word occur?" for any candidate, with UPPER
    bounds (collisions only add). Output: the top-20 words with their
    exact count, the CMS estimate from a deliberately tight 4×64-cell
    sketch (256 counters for the whole corpus — small enough that
    collisions actually happen and the overcount column is non-trivial),
    and the overcount. est ≥ exact ALWAYS (the CMS guarantee; also
    property-tested in pytest along with the exact cellwise-additive
    merge identity).

    Plan (r10, VERDICT r9 #4): this census needs the EXACT per-word
    counts for its own output anyway, so the sketch is built FROM that
    counted frame (operators/cms.cms_build_weighted) — cellwise
    identical to sketching the raw stream, but the ×4 depth multiply
    and the per-row md5 run over the VOCABULARY, not the token stream
    (sf10 delta measured in BASELINE.md's r10 notes; the transient
    JVM peak collapses with the 4× stream multiply). One vocabulary-keyed aggregation
    (map-side combine ships per-partition-distinct words), then the
    4×|vocab| cell build; probes join the broadcast 256-row sketch.
    Streams of near-unique items keep the cms_build stream path (see
    the operator docstring for the cardinality trade). The md5-salted
    bucket hash (portable-hash idiom) makes every stage replayable as
    ANSI SQL — hence the value-exact oracle."""
    from data_ingestion_project_spark.operators.cms import (
        cms_build_weighted,
        cms_point_estimates,
    )

    d = table(spark, sf_dir, "documents")
    words = d.select(F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("word"))
    exact = words.groupBy("word").agg(F.count(F.lit(1)).alias("exact_cnt"))
    sketch = cms_build_weighted(exact, "word", "exact_cnt", depth=4, width=64)
    est = cms_point_estimates(exact, sketch, "word", depth=4, width=64)
    return (
        est.select(
            "word",
            "exact_cnt",
            F.col("est").alias("cms_est"),
            (F.col("est") - F.col("exact_cnt")).alias("overcount"),
        )
        .orderBy(F.col("exact_cnt").desc(), F.col("word").asc())
        .limit(20)
    )


def leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test assignment that CANNOT leak near-duplicates
    across splits: the unit of assignment is the winnow dup-CLUSTER
    (connected components over the materialized pair table), not the
    document — splitting by doc hash puts one near-dup in train and
    its twin in test, the quiet contamination the benchmark-
    contamination query measures after the fact and this prevents by
    construction. Cluster → split via md5 of the cluster id (engine-
    reproducible, rerun-stable, no sampler state): bucket < 8 train,
    = 8 val, = 9 test. The straddling_pairs column certifies the
    no-leakage property inside the gated result itself (0 by
    construction — both ends of every dup edge share a cluster, hence
    a split)."""
    from data_ingestion_project_spark.operators.graph import connected_components

    d = table(spark, sf_dir, "documents")
    edges = _winnow_pair_counts(spark, sf_dir).filter(F.col("n_shared") >= 20)
    comp = connected_components(edges, src="id_a", dst="id_b").withColumnRenamed(
        "node", "doc_id"
    )
    clustered = d.select("doc_id").join(comp, "doc_id", "left").select(
        "doc_id", F.coalesce("comp", "doc_id").alias("cluster_id")
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("cluster_id").cast("string")), 1, 4), 16, 10)
        .cast("int")
        % 10
    )
    split = (
        F.when(bucket < 8, F.lit("train"))
        .when(bucket == 8, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    assigned = clustered.select("doc_id", "cluster_id", split.alias("split"))

    sa = assigned.select(F.col("doc_id").alias("id_a"), F.col("split").alias("sa"))
    sb = assigned.select(F.col("doc_id").alias("id_b"), F.col("split").alias("sb"))
    straddle = (
        edges.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(F.col("sa") != F.col("sb"))
        .agg(F.count(F.lit(1)).alias("n"))
        .first()["n"]
    )
    return (
        assigned.groupBy("split")
        .agg(
            F.count_distinct("cluster_id").alias("n_clusters"),
            F.count(F.lit(1)).alias("n_docs"),
        )
        .withColumn("straddling_pairs", F.lit(int(straddle)).cast("long"))
        .orderBy("split")
    )


# 4 leading md5 hex chars -> int, DuckDB-side (no conv() there):
# two hex-pair bytes via the strpos digit arithmetic used elsewhere.
_SQL_MD5_BUCKET = (
    "((" + _sql_hex_byte(1) + ") * 256 + (" + _sql_hex_byte(3) + ")) % 10"
)

ORACLE_LEAKAGE_SAFE_SPLIT = f"""
WITH RECURSIVE {{WINNOW}},
edges AS (
  SELECT id_a AS s, id_b AS d FROM wpairs WHERE n_shared >= 20
  UNION ALL
  SELECT id_b AS s, id_a AS d FROM wpairs WHERE n_shared >= 20
),
walk(n, lbl) AS (
  SELECT DISTINCT s, s FROM edges
  UNION
  SELECT e.d, w.lbl FROM walk w JOIN edges e ON e.s = w.n
),
comp AS (SELECT n AS doc_id, MIN(lbl) AS c FROM walk GROUP BY n),
assigned AS (
  SELECT d.doc_id,
         COALESCE(c.c, d.doc_id) AS cluster_id,
         md5(CAST(COALESCE(c.c, d.doc_id) AS VARCHAR)) AS h
  FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
),
split_tbl AS (
  SELECT doc_id, cluster_id,
         CASE WHEN {_SQL_MD5_BUCKET} < 8 THEN 'train'
              WHEN {_SQL_MD5_BUCKET} = 8 THEN 'val'
              ELSE 'test' END AS split
  FROM assigned
),
straddle AS (
  SELECT COUNT(*) AS n
  FROM wpairs p
  JOIN split_tbl a ON p.id_a = a.doc_id
  JOIN split_tbl b ON p.id_b = b.doc_id
  WHERE p.n_shared >= 20 AND a.split <> b.split
)
SELECT split, COUNT(DISTINCT cluster_id) AS n_clusters, COUNT(*) AS n_docs,
       (SELECT CAST(n AS BIGINT) FROM straddle) AS straddling_pairs
FROM split_tbl GROUP BY split ORDER BY split
""".replace("{WINNOW}", _WINNOW_PAIR_CTES)


def chunk_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking accounting (operators/chunking.py,
    window=64 stride=48): per language, how many chunks the corpus
    shards into, how many are full-size, and the total token volume
    including the overlap tax. The oracle replays the stride grid in
    closed form — a chunker that mis-slices boundaries or drops
    trailing fragments value-fails."""
    from data_ingestion_project_spark.operators.chunking import chunk_documents

    d = table(spark, sf_dir, "documents")
    chunks = chunk_documents(d, window=64, stride=48)
    return (
        chunks.join(d.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(
            F.count_distinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum((F.col("n_tokens") == 64).cast("long")).alias("full_chunks"),
            F.sum("n_tokens").alias("total_chunk_tokens"),
        )
        .orderBy("lang")
    )


ORACLE_CHUNK_STATS = """
WITH d AS (
  SELECT doc_id, lang,
         len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                         x -> x <> '')) AS n
  FROM documents
), c AS (
  SELECT doc_id, lang, n,
         unnest(range(0, ((n - 1) // 48) * 48 + 1, 48)) AS start
  FROM d WHERE n > 0
)
SELECT lang,
       COUNT(DISTINCT doc_id) AS n_docs,
       COUNT(*) AS n_chunks,
       CAST(SUM(CASE WHEN LEAST(64, n - start) = 64 THEN 1 ELSE 0 END) AS BIGINT)
         AS full_chunks,
       CAST(SUM(LEAST(64, n - start)) AS BIGINT) AS total_chunk_tokens
FROM c GROUP BY lang ORDER BY lang
"""


def bpe_learned_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First 10 BPE merges LEARNED from this corpus
    (operators/bpe.py, Sennrich alg.): tokenizer construction as a
    pipeline stage — one corpus pass to the word-frequency table, then
    vocabulary-sized merge rounds. Deterministic (count desc +
    lexicographic tie-break); rows-only (iterative driver-loop
    training is not single-statement SQL), pinned against a
    pure-Python reference in pytest."""
    from data_ingestion_project_spark.operators.bpe import bpe_train

    d = table(spark, sf_dir, "documents")
    merges = bpe_train(d, n_merges=10, min_pair_count=2)
    rows = [(i + 1, l, r, n) for i, (l, r, n) in enumerate(merges)]
    return spark.createDataFrame(
        rows, "rank int, left string, right string, pair_count long"
    )


# Learned-merge cache keyed on corpus mtime (same posture as the IVF
# quantizer cache in queries/embeddings.py): the tokenizer is trained
# once per corpus and amortized over every encode consumer.
_BPE_MERGES: dict[tuple, list] = {}


def _bpe_merges(spark: SparkSession, sf_dir: str) -> list:
    import os

    from data_ingestion_project_spark.operators.bpe import bpe_train

    abs_dir = os.path.abspath(os.path.normpath(sf_dir))
    src = os.path.join(abs_dir, "documents.parquet")
    # key on the NORMALIZED dir: 'sf0.01' and './sf0.01/' are the same
    # corpus and must hit the same cache entry (a raw-string key would
    # retrain the 10-round pipeline per spelling)
    key = (abs_dir, os.path.getmtime(src) if os.path.exists(src) else None)
    if key not in _BPE_MERGES:
        _BPE_MERGES[key] = bpe_train(
            table(spark, sf_dir, "documents"), n_merges=10, min_pair_count=2
        )
    return _BPE_MERGES[key]


def bpe_real_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language token accounting under the CORPUS-TRAINED BPE
    tokenizer (operators/bpe.bpe_encode_token_count): the counts a
    packing/budget pass should actually use, next to the fixed-regex
    estimate in bpe_token_stats. chars_per_token is the compression
    the learned merges buy. Rows-only: the merge table comes from the
    iterative trainer; the encoder itself is pinned against
    hand-computed merges in pytest."""
    from data_ingestion_project_spark.operators.bpe import bpe_encode_token_count

    d = table(spark, sf_dir, "documents")
    enc = bpe_encode_token_count(d, _bpe_merges(spark, sf_dir))
    return (
        enc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("bpe_tokens").cast("long")).alias("total_tokens"),
            F.round(F.avg("bpe_tokens"), 4).alias("avg_tokens"),
            F.round(
                F.sum(F.col("n_chars").cast("long"))
                / F.sum(F.col("bpe_tokens").cast("long")),
                4,
            ).alias("chars_per_token"),
        )
        .orderBy("lang")
    )


def cohen_kappa_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between two independent document-quality KEEP
    flags — the char-length heuristic (n_chars ≥ 300) and the
    token-count heuristic (≥ 55 whitespace tokens) — the inter-rater
    agreement statistic a pipeline uses to decide whether two cheap
    quality filters are redundant (kappa → 1), complementary
    (kappa ≈ 0 agreement beyond chance) or contradictory (kappa < 0).
    Raw agreement alone misleads when the base rates are skewed;
    kappa subtracts the chance-agreement floor.

    Exactness: one 2×2 contingency pass; kappa = (N·agree −
    Σ rᵢcᵢ)/(N² − Σ rᵢcᵢ) is a single division of exact
    cross-multiplied integers (no intermediate probabilities), plus
    the marginal rates as exact ratios — all floor-rounded 6 dp."""
    d = table(spark, sf_dir, "documents")
    flags = d.select(
        (F.col("n_chars") >= 300).cast("int").alias("a"),
        (
            F.size(F.split(F.lower(F.trim("text")), r"\s+")) >= 55
        ).cast("int").alias("b"),
    )
    _d38 = "decimal(38,0)"
    g = flags.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("a") == F.col("b"), 1).otherwise(0)).alias("agree"),
        F.sum("a").alias("ra1"),
        F.sum("b").alias("cb1"),
    )
    n = F.col("n").cast(_d38)
    ra1, cb1 = F.col("ra1").cast(_d38), F.col("cb1").cast(_d38)
    ra0, cb0 = n - ra1, n - cb1
    chance = ra1 * cb1 + ra0 * cb0
    kappa = (n * F.col("agree").cast(_d38) - chance).cast("double") / (
        n * n - chance
    ).cast("double")
    return g.select(
        F.col("n").cast("long").alias("n_docs"),
        F.col("agree").cast("long").alias("n_agree"),
        floor_round(
            F.col("agree").cast("double") / F.col("n").cast("double"), 6
        ).alias("raw_agreement"),
        floor_round(
            F.col("ra1").cast("double") / F.col("n").cast("double"), 6
        ).alias("keep_rate_len"),
        floor_round(
            F.col("cb1").cast("double") / F.col("n").cast("double"), 6
        ).alias("keep_rate_tok"),
        floor_round(kappa, 6).alias("kappa"),
    )


ORACLE_COHEN_KAPPA_QUALITY_FLAGS = """
WITH flags AS (
  SELECT CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS a,
         CASE WHEN len(string_split_regex(lower(trim(text)), '\\s+')) >= 55
              THEN 1 ELSE 0 END AS b
  FROM documents
), g AS (
  SELECT COUNT(*) AS n,
         SUM(CASE WHEN a = b THEN 1 ELSE 0 END) AS agree,
         SUM(a) AS ra1, SUM(b) AS cb1
  FROM flags
), d AS (
  SELECT CAST(n AS BIGINT) AS n_docs, CAST(agree AS BIGINT) AS n_agree,
         CAST(n AS DOUBLE) AS nd, CAST(agree AS DOUBLE) AS agreed,
         CAST(ra1 AS DOUBLE) AS ra1d, CAST(cb1 AS DOUBLE) AS cb1d,
         CAST(CAST(n AS HUGEINT) * agree
              - (CAST(ra1 AS HUGEINT) * cb1
                 + CAST(n - ra1 AS HUGEINT) * (n - cb1)) AS DOUBLE) AS knum,
         CAST(CAST(n AS HUGEINT) * n
              - (CAST(ra1 AS HUGEINT) * cb1
                 + CAST(n - ra1 AS HUGEINT) * (n - cb1)) AS DOUBLE) AS kden
  FROM g
)
SELECT n_docs, n_agree,
       sign(agreed / nd) * floor(abs(agreed / nd) * 1000000.0 + 0.5) / 1000000.0
         AS raw_agreement,
       sign(ra1d / nd) * floor(abs(ra1d / nd) * 1000000.0 + 0.5) / 1000000.0
         AS keep_rate_len,
       sign(cb1d / nd) * floor(abs(cb1d / nd) * 1000000.0 + 0.5) / 1000000.0
         AS keep_rate_tok,
       sign(knum / kden) * floor(abs(knum / kden) * 1000000.0 + 0.5) / 1000000.0
         AS kappa
FROM d
"""


def lexical_richness_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language lexical-richness panel over the classic frequency-
    SPECTRUM statistics (the V_m = "words seen exactly m times" view
    that Chao1/Good–Turing also read): Yule's K (repeat-rate
    characteristic, 10⁴(Σm²V_m − N)/N²), Guiraud's R (V/√N — the
    sample-size-corrected TTR), Sichel's S (V₂/V, dis-legomena share),
    hapax ratio (V₁/V), Simpson's D over tokens (Σm(m−1)V_m/(N(N−1)),
    the probability two random tokens are the same word), and Shannon
    entropy of the unigram distribution — the panel a corpus card
    prints per language to compare source richness at a glance.

    Exactness: every ingredient except √ and ln is an exact integer
    fold off the spectrum (DECIMAL(38,0), cast-first); ln is quantized
    to 1e-8 integers at ONE call per distinct frequency m (the
    bigram_logprob idiom) plus one per language for ln N, so
    H = (N·q_N − Σ V_m·m·q_m)/(N·10⁸) is value-determined; √N is
    correctly-rounded IEEE on an exact integer. All ratios
    floor-rounded at 6 dp.

    Scale: tokens → (lang, word) counts → (lang, m) spectrum is two
    partial-agg shuffles; the spectrum is at most a few thousand rows
    per language (frequencies collapse), and everything after is
    per-language scalar arithmetic."""
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "lang", F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("word")
    )
    freq = toks.groupBy("lang", "word").agg(F.count(F.lit(1)).alias("m"))
    spec = freq.groupBy("lang", "m").agg(F.count(F.lit(1)).alias("vm"))
    _d38 = "decimal(38,0)"
    qlnm = F.round(F.log(F.col("m").cast("double")) * F.lit(1e8), 0).cast("long")
    g = spec.groupBy("lang").agg(
        F.sum(F.col("m").cast(_d38) * F.col("vm").cast(_d38)).alias("n_tok"),
        F.sum("vm").alias("v"),
        F.sum(F.when(F.col("m") == 1, F.col("vm")).otherwise(0)).alias("v1"),
        F.sum(F.when(F.col("m") == 2, F.col("vm")).otherwise(0)).alias("v2"),
        F.sum(
            F.col("m").cast(_d38) * F.col("m").cast(_d38) * F.col("vm").cast(_d38)
        ).alias("sm2"),
        F.sum(
            F.col("m").cast(_d38)
            * (F.col("m") - 1).cast(_d38)
            * F.col("vm").cast(_d38)
        ).alias("smm1"),
        F.sum(
            F.col("vm").cast(_d38) * F.col("m").cast(_d38) * qlnm.cast(_d38)
        ).alias("slnm"),
    )
    nd = F.col("n_tok").cast("double")
    vd = F.col("v").cast("double")
    qlnn = F.round(F.log(nd) * F.lit(1e8), 0)
    return g.select(
        "lang",
        F.col("n_tok").cast("long").alias("n_tokens"),
        F.col("v").cast("long").alias("vocab"),
        floor_round(F.col("v1").cast("double") / vd, 6).alias("hapax_ratio"),
        floor_round(
            F.lit(10000.0) * (F.col("sm2").cast("double") - nd) / (nd * nd), 6
        ).alias("yule_k"),
        floor_round(vd / F.sqrt(nd), 6).alias("guiraud_r"),
        floor_round(F.col("v2").cast("double") / vd, 6).alias("sichel_s"),
        floor_round(
            F.col("smm1").cast("double") / (nd * (nd - F.lit(1.0))), 6
        ).alias("simpson_d"),
        floor_round(
            (nd * qlnn - F.col("slnm").cast("double")) / (nd * F.lit(1e8)), 6
        ).alias("shannon_h"),
    ).orderBy("lang")


ORACLE_LEXICAL_RICHNESS_PANEL = """
WITH toks AS (
  SELECT lang, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS word
  FROM documents
), freq AS (
  SELECT lang, word, COUNT(*) AS m FROM toks GROUP BY lang, word
), spec AS (
  SELECT lang, m, COUNT(*) AS vm FROM freq GROUP BY lang, m
), g AS (
  SELECT lang,
         SUM(CAST(m AS HUGEINT) * vm) AS n_tok,
         SUM(vm) AS v,
         SUM(CASE WHEN m = 1 THEN vm ELSE 0 END) AS v1,
         SUM(CASE WHEN m = 2 THEN vm ELSE 0 END) AS v2,
         SUM(CAST(m AS HUGEINT) * m * vm) AS sm2,
         SUM(CAST(m AS HUGEINT) * (m - 1) * vm) AS smm1,
         SUM(CAST(vm AS HUGEINT) * m
             * CAST(round(ln(CAST(m AS DOUBLE)) * 100000000.0) AS BIGINT))
           AS slnm
  FROM spec GROUP BY lang
), d AS (
  SELECT lang, CAST(n_tok AS BIGINT) AS n_tokens, CAST(v AS BIGINT) AS vocab,
         CAST(n_tok AS DOUBLE) AS nd, CAST(v AS DOUBLE) AS vd,
         CAST(v1 AS DOUBLE) AS v1d, CAST(v2 AS DOUBLE) AS v2d,
         CAST(sm2 AS DOUBLE) AS sm2d, CAST(smm1 AS DOUBLE) AS smm1d,
         CAST(slnm AS DOUBLE) AS slnmd,
         round(ln(CAST(n_tok AS DOUBLE)) * 100000000.0) AS qlnn
  FROM g
)
SELECT lang, n_tokens, vocab,
       sign(v1d / vd) * floor(abs(v1d / vd) * 1000000.0 + 0.5) / 1000000.0
         AS hapax_ratio,
       sign(10000.0 * (sm2d - nd) / (nd * nd))
         * floor(abs(10000.0 * (sm2d - nd) / (nd * nd)) * 1000000.0 + 0.5)
         / 1000000.0 AS yule_k,
       sign(vd / sqrt(nd)) * floor(abs(vd / sqrt(nd)) * 1000000.0 + 0.5)
         / 1000000.0 AS guiraud_r,
       sign(v2d / vd) * floor(abs(v2d / vd) * 1000000.0 + 0.5) / 1000000.0
         AS sichel_s,
       sign(smm1d / (nd * (nd - 1.0)))
         * floor(abs(smm1d / (nd * (nd - 1.0))) * 1000000.0 + 0.5)
         / 1000000.0 AS simpson_d,
       sign((nd * qlnn - slnmd) / (nd * 100000000.0))
         * floor(abs((nd * qlnn - slnmd) / (nd * 100000000.0)) * 1000000.0 + 0.5)
         / 1000000.0 AS shannon_h
FROM d ORDER BY lang
"""


def top_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-20 words: explode → count → TakeOrdered. The classic
    wordcount, with partial aggregation absorbing the explode fan-out
    map-side."""
    d = table(spark, sf_dir, "documents")
    words = d.select(F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("word"))
    return (
        words.groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("word").asc())
        .limit(20)
    )


ORACLE_TOP_WORDS = """
SELECT word, COUNT(*) AS n
FROM (SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS word FROM documents) t
GROUP BY word
ORDER BY n DESC, word ASC
LIMIT 20
"""


# Value-exact oracle for the Misra-Gries path: this corpus's vocabulary
# (31 words) is far below the 4096-counter capacity, so no counter ever
# evicts and every MG weight equals the exact count — the exact top-20
# IS the expected output. (The general lower-bound/error-bound behavior
# is separately property-tested in tests/ against adversarial streams.)
ORACLE_APPROX_TOP_WORDS = """
SELECT word, COUNT(*) AS est_count
FROM (SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS word FROM documents) t
GROUP BY word
ORDER BY est_count DESC, word ASC
LIMIT 20
"""


def html_extract_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Web-corpus main-content extraction census
    (functions/text.html_main_text) — the fetch→text step a
    Common-Crawl-style pipeline runs before the quality/dedup stages.
    Each document is deterministically wrapped in an HTML page
    (head/title/style, nav, h1, content paragraphs with entities,
    footer) and pushed through the extractor; the census certifies,
    per source: full-content recovery, entity decoding, boilerplate
    leakage (nav/footer content must NOT survive — expect 0), and the
    extracted/original length ratio.

    The synthesized wrapper is shared verbatim with the oracle, so the
    whole extract pipeline — block drops, tag strip, entity decode
    order, whitespace collapse — is certified value-exactly. Plan: one
    narrow projection + one aggregation, all JVM regexp/replace chains
    inside whole-stage codegen; at 100 TB this is the shape you want —
    per-row string work scales embarrassingly, no shuffle except the
    source-cardinality final agg. Length ratios are per-doc integer-
    quantized (×1e4) before summing — no float accumulation."""
    from data_ingestion_project_spark.functions.text import html_main_text

    d = table(spark, sf_dir, "documents")
    html = F.concat(
        F.lit("<html><head><title>doc "),
        F.col("doc_id").cast("string"),
        F.lit("</title><style>p{color:red}</style></head><body>"),
        F.lit("<nav>home | about | contact</nav><h1>"),
        F.upper("lang"),
        F.lit("</h1><p>"),
        F.col("text"),
        F.lit("</p><p>tail &amp; entities &lt;ok&gt;</p>"),
        F.lit("<footer>&copy; example corp 2026</footer></body></html>"),
    )
    e = html_main_text(html)
    lr_q = F.round(10000.0 * F.length(e) / F.length("text"), 0).cast("long")
    pct = lambda c: F.round(F.sum(c.cast("long")) * 100.0 / F.count(F.lit(1)), 4)  # noqa: E731
    return (
        d.select(
            "source",
            e.alias("e"),
            F.col("text").alias("t"),
            lr_q.alias("lr_q"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            pct(F.col("e").contains(F.col("t"))).alias("recovered_pct"),
            pct(F.col("e").contains(F.lit("tail & entities <ok>"))).alias(
                "entity_ok_pct"
            ),
            pct(
                F.col("e").contains(F.lit("home | about"))
                | F.col("e").contains(F.lit("example corp"))
            ).alias("leak_pct"),
            F.round(F.sum("lr_q") / (10000.0 * F.count(F.lit(1))), 4).alias(
                "avg_len_ratio"
            ),
        )
        .orderBy("source")
    )


_HTML_SQL_WRAP = (
    "'<html><head><title>doc ' || CAST(doc_id AS VARCHAR) || "
    "'</title><style>p{color:red}</style></head><body>' || "
    "'<nav>home | about | contact</nav><h1>' || upper(lang) || '</h1><p>' || "
    "text || '</p><p>tail &amp; entities &lt;ok&gt;</p>' || "
    "'<footer>&copy; example corp 2026</footer></body></html>'"
)


def _oracle_html_extract_stats() -> str:
    from data_ingestion_project_spark.functions.text import sql_html_main_text

    return f"""
WITH ex AS (
  SELECT source, text AS t, {sql_html_main_text(_HTML_SQL_WRAP)} AS e
  FROM documents
),
q AS (
  SELECT source, t, e,
         CAST(ROUND(10000.0 * length(e) / length(t), 0) AS BIGINT) AS lr_q
  FROM ex
)
SELECT source,
       COUNT(*) AS n_docs,
       ROUND(SUM(CASE WHEN position(t IN e) > 0 THEN 1 ELSE 0 END) * 100.0 / COUNT(*), 4) AS recovered_pct,
       ROUND(SUM(CASE WHEN position('tail & entities <ok>' IN e) > 0 THEN 1 ELSE 0 END) * 100.0 / COUNT(*), 4) AS entity_ok_pct,
       ROUND(SUM(CASE WHEN position('home | about' IN e) > 0
                        OR position('example corp' IN e) > 0 THEN 1 ELSE 0 END) * 100.0 / COUNT(*), 4) AS leak_pct,
       ROUND(SUM(lr_q) / (10000.0 * COUNT(*)), 4) AS avg_len_ratio
FROM q
GROUP BY source
ORDER BY source
"""


ORACLE_HTML_EXTRACT_STATS = _oracle_html_extract_stats()


# Full SQL replay of the CMS pipeline: salted md5 bucket hash, cell
# build, min-over-depth point estimates — every value a BIGINT, so the
# comparison is integer-exact (the same replay posture as the KMV /
# quantile-sketch / ANN-recall certifications).
ORACLE_CMS_WORD_FREQ = """
WITH toks AS (
  SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS word
  FROM documents
),
depth AS (SELECT unnest(range(4)) AS j),
cells AS (
  SELECT j,
         CAST(concat('0x', substr(md5(concat(CAST(j AS VARCHAR), ':', word)), 1, 6)) AS BIGINT) % 64 AS bucket,
         COUNT(*) AS cnt
  FROM toks CROSS JOIN depth
  GROUP BY 1, 2
),
exact AS (SELECT word, COUNT(*) AS exact_cnt FROM toks GROUP BY 1),
probes AS (
  SELECT e.word, e.exact_cnt, d.j,
         CAST(concat('0x', substr(md5(concat(CAST(d.j AS VARCHAR), ':', e.word)), 1, 6)) AS BIGINT) % 64 AS bucket
  FROM exact e CROSS JOIN depth d
),
est AS (
  SELECT p.word, p.exact_cnt, MIN(COALESCE(c.cnt, 0)) AS est
  FROM probes p LEFT JOIN cells c ON p.j = c.j AND p.bucket = c.bucket
  GROUP BY 1, 2
)
SELECT word, exact_cnt, est AS cms_est, est - exact_cnt AS overcount
FROM est
ORDER BY exact_cnt DESC, word ASC
LIMIT 20
"""


# ------------------------------------------- repetition detection (Gopher)


def doc_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filters: per-language duplicate-bigram
    fraction and most-frequent-bigram share (boilerplate / looping-text
    detectors used to drop degenerate training documents).

    Plan: split → bigram arrays built with ``transform(sequence(...))``
    (pure codegen, no Python), one explode, then three tapering
    aggregations: (doc, bigram) counts → per-doc totals → per-language
    ratios. Every cross-document aggregate derives from exact integer
    sums, so the rounded ratios are engine-exact (same trick as
    daily_event_anomalies); per-doc doubles are value-determined and
    only feed MAX. At 100 TB the explode dominates — it's linear in
    corpus tokens and shuffles once on (doc_id, bigram).
    """
    d = table(spark, sf_dir, "documents")
    w = F.split(F.trim(F.col("text")), r"\s+")
    bg_rows = (
        d.select("doc_id", "lang", w.alias("w"))
        .filter(F.size("w") >= 2)
        .select(
            "doc_id",
            "lang",
            F.explode(
                F.expr("transform(sequence(1, size(w)-1), i -> concat(w[i-1], ' ', w[i]))")
            ).alias("bg"),
        )
    )
    per_doc = (
        bg_rows.groupBy("doc_id", "lang", "bg")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id", "lang")
        .agg(
            F.sum("c").alias("n"),
            F.count(F.lit(1)).alias("d"),
            F.max("c").alias("top"),
        )
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(
                F.lit(1.0) - F.sum("d").cast("double") / F.sum("n"), 6
            ).alias("dup_bigram_frac"),
            F.round(F.sum("top").cast("double") / F.sum("n"), 6).alias("top_bigram_share"),
            F.round(
                F.max(F.lit(1.0) - F.col("d").cast("double") / F.col("n")), 6
            ).alias("max_doc_dup_frac"),
        )
        .orderBy("lang")
    )


ORACLE_DOC_REPETITION_STATS = """
WITH words AS (
  SELECT doc_id, lang, string_split_regex(trim(text), '\\s+') AS w FROM documents
),
bg_rows AS (
  SELECT doc_id, lang,
         unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS bg
  FROM words WHERE len(w) >= 2
),
per_doc AS (
  SELECT doc_id, lang, SUM(c) AS n, COUNT(*) AS d, MAX(c) AS top
  FROM (SELECT doc_id, lang, bg, COUNT(*) AS c FROM bg_rows GROUP BY 1, 2, 3)
  GROUP BY 1, 2
)
SELECT lang,
       COUNT(*) AS n_docs,
       ROUND(1.0 - CAST(SUM(d) AS DOUBLE) / SUM(n), 6) AS dup_bigram_frac,
       ROUND(CAST(SUM(top) AS DOUBLE) / SUM(n), 6) AS top_bigram_share,
       ROUND(MAX(1.0 - CAST(d AS DOUBLE) / n), 6) AS max_doc_dup_frac
FROM per_doc
GROUP BY lang
ORDER BY lang
"""


# ------------------------------------------------- sequence packing


def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-shard sequence packing accounting: concatenate documents
    in deterministic order and cut into fixed 2048-token sequences (the
    standard LLM pretraining packing — documents may straddle sequence
    boundaries). Per (lang, shard): document count, token total,
    sequence count, fill ratio of the final ragged sequence, and how
    many documents straddle a boundary.

    Scale design: packing needs a total order, but a GLOBAL order is a
    single-partition window at 100 TB. Sharding first (here doc_id mod 8
    — any deterministic hash works) bounds every window to one shard,
    so the shuffle is (lang, shard)-partitioned and each cumulative sum
    is independent; shard count scales with the cluster, and packing
    semantics hold within every shard by construction. Token counts are
    the BPE pre-tokenizer regex (codegen, no Python)."""
    from pyspark.sql.window import Window

    B = 2048
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        "lang",
        (F.col("doc_id") % 8).alias("shard"),
        bpe_token_count("text").cast("long").alias("tok"),
    )
    w = (
        Window.partitionBy("lang", "shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = toks.withColumn("cum", F.sum("tok").over(w))
    straddle = (F.col("tok") > 0) & (
        F.expr(f"(cum - tok) div {B}") != F.expr(f"(cum - 1) div {B}")
    )
    return (
        cum.groupBy("lang", "shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("tok").alias("total_tokens"),
            F.ceil(F.sum("tok") / F.lit(B)).alias("n_sequences"),
            F.round(
                F.sum("tok") / (F.ceil(F.sum("tok") / F.lit(B)) * B) * 100, 2
            ).alias("fill_pct"),
            F.sum(straddle.cast("long")).alias("n_straddlers"),
        )
        .orderBy("lang", "shard")
    )


ORACLE_SEQUENCE_PACKING = f"""
WITH toks AS (
  SELECT doc_id, lang, doc_id % 8 AS shard,
         CAST(len(regexp_extract_all(text, '{{bpe}}', 0)) AS BIGINT) AS tok
  FROM documents
), cums AS (
  SELECT lang, shard, tok,
         SUM(tok) OVER (PARTITION BY lang, shard ORDER BY doc_id
                        ROWS UNBOUNDED PRECEDING) AS cum
  FROM toks
)
SELECT lang, shard,
       COUNT(*) AS n_docs,
       CAST(SUM(tok) AS BIGINT) AS total_tokens,
       CAST(CEIL(SUM(tok) / 2048.0) AS BIGINT) AS n_sequences,
       ROUND(SUM(tok) / (CEIL(SUM(tok) / 2048.0) * 2048) * 100, 2) AS fill_pct,
       CAST(SUM(CASE WHEN tok > 0 AND (cum - tok) // 2048 <> (cum - 1) // 2048
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_straddlers
FROM cums
GROUP BY lang, shard
ORDER BY lang, shard
""".replace("{bpe}", BPE_SPLIT_PATTERN.replace("'", "''"))


# -------------------------------------------- benchmark contamination


def benchmark_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/benchmark contamination detection: treating one source
    (src0) as a held-out benchmark suite, flag training documents that
    share >= 5 winnowed fingerprints (k=8, w=4 — any shared substring
    of 11+ chars leaves a fingerprint) with ANY benchmark document.
    Output: per language, training-doc count, contaminated count, rate.

    Scale design: the benchmark set is tiny relative to the corpus, so
    its distinct fingerprint set broadcasts; the training side is one
    fingerprint equi-join (never all-pairs) followed by a per-doc
    count. md5 mode so the DuckDB oracle replays the identical winnow
    selection; production uses xxhash64. Reads the shared materialized
    fp table (_winnow_fps) instead of re-winnowing the corpus."""
    d = table(spark, sf_dir, "documents")
    fps = _winnow_fps(spark, sf_dir)
    meta = d.select("doc_id", "lang", "source")
    bench_fp = (
        fps.join(meta.filter(F.col("source") == "src0"), "doc_id", "left_semi")
        .select("fp")
        .distinct()
    )
    train_meta = meta.filter(F.col("source") != "src0")
    shared = (
        fps.join(train_meta.select("doc_id"), "doc_id", "left_semi")
        .join(F.broadcast(bench_fp), "fp")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    per_doc = train_meta.join(shared, "doc_id", "left").select(
        "lang", F.coalesce("n_shared", F.lit(0)).alias("n_shared")
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_train_docs"),
            F.sum((F.col("n_shared") >= 5).cast("long")).alias("n_contaminated"),
            F.round(
                F.sum((F.col("n_shared") >= 5).cast("long")) * 100.0
                / F.count(F.lit(1)),
                2,
            ).alias("contaminated_pct"),
        )
        .orderBy("lang")
    )


ORACLE_BENCHMARK_CONTAMINATION = f"""
WITH {_WINNOW_FPS_CTES}, bench_fp AS (
  SELECT DISTINCT fp FROM fps JOIN documents USING (doc_id) WHERE source = 'src0'
), shared AS (
  SELECT doc_id, COUNT(*) AS n_shared
  FROM fps JOIN bench_fp USING (fp)
  WHERE doc_id IN (SELECT doc_id FROM documents WHERE source <> 'src0')
  GROUP BY doc_id
), per_doc AS (
  SELECT d.lang, COALESCE(s.n_shared, 0) AS n_shared
  FROM documents d LEFT JOIN shared s USING (doc_id)
  WHERE d.source <> 'src0'
)
SELECT lang,
       COUNT(*) AS n_train_docs,
       CAST(SUM(CASE WHEN n_shared >= 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
       ROUND(SUM(CASE WHEN n_shared >= 5 THEN 1 ELSE 0 END) * 100.0 / COUNT(*), 2) AS contaminated_pct
FROM per_doc
GROUP BY lang
ORDER BY lang
"""


# ---------------------------------------------------- dedup funnel


def dedup_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end dedup waterfall — the accounting a training-data
    pipeline publishes per corpus snapshot: per language, document and
    BPE-token counts (1) raw, (2) after exact content-addressed dedup
    (keep lowest doc_id per md5 fingerprint), (3) after near-dup
    removal (drop any doc with word-set Jaccard >= 0.5 against a
    lower-id exact-survivor).

    Stage semantics are deliberately greedy-deterministic (keep-lowest)
    so the whole funnel is engine-replayable — the clustering variant
    is dup_cluster_sizes. Scale shape: exact stage is one agg + semi
    join on fingerprint; near stage reuses the inverted-index candidate
    join restricted to exact survivors WITH posting-list pruning
    (words in more than 50 docs are dropped before the join — both
    intersections and set sizes use the pruned vocabulary, so this is
    the exact Jaccard of the discriminative word sets; without the cap
    the candidate join is quadratic, which is why the unpruned
    near_dup_jaccard_top baseline is bench-excluded)."""
    d = table(spark, sf_dir, "documents")
    docs = d.select(
        "doc_id", "lang", "text",
        fingerprint("text").alias("fp"),
        bpe_token_count("text").cast("long").alias("tok"),
    )
    first_per_fp = docs.groupBy("fp").agg(F.min("doc_id").alias("keep_id"))
    s1 = docs.join(
        first_per_fp,
        (docs.fp == first_per_fp.fp) & (docs.doc_id == first_per_fp.keep_id),
        "left_semi",
    )
    near = jaccard_pairs(s1, min_jaccard=0.5, max_word_doc_freq=50).select(
        F.col("id_b").alias("doc_id")
    ).distinct()
    s2 = s1.join(near, "doc_id", "left_anti")

    def _acc(df, n_alias, t_alias):
        return df.groupBy("lang").agg(
            F.count(F.lit(1)).alias(n_alias), F.sum("tok").alias(t_alias)
        )

    # LEFT joins from the raw frame: a language whose every doc dropped
    # at some stage must still report (count 0, tokens NULL), matching
    # the oracle's DISTINCT-lang driver — an inner join would silently
    # delete the row and fail the rowcount gate on such data
    return (
        _acc(docs, "n_raw", "tok_raw")
        .join(_acc(s1, "n_exact", "tok_exact"), "lang", "left")
        .join(_acc(s2, "n_final", "tok_final"), "lang", "left")
        .select(
            "lang",
            "n_raw",
            "tok_raw",
            F.coalesce("n_exact", F.lit(0)).alias("n_exact"),
            "tok_exact",
            F.coalesce("n_final", F.lit(0)).alias("n_final"),
            "tok_final",
        )
        .orderBy("lang")
    )


ORACLE_DEDUP_FUNNEL = """
WITH docs AS (
  SELECT doc_id, lang, text,
         md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp,
         CAST(len(regexp_extract_all(text, '{bpe}', 0)) AS BIGINT) AS tok
  FROM documents
), s1 AS (
  SELECT d.* FROM docs d
  JOIN (SELECT fp, MIN(doc_id) AS keep_id FROM docs GROUP BY fp) k
    ON d.fp = k.fp AND d.doc_id = k.keep_id
), words AS (
  SELECT doc_id,
         unnest(list_distinct(string_split_regex(
           regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), '\\s+'))) AS word
  FROM s1
), pruned AS (
  SELECT doc_id, word FROM words
  WHERE word IN (SELECT word FROM words GROUP BY word HAVING COUNT(*) <= 50)
), sizes AS (
  SELECT doc_id, COUNT(*) AS set_size FROM pruned GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
  FROM pruned a JOIN pruned b ON a.word = b.word AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), near AS (
  SELECT DISTINCT id_b AS doc_id FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE n_common * 1.0 / (sa.set_size + sb.set_size - n_common) >= 0.5
), s2 AS (
  SELECT * FROM s1 WHERE doc_id NOT IN (SELECT doc_id FROM near)
)
SELECT lang,
       (SELECT COUNT(*) FROM docs x WHERE x.lang = l.lang) AS n_raw,
       (SELECT CAST(SUM(tok) AS BIGINT) FROM docs x WHERE x.lang = l.lang) AS tok_raw,
       (SELECT COUNT(*) FROM s1 x WHERE x.lang = l.lang) AS n_exact,
       (SELECT CAST(SUM(tok) AS BIGINT) FROM s1 x WHERE x.lang = l.lang) AS tok_exact,
       (SELECT COUNT(*) FROM s2 x WHERE x.lang = l.lang) AS n_final,
       (SELECT CAST(SUM(tok) AS BIGINT) FROM s2 x WHERE x.lang = l.lang) AS tok_final
FROM (SELECT DISTINCT lang FROM docs) l
ORDER BY lang
""".replace("{bpe}", _BPE_SQL)


def unigram_logprob_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style statistical quality scoring: each document's mean
    unigram log-probability under its language's corpus unigram model
    (documents full of common words score high; gibberish, rare-token
    spam, and wrong-language text score low), summarized per language
    as mean + exact percentiles over documents.

    Plan: one explode pass builds (lang, word) counts AND per-language
    totals (two aggregates over the same shuffled frame); the unigram
    model is vocabulary-sized, joined back to the token stream on
    (lang, word). Cross-engine exactness: log10 is rounded to 6
    decimals per VOCABULARY entry (engines agree to ~1 ulp; rounding
    makes it bit-stable), then document means accumulate those fixed
    per-row values in DECIMAL — so the only float ops on the hot path
    are value-determined, and percentiles interpolate identical
    inputs."""
    per_doc = _per_doc_logp(spark, sf_dir)
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(
                F.sum(F.col("doc_logp").cast("decimal(27,6)")).cast("double")
                / F.count(F.lit(1)),
                4,
            ).alias("mean_logp"),
            F.round(F.percentile("doc_logp", 0.1), 4).alias("p10"),
            F.round(F.percentile("doc_logp", 0.5), 4).alias("p50"),
            F.round(F.percentile("doc_logp", 0.9), 4).alias("p90"),
        )
        .orderBy("lang")
    )


ORACLE_UNIGRAM_LOGPROB_QUALITY = """
WITH words AS (
  SELECT doc_id, lang, word
  FROM (
    SELECT doc_id, lang,
           unnest(string_split_regex(lower(trim(text)), '\\s+')) AS word
    FROM documents
  ) t WHERE word <> ''
), lang_tot AS (
  SELECT lang, COUNT(*) AS n_lang FROM words GROUP BY lang
), model AS (
  SELECT w.lang, w.word,
         ROUND(log10(COUNT(*) * 1.0 / MAX(lt.n_lang)), 6) AS logp
  FROM words w JOIN lang_tot lt ON w.lang = lt.lang
  GROUP BY w.lang, w.word
), per_doc AS (
  SELECT doc_id, w.lang,
         ROUND(CAST(SUM(CAST(logp AS DECIMAL(27,6))) AS DOUBLE) / COUNT(*), 6) AS doc_logp
  FROM words w JOIN model m ON w.lang = m.lang AND w.word = m.word
  GROUP BY doc_id, w.lang
)
SELECT lang,
       COUNT(*) AS n_docs,
       ROUND(CAST(SUM(CAST(doc_logp AS DECIMAL(27,6))) AS DOUBLE) / COUNT(*), 4) AS mean_logp,
       ROUND(quantile_cont(doc_logp, 0.1), 4) AS p10,
       ROUND(quantile_cont(doc_logp, 0.5), 4) AS p50,
       ROUND(quantile_cont(doc_logp, 0.9), 4) AS p90
FROM per_doc GROUP BY lang ORDER BY lang
"""


def _per_doc_logp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, lang, doc_logp): each document's mean unigram log-prob
    under its language's corpus model — the shared scoring stage of
    unigram_logprob_quality and ccnet_perplexity_buckets (identical
    decimal-accumulation determinism contract; see
    unigram_logprob_quality's docstring)."""
    d = table(spark, sf_dir, "documents")
    words = d.select(
        "doc_id",
        "lang",
        F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("word"),
    ).filter(F.col("word") != "")
    lang_tot = words.groupBy("lang").agg(F.count(F.lit(1)).alias("n_lang"))
    model = (
        words.groupBy("lang", "word")
        .agg(F.count(F.lit(1)).alias("n_word"))
        .join(F.broadcast(lang_tot), "lang")
        .select(
            "lang",
            "word",
            F.round(F.log10(F.col("n_word") / F.col("n_lang")), 6).alias("logp"),
        )
    )
    return (
        words.join(model, ["lang", "word"])
        .groupBy("doc_id", "lang")
        .agg(
            F.round(
                F.sum(F.col("logp").cast("decimal(27,6)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("doc_logp")
        )
    )


# Tercile probabilities as shared LITERALS: interpolation index
# p*(n-1) must be computed from the bit-identical p in Spark and
# DuckDB, or the head/middle cut could land one ulp apart.
_CCNET_P_LO, _CCNET_P_HI = "0.33333333", "0.66666667"


def ccnet_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style head/middle/tail corpus split: per language, exact
    tercile cut-points of the per-document unigram log-prob, documents
    classified by VALUE against the cuts (head = most probable third —
    CCNet keeps 'head' for LM training, inspects 'tail' for junk), then
    per-(lang, bucket) accounting.

    Scale shape: the cut table is |langs| x 2 — computed with exact
    percentile AGGREGATES (partial-agg shuffle, no per-language global
    window: the ntile formulation would funnel each language through
    one task) and broadcast back; classification is a codegen
    comparison. At 100 TB swap the exact percentile for
    approx_percentile — boundary accuracy shapes the split, never the
    accounting's correctness. Cuts stay UNROUNDED: doc_logp sits on a
    1e-6 grid, interpolated cuts sit strictly off-grid (or exactly ON
    a data value when the index is integral, which both engines
    compute identically), so >= classification can never flip between
    engines — rounding the cut could move it ONTO the grid and break
    that."""
    per_doc = _per_doc_logp(spark, sf_dir)
    cuts = per_doc.groupBy("lang").agg(
        F.percentile("doc_logp", float(_CCNET_P_LO)).alias("c_lo"),
        F.percentile("doc_logp", float(_CCNET_P_HI)).alias("c_hi"),
    )
    bucketed = per_doc.join(F.broadcast(cuts), "lang").withColumn(
        "bucket",
        F.when(F.col("doc_logp") >= F.col("c_hi"), F.lit("head"))
        .when(F.col("doc_logp") >= F.col("c_lo"), F.lit("middle"))
        .otherwise(F.lit("tail")),
    )
    return (
        bucketed.groupBy("lang", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(
                F.sum(F.col("doc_logp").cast("decimal(27,6)")).cast("double")
                / F.count(F.lit(1)),
                4,
            ).alias("mean_logp"),
        )
        .orderBy("lang", "bucket")
    )


ORACLE_CCNET_PERPLEXITY_BUCKETS = f"""
WITH words AS (
  SELECT doc_id, lang, word
  FROM (
    SELECT doc_id, lang,
           unnest(string_split_regex(lower(trim(text)), '\\s+')) AS word
    FROM documents
  ) t WHERE word <> ''
), lang_tot AS (
  SELECT lang, COUNT(*) AS n_lang FROM words GROUP BY lang
), model AS (
  SELECT w.lang, w.word,
         ROUND(log10(COUNT(*) * 1.0 / MAX(lt.n_lang)), 6) AS logp
  FROM words w JOIN lang_tot lt ON w.lang = lt.lang
  GROUP BY w.lang, w.word
), per_doc AS (
  SELECT doc_id, w.lang,
         ROUND(CAST(SUM(CAST(logp AS DECIMAL(27,6))) AS DOUBLE) / COUNT(*), 6) AS doc_logp
  FROM words w JOIN model m ON w.lang = m.lang AND w.word = m.word
  GROUP BY doc_id, w.lang
), cuts AS (
  SELECT lang,
         quantile_cont(doc_logp, {_CCNET_P_LO}) AS c_lo,
         quantile_cont(doc_logp, {_CCNET_P_HI}) AS c_hi
  FROM per_doc GROUP BY lang
), bucketed AS (
  SELECT p.lang, doc_logp,
         CASE WHEN doc_logp >= c_hi THEN 'head'
              WHEN doc_logp >= c_lo THEN 'middle'
              ELSE 'tail' END AS bucket
  FROM per_doc p JOIN cuts c ON p.lang = c.lang
)
SELECT lang, bucket, COUNT(*) AS n_docs,
       ROUND(CAST(SUM(CAST(doc_logp AS DECIMAL(27,6))) AS DOUBLE) / COUNT(*), 4) AS mean_logp
FROM bucketed GROUP BY lang, bucket ORDER BY lang, bucket
"""


# Target language mix for corpus_mixture_plan (training-mixture spec:
# fractions of the final token budget per language; sums to 1).
_MIX_WEIGHTS = {"en": 0.40, "de": 0.15, "fr": 0.15, "es": 0.15, "zh": 0.15}


def corpus_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch-free corpus mixing plan: given target language weights,
    compute the largest token budget achievable WITHOUT upsampling any
    language (budget = min over langs of tokens/weight) and the
    per-language sampling rate that hits it — the planning aggregate a
    training-data pipeline runs before materializing a mixture.

    One pass over documents (BPE token count in codegen), a ≤5-row
    aggregate, and a broadcast 1-row agg-of-agg for the binding
    constraint — no window, no single partition. Rates are pure
    double arithmetic over exact integer token sums, so the oracle
    matches bit-for-bit."""
    d = table(spark, sf_dir, "documents")
    w = F.coalesce(
        *[F.when(F.col("lang") == k, F.lit(v)) for k, v in _MIX_WEIGHTS.items()],
        F.lit(0.0),
    )
    per_lang = (
        d.select("lang", bpe_token_count("text").alias("tok"))
        .groupBy("lang")
        .agg(F.sum("tok").alias("lang_tokens"))
        .withColumn("weight", w)
        .filter(F.col("weight") > 0)
    )
    budget = per_lang.agg(
        F.min(F.col("lang_tokens") / F.col("weight")).alias("budget")
    )
    return (
        per_lang.join(F.broadcast(budget))
        .select(
            "lang",
            "weight",
            F.col("lang_tokens").cast("bigint").alias("lang_tokens"),
            F.round(F.col("weight") * F.col("budget"), 2).alias("target_tokens"),
            F.round(
                F.col("weight") * F.col("budget") / F.col("lang_tokens"), 6
            ).alias("sample_rate"),
        )
        .orderBy("lang")
    )


ORACLE_CORPUS_MIXTURE_PLAN = """
WITH tok AS (
  SELECT lang, CAST(len(regexp_extract_all(text, '{bpe}', 0)) AS INTEGER) AS tok
  FROM documents
), per_lang AS (
  SELECT lang, SUM(tok) AS lang_tokens,
         CASE lang WHEN 'en' THEN 0.40 WHEN 'de' THEN 0.15 WHEN 'fr' THEN 0.15
                   WHEN 'es' THEN 0.15 WHEN 'zh' THEN 0.15 ELSE 0.0 END AS weight
  FROM tok GROUP BY lang
), eligible AS (
  SELECT * FROM per_lang WHERE weight > 0
), b AS (
  SELECT MIN(CAST(lang_tokens AS DOUBLE) / weight) AS budget FROM eligible
)
SELECT lang, weight,
       CAST(lang_tokens AS BIGINT) AS lang_tokens,
       ROUND(weight * budget, 2) AS target_tokens,
       ROUND(weight * budget / lang_tokens, 6) AS sample_rate
FROM eligible, b
ORDER BY lang
""".replace("{bpe}", _BPE_SQL)


# ----------------------------- per-source data cards


def source_data_cards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One governance row per source — the "data card" a curated-corpus
    release publishes: volume (docs/tokens), language profile
    (cardinality + dominant language share), and exact-dup rate within
    the source (content-addressed, same fingerprint as the dedup
    family). One scan feeds three source-keyed aggregates joined on
    the tiny source dimension."""
    from pyspark.sql.window import Window

    d = table(spark, sf_dir, "documents").select(
        "source", "lang", fingerprint("text").alias("fp"), token_count("text").alias("tok")
    )
    base = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("tok").cast("long")).alias("total_tokens"),
        F.count_distinct("lang").alias("n_langs"),
        F.count_distinct("fp").alias("n_unique_docs"),
    )
    by_lang = d.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("source").orderBy(F.col("n").desc(), F.col("lang").asc())
    top = (
        by_lang.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("source", F.col("lang").alias("top_lang"), F.col("n").alias("top_n"))
    )
    return (
        base.join(top, "source")
        .select(
            "source",
            "n_docs",
            "total_tokens",
            "n_langs",
            "top_lang",
            F.round(F.col("top_n") / F.col("n_docs"), 4).alias("top_lang_share"),
            F.round(
                (F.col("n_docs") - F.col("n_unique_docs")) / F.col("n_docs"), 4
            ).alias("exact_dup_rate"),
        )
        .orderBy("source")
    )


ORACLE_SOURCE_DATA_CARDS = """
WITH d AS (
  SELECT source, lang,
         md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp,
         CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS tok
  FROM documents
), base AS (
  SELECT source, COUNT(*) AS n_docs, CAST(SUM(tok) AS BIGINT) AS total_tokens,
         COUNT(DISTINCT lang) AS n_langs, COUNT(DISTINCT fp) AS n_unique
  FROM d GROUP BY source
), top AS (
  SELECT source, lang AS top_lang, n AS top_n
  FROM (
    SELECT source, lang, COUNT(*) AS n,
           ROW_NUMBER() OVER (PARTITION BY source ORDER BY COUNT(*) DESC, lang ASC) AS rn
    FROM d GROUP BY source, lang
  ) t WHERE rn = 1
)
SELECT b.source, b.n_docs, b.total_tokens, b.n_langs, top.top_lang,
       ROUND(top.top_n * 1.0 / b.n_docs, 4) AS top_lang_share,
       ROUND((b.n_docs - b.n_unique) * 1.0 / b.n_docs, 4) AS exact_dup_rate
FROM base b JOIN top ON b.source = top.source
ORDER BY b.source
"""


# ----------------------------- contrastive pair mining

_CONTRASTIVE_MIN_SHARED = 10
_CONTRASTIVE_K = 100


def contrastive_training_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mined (id_a, id_b, label, score) pairs for embedding-model
    training: positives are the strongest near-dup pairs from the
    materialized winnow pair table (documents that genuinely share
    content — label 1, score = shared fingerprints); negatives are
    deterministic pseudo-random pairings (label 0) built by pairing
    ADJACENT documents in md5 order WITHIN 16 md5-prefix buckets — a
    seedless random permutation any engine reproduces, windowed per
    bucket so no global sort exists at scale — minus any pairing that
    is itself a candidate near-dup. Top-K of each side keeps the
    output bounded; real miners scale K with the corpus.

    Fully oracle-certified: the winnow CTEs replay candidate mining
    and the same md5-bucket windows replay the negative sampler."""
    from pyspark.sql.window import Window

    pairs = _winnow_pair_counts(spark, sf_dir)
    pos = (
        pairs.filter(F.col("n_shared") >= _CONTRASTIVE_MIN_SHARED)
        .orderBy(F.col("n_shared").desc(), "id_a", "id_b")
        .limit(_CONTRASTIVE_K)
        .select("id_a", "id_b", F.lit(1).alias("label"), F.col("n_shared").alias("score"))
    )
    d = table(spark, sf_dir, "documents").select(
        "doc_id", F.md5(F.col("doc_id").cast("string")).alias("h")
    )
    d = d.withColumn("bucket", F.substring("h", 1, 1))
    w = Window.partitionBy("bucket").orderBy("h", "doc_id")
    ordered = d.withColumn("rn", F.row_number().over(w))
    nxt = ordered.select(
        F.col("bucket").alias("b2"),
        (F.col("rn") - 1).alias("rn2"),
        F.col("doc_id").alias("id_b"),
    )
    adj = ordered.join(
        nxt, (F.col("bucket") == F.col("b2")) & (F.col("rn") == F.col("rn2"))
    ).select(
        F.least("doc_id", "id_b").alias("id_a"),
        F.greatest("doc_id", "id_b").alias("id_b"),
        "bucket",
        "rn",
    )
    neg = (
        adj.join(pairs, ["id_a", "id_b"], "left_anti")
        .orderBy("bucket", "rn")
        .limit(_CONTRASTIVE_K)
        .select("id_a", "id_b", F.lit(0).alias("label"), F.lit(0).cast("long").alias("score"))
    )
    return pos.unionByName(neg).orderBy(
        F.col("label").desc(), F.col("score").desc(), "id_a", "id_b"
    )


ORACLE_CONTRASTIVE_TRAINING_PAIRS = f"""
WITH {_WINNOW_PAIR_CTES},
pos AS (
  SELECT id_a, id_b, 1 AS label, n_shared AS score
  FROM wpairs WHERE n_shared >= {_CONTRASTIVE_MIN_SHARED}
  ORDER BY n_shared DESC, id_a, id_b LIMIT {_CONTRASTIVE_K}
),
ordered AS (
  SELECT doc_id, h, bucket,
         ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY h, doc_id) AS rn
  FROM (
    SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h,
           substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS bucket
    FROM documents
  ) t
),
adj AS (
  SELECT LEAST(a.doc_id, b.doc_id) AS id_a,
         GREATEST(a.doc_id, b.doc_id) AS id_b,
         a.bucket, a.rn
  FROM ordered a JOIN ordered b ON a.bucket = b.bucket AND b.rn = a.rn + 1
),
neg AS (
  SELECT id_a, id_b, 0 AS label, CAST(0 AS BIGINT) AS score
  FROM adj
  WHERE NOT EXISTS (
    SELECT 1 FROM wpairs w WHERE w.id_a = adj.id_a AND w.id_b = adj.id_b
  )
  ORDER BY bucket, rn LIMIT {_CONTRASTIVE_K}
)
SELECT id_a, id_b, label, score FROM pos
UNION ALL
SELECT id_a, id_b, label, score FROM neg
ORDER BY label DESC, score DESC, id_a, id_b
"""


# ----------------------------- chunk-level dedup


def chunk_dup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deduplication at CHUNK granularity: fingerprint every sliding
    window (same chunker as chunk_stats) and measure, per language,
    how much of the chunk stream is redundant — the dedup resolution a
    RAG index or packing pipeline actually operates at (document-level
    dedup misses the boilerplate paragraph shared by otherwise-unique
    docs; the overlap tax of stride < window also shows up here as
    within-doc near-identical windows do NOT collapse, only exact
    repeats do). One extra agg shuffle on the md5 fingerprint over the
    row-local chunk pipeline."""
    from data_ingestion_project_spark.operators.chunking import chunk_documents

    d = table(spark, sf_dir, "documents")
    chunks = chunk_documents(d, window=64, stride=48)
    fps = chunks.join(d.select("doc_id", "lang"), "doc_id").select(
        "lang", F.md5("chunk_text").alias("fp")
    )
    per_fp = fps.groupBy("lang", "fp").agg(F.count(F.lit(1)).alias("n"))
    return (
        per_fp.groupBy("lang")
        .agg(
            F.sum("n").alias("n_chunks"),
            F.count(F.lit(1)).alias("n_unique"),
            (F.sum("n") - F.count(F.lit(1))).alias("n_redundant"),
            F.round((F.sum("n") - F.count(F.lit(1))) / F.sum("n"), 6).alias("dup_rate"),
        )
        .orderBy("lang")
    )


ORACLE_CHUNK_DUP_STATS = """
WITH d AS (
  SELECT doc_id, lang,
         list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> x <> '') AS toks,
         len(list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> x <> '')) AS n
  FROM documents
), c AS (
  SELECT lang,
         md5(array_to_string(list_slice(toks, start + 1, start + 64), ' ')) AS fp
  FROM (
    SELECT doc_id, lang, toks, n,
           unnest(range(0, ((n - 1) // 48) * 48 + 1, 48)) AS start
    FROM d WHERE n > 0
  ) t
), per_fp AS (
  SELECT lang, fp, COUNT(*) AS n FROM c GROUP BY lang, fp
)
SELECT lang,
       CAST(SUM(n) AS BIGINT) AS n_chunks,
       COUNT(*) AS n_unique,
       CAST(SUM(n) - COUNT(*) AS BIGINT) AS n_redundant,
       ROUND((SUM(n) - COUNT(*)) * 1.0 / SUM(n), 6) AS dup_rate
FROM per_fp GROUP BY lang ORDER BY lang
"""


# ----------------------------- Zipf's-law fit (regression aggregates)

_ZIPF_TOP = 200


def zipf_slope_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit per language: OLS slope and R² of log10(freq) on
    log10(rank) over each language's top-200 words — the corpus
    sanity-check a data pipeline runs to catch template/boilerplate
    contamination (natural language slopes ≈ -1; machine-generated or
    deduplicated-to-death corpora drift off it). Covers the linear-
    regression aggregate family with the same determinism contract as
    the rest of the inventory: per-point log10 values are rounded
    (value-determined), products pre-rounded, and every Σ accumulates
    in DECIMAL, so slope/R² are pure functions of exact integer-scaled
    sums — unlike the built-in regr_slope/regr_r2, whose internal
    float accumulation is partial-order-dependent and therefore not
    oracle-hashable."""
    from pyspark.sql.window import Window

    d = table(spark, sf_dir, "documents")
    counts = (
        d.select("lang", F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("lang", "word")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("lang").orderBy(F.col("n").desc(), F.col("word").asc())
    pts = (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _ZIPF_TOP)
        .select(
            "lang",
            F.round(F.log10("rank"), 6).alias("x"),
            F.round(F.log10("n"), 6).alias("y"),
        )
    )
    dec = "decimal(30,12)"
    s = pts.groupBy("lang").agg(
        F.count(F.lit(1)).alias("k"),
        F.sum(F.col("x").cast(dec)).cast("double").alias("sx"),
        F.sum(F.col("y").cast(dec)).cast("double").alias("sy"),
        F.sum(F.round(F.col("x") * F.col("y"), 12).cast(dec)).cast("double").alias("sxy"),
        F.sum(F.round(F.col("x") * F.col("x"), 12).cast(dec)).cast("double").alias("sxx"),
        F.sum(F.round(F.col("y") * F.col("y"), 12).cast(dec)).cast("double").alias("syy"),
    )
    cov = s["k"] * s["sxy"] - s["sx"] * s["sy"]
    varx = s["k"] * s["sxx"] - s["sx"] * s["sx"]
    vary = s["k"] * s["syy"] - s["sy"] * s["sy"]
    return s.select(
        "lang",
        F.col("k").alias("n_points"),
        F.round(cov / varx, 4).alias("slope"),
        F.round((cov * cov) / (varx * vary), 4).alias("r2"),
    ).orderBy("lang")


ORACLE_ZIPF_SLOPE_BY_LANG = f"""
WITH counts AS (
  SELECT lang, word, COUNT(*) AS n
  FROM (
    SELECT lang, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS word
    FROM documents
  ) t WHERE word <> ''
  GROUP BY lang, word
), pts AS (
  SELECT lang,
         ROUND(log10(rank), 6) AS x, ROUND(log10(n), 6) AS y
  FROM (
    SELECT lang, n,
           ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n DESC, word ASC) AS rank
    FROM counts
  ) r WHERE rank <= {_ZIPF_TOP}
), s AS (
  SELECT lang, COUNT(*) AS k,
         CAST(SUM(CAST(x AS DECIMAL(30,12))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(y AS DECIMAL(30,12))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(ROUND(x * y, 12) AS DECIMAL(30,12))) AS DOUBLE) AS sxy,
         CAST(SUM(CAST(ROUND(x * x, 12) AS DECIMAL(30,12))) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(ROUND(y * y, 12) AS DECIMAL(30,12))) AS DOUBLE) AS syy
  FROM pts GROUP BY lang
)
SELECT lang, k AS n_points,
       ROUND((k * sxy - sx * sy) / (k * sxx - sx * sx), 4) AS slope,
       ROUND(((k * sxy - sx * sy) * (k * sxy - sx * sy))
             / ((k * sxx - sx * sx) * (k * syy - sy * sy)), 4) AS r2
FROM s ORDER BY lang
"""


# ----------------------------- PageRank over the near-dup graph

_PAGERANK_ITERS = 5
_PAGERANK_EDGE_MIN_SHARED = 10


def dup_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-15 most-central documents of the near-duplicate graph by
    fixed-iteration PageRank (operators/pagerank.py) — the "template
    hub" detector: a boilerplate page that partially overlaps hundreds
    of others out-ranks members of one tight dup cluster, which
    pairwise counts alone can't see. Edges are winnow pairs sharing
    >= 10 fingerprints (the shared materialized pair table),
    symmetrized. The DuckDB oracle replays the SAME 5 unrolled
    iterations (pagerank_unrolled_sql), value-certifying an iterative
    float algorithm end-to-end via the decimal-inbox determinism
    contract."""
    from data_ingestion_project_spark.operators.pagerank import pagerank, symmetrize

    pairs = _winnow_pair_counts(spark, sf_dir).filter(
        F.col("n_shared") >= _PAGERANK_EDGE_MIN_SHARED
    )
    ranks = pagerank(symmetrize(pairs), iterations=_PAGERANK_ITERS)
    return (
        ranks.select(F.col("node").alias("doc_id"), F.round("rank", 8).alias("rank"))
        .orderBy(F.col("rank").desc(), "doc_id")
        .limit(15)
    )


_KCORE_K = 3
_KCORE_ROUNDS = 8


def dup_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 3-CORE of the near-duplicate graph (fixed 8-round peel,
    operators/graph.k_core): nodes that survive when everything of
    degree < 3 is iteratively stripped — the densely-interlinked
    template/boilerplate nucleus that pairwise counts and even
    PageRank smooth over (a doc with 3 strong neighbors INSIDE the
    core matters more to cluster hygiene than one with 10 leaf
    neighbors).  Output: the top-15 core members by in-core degree,
    with the core's total size alongside.

    Plan: edges come from the maintained winnow pair asset; each peel
    round is a degree aggregate + two semi-joins over the SHRINKING
    edge list (localCheckpoint'ed, bounded lineage).  The DuckDB
    oracle replays the SAME 8 unrolled rounds
    (graph.k_core_unrolled_sql) — integer degrees, so the composition
    certifies value-exactly.  Fixpoint-within-rounds for this corpus
    is pinned in pytest (8 rounds == 12 rounds)."""
    from data_ingestion_project_spark.operators.graph import k_core
    from data_ingestion_project_spark.operators.pagerank import symmetrize

    pairs = _winnow_pair_counts(spark, sf_dir).filter(
        F.col("n_shared") >= _PAGERANK_EDGE_MIN_SHARED
    )
    core = k_core(symmetrize(pairs), _KCORE_K, rounds=_KCORE_ROUNDS)
    n_core = core.agg(F.count(F.lit(1)).alias("n_core"))
    return (
        core.crossJoin(F.broadcast(n_core))
        .select(F.col("node").alias("doc_id"), "core_degree", "n_core")
        .orderBy(F.col("core_degree").desc(), "doc_id")
        .limit(15)
    )


def _oracle_dup_graph_kcore() -> str:
    from data_ingestion_project_spark.operators.graph import k_core_unrolled_sql

    body = k_core_unrolled_sql("edges", _KCORE_K, rounds=_KCORE_ROUNDS)
    return (
        f"WITH {_WINNOW_PAIR_CTES},\n"
        "edges AS (\n"
        f"  SELECT id_a AS src, id_b AS dst FROM wpairs WHERE n_shared >= {_PAGERANK_EDGE_MIN_SHARED}\n"
        "  UNION ALL\n"
        f"  SELECT id_b AS src, id_a AS dst FROM wpairs WHERE n_shared >= {_PAGERANK_EDGE_MIN_SHARED}\n"
        "),\n"
        + body
        + ",\nnc AS (SELECT COUNT(*) AS n_core FROM corefinal)\n"
        "SELECT node AS doc_id, core_degree, CAST(n_core AS BIGINT) AS n_core\n"
        "FROM corefinal CROSS JOIN nc\n"
        "ORDER BY core_degree DESC, node LIMIT 15"
    )


ORACLE_DUP_GRAPH_KCORE = _oracle_dup_graph_kcore()


_BFS_MAX_DEPTH = 8


def dup_graph_bfs_depths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BFS distance census of the near-dup graph from its minimum doc
    id: how many documents sit 1, 2, … hops from the seed, plus a
    dist = -1 bucket for nodes in other components — the hop-radius
    profile that tells a dedup pass whether transitive closure chains
    are shallow stars (depth ≤ 2: collapsing clusters is safe) or long
    weak chains (depth ≥ 4: closure is gluing unrelated docs through
    middlemen, the classic over-merge failure). Complements the
    component CENSUS (dup_cluster_sizes: how big) with SHAPE (how
    deep). Operator: ``operators/graph.bfs_distances`` — frontier
    expansion, each node's edges expanded exactly once (O(E+V) total,
    the Pregel shape), not per-round re-relaxation.

    Plan: edges from the maintained winnow pair asset (checkpointed
    once — seed, node set and rounds all reuse it); each round one
    semi-join + distinct + anti-join keyed by node id. The DuckDB
    oracle replays the same bounded walk recursively
    (graph.bfs_unrolled_sql) — integer depths, value-exact.
    Eccentricity-within-rounds for this corpus is pinned in pytest
    (8 rounds == 12 rounds)."""
    from data_ingestion_project_spark.operators.graph import bfs_distances
    from data_ingestion_project_spark.operators.pagerank import symmetrize

    pairs = _winnow_pair_counts(spark, sf_dir).filter(
        F.col("n_shared") >= _PAGERANK_EDGE_MIN_SHARED
    )
    sym = pin(symmetrize(pairs))
    seed = sym.agg(F.min("src").alias("node"))
    dist = bfs_distances(sym, seed, max_depth=_BFS_MAX_DEPTH)
    hist = dist.groupBy("dist").agg(F.count(F.lit(1)).alias("n_nodes"))
    unreached = (
        sym.select(F.col("src").alias("node"))
        .distinct()
        .join(dist.select("node"), "node", "left_anti")
        .agg(F.count(F.lit(1)).alias("n_nodes"))
        .select(F.lit(-1).alias("dist"), "n_nodes")
    )
    return hist.unionByName(unreached).orderBy("dist")


def _oracle_dup_graph_bfs_depths() -> str:
    from data_ingestion_project_spark.operators.graph import bfs_unrolled_sql

    body = bfs_unrolled_sql(
        "edges", "SELECT MIN(src) FROM edges", max_depth=_BFS_MAX_DEPTH
    )
    return (
        f"WITH RECURSIVE {_WINNOW_PAIR_CTES},\n"
        f"fedges AS (SELECT id_a, id_b FROM wpairs WHERE n_shared >= {_PAGERANK_EDGE_MIN_SHARED}),\n"
        "edges AS (\n"
        "  SELECT id_a AS src, id_b AS dst FROM fedges\n"
        "  UNION ALL\n"
        "  SELECT id_b AS src, id_a AS dst FROM fedges\n"
        "),\n"
        + body
        + """
SELECT dist, n_nodes FROM (
  SELECT dist, COUNT(*) AS n_nodes FROM bfsreach GROUP BY dist
  UNION ALL
  SELECT -1 AS dist, COUNT(*) AS n_nodes
  FROM (SELECT DISTINCT src AS n FROM edges) nodes
  WHERE n NOT IN (SELECT node FROM bfsreach)
) u
ORDER BY dist"""
    )


ORACLE_DUP_GRAPH_BFS_DEPTHS = _oracle_dup_graph_bfs_depths()


def dup_graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the near-dup graph: the Pearson
    correlation between the degrees at the two ends of each edge —
    positive means hub docs link to other hubs (one dense boilerplate
    core: collapse aggressively), negative means hubs link to leaves
    (star templates around canonical pages: keep the hub, drop
    spokes).  The fourth structural lens after census (sizes), shape
    (BFS depths), and cohesion (density/modularity).

    Exactness: degrees are exact integer counts over the symmetrized
    edge list; the correlation's five moments fold those integers
    exactly (Σxy ≤ deg²·|E| — DECIMAL headroom), and r is one
    value-determined double expression.  Plan: one degree aggregation
    + two broadcast joins back to the edge list + one moment
    aggregation — all keyed shuffles, nothing driver-side."""
    from data_ingestion_project_spark.operators.pagerank import symmetrize

    pairs = _winnow_pair_counts(spark, sf_dir).filter(
        F.col("n_shared") >= _PAGERANK_EDGE_MIN_SHARED
    )
    sym = pin(symmetrize(pairs))
    deg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    dx = deg.select(F.col("src"), F.col("deg").alias("dx"))
    dy = deg.select(F.col("src").alias("dst"), F.col("deg").alias("dy"))
    # keyed shuffle joins, NOT broadcast: the degree frame is
    # node-cardinality (corpus-sized at 100 TB)
    e = sym.join(dx, "src").join(dy, "dst")
    dec = "decimal(38,0)"
    mom = e.agg(
        F.count(F.lit(1)).alias("m2"),  # 2·|edges| (symmetrized)
        F.sum(F.col("dx").cast(dec)).alias("sx"),
        F.sum(F.col("dy").cast(dec)).alias("sy"),
        F.sum((F.col("dx") * F.col("dy")).cast(dec)).alias("sxy"),
        F.sum((F.col("dx") * F.col("dx")).cast(dec)).alias("sxx"),
        F.sum((F.col("dy") * F.col("dy")).cast(dec)).alias("syy"),
        F.max("dx").alias("max_deg"),
    )
    n = F.col("m2").cast("double")
    num = n * F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col(
        "sy"
    ).cast("double")
    denx = n * F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col(
        "sx"
    ).cast("double")
    deny = n * F.col("syy").cast("double") - F.col("sy").cast("double") * F.col(
        "sy"
    ).cast("double")
    nodes = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum("deg").alias("deg_sum"),
    )
    return mom.crossJoin(F.broadcast(nodes)).select(
        (F.col("m2") / F.lit(2)).cast("long").alias("n_edges"),
        F.col("n_nodes").cast("long").alias("n_nodes"),
        F.col("max_deg").cast("long").alias("max_degree"),
        floor_round(
            F.col("deg_sum").cast("double") / F.col("n_nodes").cast("double"), 4
        ).alias("mean_degree"),
        floor_round(num / F.sqrt(denx * deny), 6).alias("assortativity"),
    )


def _oracle_dup_graph_assortativity() -> str:
    return (
        f"WITH RECURSIVE {_WINNOW_PAIR_CTES},\n"
        f"fedges AS (SELECT id_a, id_b FROM wpairs"
        f" WHERE n_shared >= {_PAGERANK_EDGE_MIN_SHARED}),\n"
        """sym AS (
  SELECT id_a AS src, id_b AS dst FROM fedges
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM fedges
), deg AS (
  SELECT src, COUNT(*) AS deg FROM sym GROUP BY 1
), e AS (
  SELECT dx.deg AS dx, dy.deg AS dy
  FROM sym s JOIN deg dx ON dx.src = s.src JOIN deg dy ON dy.src = s.dst
), mom AS (
  SELECT COUNT(*) AS m2, SUM(dx) AS sx, SUM(dy) AS sy,
         SUM(dx * dy) AS sxy, SUM(dx * dx) AS sxx, SUM(dy * dy) AS syy,
         MAX(dx) AS max_deg
  FROM e
), nodes AS (SELECT COUNT(*) AS n_nodes, SUM(deg) AS deg_sum FROM deg)
SELECT CAST(m2 / 2 AS BIGINT) AS n_edges,
       CAST(n_nodes AS BIGINT) AS n_nodes,
       CAST(max_deg AS BIGINT) AS max_degree,
       sign(md) * floor(abs(md) * 10000.0 + 0.5) / 10000.0 AS mean_degree,
       sign(r) * floor(abs(r) * 1000000.0 + 0.5) / 1000000.0 AS assortativity
FROM (
  SELECT m2, n_nodes, max_deg,
         CAST(deg_sum AS DOUBLE) / CAST(n_nodes AS DOUBLE) AS md,
         (CAST(m2 AS DOUBLE) * CAST(sxy AS DOUBLE)
          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         / sqrt((CAST(m2 AS DOUBLE) * CAST(sxx AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                * (CAST(m2 AS DOUBLE) * CAST(syy AS DOUBLE)
                   - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS r
  FROM mom CROSS JOIN nodes
) x"""
    )


ORACLE_DUP_GRAPH_ASSORTATIVITY = _oracle_dup_graph_assortativity()


_TEXTRANK_ITERS = 5
_TEXTRANK_MIN_COOC = 25


def keyword_textrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keyword extraction (Mihalcea & Tarau 2004): PageRank
    over the word CO-OCCURRENCE graph — words are nodes, adjacent-word
    pairs seen ≥ 25 times are undirected edges, and a word's rank is
    its graph centrality, the classic unsupervised keyword scorer
    (frequency alone can't see that a word bridges many contexts).
    Pure operator REUSE: the same fixed-iteration
    ``operators/pagerank.pagerank`` that ranks the document dup graph
    runs unchanged over a string-keyed word graph.

    Plan: adjacency from ONE arrays_zip explode (the bigram-LM idiom —
    no positional self-join), collapsed to a ≤|vocab|²-row undirected
    edge list (the explode map-side-combines into that tiny frame);
    the PageRank rounds then iterate over the edge list alone — at
    100 TB the iterations never touch the corpus, only the vocabulary
    graph.  The DuckDB oracle replays the SAME unrolled iterations
    (pagerank_unrolled_sql), value-certifying the composition
    end-to-end."""
    from data_ingestion_project_spark.operators.pagerank import pagerank, symmetrize

    d = table(spark, sf_dir, "documents")
    toks = d.select(
        F.split(F.lower(F.trim("text")), r"\s+").alias("a")
    ).withColumn("n", F.size("a"))
    pairs = (
        toks.filter(F.col("n") >= 2)
        .select(
            F.explode(
                F.arrays_zip(
                    F.slice("a", 1, F.col("n") - 1).alias("w1"),
                    F.slice("a", 2, F.col("n") - 1).alias("w2"),
                )
            ).alias("p")
        )
        .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    )
    und = (
        pairs.filter(F.col("w1") != F.col("w2"))
        .select(
            F.least("w1", "w2").alias("id_a"), F.greatest("w1", "w2").alias("id_b")
        )
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_cooc"))
        .filter(F.col("n_cooc") >= _TEXTRANK_MIN_COOC)
    )
    ranks = pagerank(symmetrize(und), iterations=_TEXTRANK_ITERS)
    return (
        ranks.select(F.col("node").alias("word"), F.round("rank", 8).alias("rank"))
        .orderBy(F.col("rank").desc(), "word")
        .limit(15)
    )


def _oracle_keyword_textrank() -> str:
    from data_ingestion_project_spark.operators.pagerank import pagerank_unrolled_sql

    body = pagerank_unrolled_sql("edges", iterations=_TEXTRANK_ITERS)
    return (
        "WITH toks AS (\n"
        "  SELECT string_split_regex(lower(trim(text)), '\\s+') AS a FROM documents\n"
        "), pairs AS (\n"
        "  SELECT a[i] AS w1, a[i + 1] AS w2\n"
        "  FROM toks, LATERAL (SELECT unnest(range(1, len(a))) AS i) _\n"
        "  WHERE len(a) >= 2\n"
        "), und AS (\n"
        "  SELECT LEAST(w1, w2) AS id_a, GREATEST(w1, w2) AS id_b, COUNT(*) AS n_cooc\n"
        "  FROM pairs WHERE w1 <> w2 GROUP BY 1, 2\n"
        f"), fedges AS (SELECT id_a, id_b FROM und WHERE n_cooc >= {_TEXTRANK_MIN_COOC}),\n"
        "edges AS (\n"
        "  SELECT id_a AS src, id_b AS dst FROM fedges\n"
        "  UNION ALL\n"
        "  SELECT id_b AS src, id_a AS dst FROM fedges\n"
        "),\n"
        + body.replace(
            f"\nSELECT src AS node, rank FROM r{_TEXTRANK_ITERS}",
            f"\nSELECT src AS word, ROUND(rank, 8) AS rank FROM r{_TEXTRANK_ITERS}\n"
            "ORDER BY ROUND(rank, 8) DESC, src LIMIT 15",
        )
    )


ORACLE_KEYWORD_TEXTRANK = _oracle_keyword_textrank()


def _oracle_dup_graph_pagerank() -> str:
    from data_ingestion_project_spark.operators.pagerank import pagerank_unrolled_sql

    body = pagerank_unrolled_sql("edges", iterations=_PAGERANK_ITERS)
    return (
        f"WITH {_WINNOW_PAIR_CTES},\n"
        "edges AS (\n"
        f"  SELECT id_a AS src, id_b AS dst FROM wpairs WHERE n_shared >= {_PAGERANK_EDGE_MIN_SHARED}\n"
        "  UNION ALL\n"
        f"  SELECT id_b AS src, id_a AS dst FROM wpairs WHERE n_shared >= {_PAGERANK_EDGE_MIN_SHARED}\n"
        "),\n"
        + body.replace(
            f"\nSELECT src AS node, rank FROM r{_PAGERANK_ITERS}",
            f"\nSELECT src AS doc_id, ROUND(rank, 8) AS rank FROM r{_PAGERANK_ITERS}\n"
            "ORDER BY ROUND(rank, 8) DESC, src LIMIT 15",
        )
    )


ORACLE_DUP_GRAPH_PAGERANK = _oracle_dup_graph_pagerank()


# ----------------------------- DSIR importance weighting (Xie et al. 2023)

# Hashed-feature space for the importance model. The PORTABLE bucket
# hash (md5 hex prefix → int, engine-mirrorable) keeps the whole
# pipeline oracle-checkable; at 100 TB the same plan runs with
# xxhash64 (cheaper, JVM-native) since the oracle only needs a hash
# both engines can compute, not a specific one.
DSIR_BUCKETS = 1024


# Engine-portable word→bucket hash shared with the shard EXPORT path
# (operators/layout.write_training_shards) — one definition, so the
# written layout can never drift from this accounting/oracle.
from data_ingestion_project_spark.functions.portable_hash import (  # noqa: E402
    md5_bucket as _md5_bucket,
)


def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data selection (Data Selection via Importance
    Resampling): score every document by the log-likelihood ratio of a
    hashed-unigram model of the TARGET distribution (here: the English
    slice, the stand-in for "looks like my eval domain") over the RAW
    corpus model, then report per-source selection accounting — the
    operator a 100 TB pretraining pipeline uses to up-weight
    target-like data without reading labels.

    Plan: ONE explode pass; bucket counts (raw + target via count_if)
    are a 1024-row frame — the importance model broadcasts everywhere.
    Laplace +1 smoothing keeps unseen buckets finite. Cross-engine
    exactness: per-BUCKET log10 ratio is rounded to 6 decimals
    (value-determined), per-doc means accumulate in DECIMAL — same
    determinism contract as unigram_logprob_quality."""
    d = table(spark, sf_dir, "documents")
    words = d.select(
        "doc_id",
        "source",
        (F.col("lang") == "en").alias("is_target"),
        F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("word"),
    ).filter(F.col("word") != "")
    bucketed = words.select(
        "doc_id", "source", "is_target", _md5_bucket(F.col("word"), DSIR_BUCKETS).alias("bucket")
    )
    counts = bucketed.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_raw"),
        F.count_if("is_target").alias("n_tgt"),
    )
    tot = counts.agg(
        F.sum("n_raw").alias("raw_tot"), F.sum("n_tgt").alias("tgt_tot")
    )
    model = counts.crossJoin(F.broadcast(tot)).select(
        "bucket",
        F.round(
            F.log10((F.col("n_tgt") + 1) / (F.col("tgt_tot") + DSIR_BUCKETS))
            - F.log10((F.col("n_raw") + 1) / (F.col("raw_tot") + DSIR_BUCKETS)),
            6,
        ).alias("logratio"),
    )
    per_doc = (
        bucketed.join(F.broadcast(model), "bucket")
        .groupBy("doc_id", "source")
        .agg(
            F.round(
                F.sum(F.col("logratio").cast("decimal(27,6)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("doc_w")
        )
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(
                F.sum(F.col("doc_w").cast("decimal(27,6)")).cast("double")
                / F.count(F.lit(1)),
                4,
            ).alias("mean_logratio"),
            F.count_if(F.col("doc_w") > 0).alias("n_selected"),
            F.round(F.count_if(F.col("doc_w") > 0) / F.count(F.lit(1)), 4).alias("sel_rate"),
        )
        .orderBy("source")
    )


ORACLE_DSIR_IMPORTANCE_WEIGHTS = f"""
WITH words AS (
  SELECT doc_id, source, lang = 'en' AS is_target,
         CAST(concat('0x', substr(md5(word), 1, 6)) AS BIGINT) % {DSIR_BUCKETS} AS bucket
  FROM (
    SELECT doc_id, source, lang,
           unnest(string_split_regex(lower(trim(text)), '\\s+')) AS word
    FROM documents
  ) t WHERE word <> ''
), counts AS (
  SELECT bucket, COUNT(*) AS n_raw, count_if(is_target) AS n_tgt
  FROM words GROUP BY bucket
), tot AS (
  SELECT SUM(n_raw) AS raw_tot, SUM(n_tgt) AS tgt_tot FROM counts
), model AS (
  SELECT bucket,
         ROUND(log10((n_tgt + 1) * 1.0 / (tgt_tot + {DSIR_BUCKETS}))
               - log10((n_raw + 1) * 1.0 / (raw_tot + {DSIR_BUCKETS})), 6) AS logratio
  FROM counts, tot
), per_doc AS (
  SELECT doc_id, source,
         ROUND(CAST(SUM(CAST(logratio AS DECIMAL(27,6))) AS DOUBLE) / COUNT(*), 6) AS doc_w
  FROM words w JOIN model m USING (bucket)
  GROUP BY doc_id, source
)
SELECT source, COUNT(*) AS n_docs,
       ROUND(CAST(SUM(CAST(doc_w AS DECIMAL(27,6))) AS DOUBLE) / COUNT(*), 4) AS mean_logratio,
       CAST(count_if(doc_w > 0) AS BIGINT) AS n_selected,
       ROUND(count_if(doc_w > 0) * 1.0 / COUNT(*), 4) AS sel_rate
FROM per_doc GROUP BY source ORDER BY source
"""


# ----------------------------- deterministic training-shard planning

N_TRAIN_SHARDS = 16


def training_shard_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-sharding of the corpus into training shards:
    shard = portable_hash(doc_id) mod N — the reproducible "global
    shuffle" a distributed trainer needs (any engine, any partition
    order, same shard assignment; no global sort, no RNG state). The
    plan is ONE pass: shard assignment is a codegen'd expression, the
    summary a single aggregation shuffle of N rows. Balance columns
    (doc counts, token sums) let the pipeline assert shard skew before
    burning trainer time."""
    d = table(spark, sf_dir, "documents")
    sharded = d.select(
        _md5_bucket(F.col("doc_id").cast("string"), N_TRAIN_SHARDS).alias("shard"),
        token_count("text").alias("n_tokens"),
        "n_chars",
    )
    return (
        sharded.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            F.sum("n_chars").alias("n_chars"),
            F.round(F.avg("n_tokens"), 4).alias("avg_tokens"),
        )
        .orderBy("shard")
    )


ORACLE_TRAINING_SHARD_PLAN = f"""
WITH sharded AS (
  SELECT CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 6)) AS BIGINT)
           % {N_TRAIN_SHARDS} AS shard,
         CAST(len(string_split_regex(trim(text), '\\s+')) AS INTEGER) AS n_tokens,
         n_chars
  FROM documents
)
SELECT shard, COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       CAST(SUM(n_chars) AS BIGINT) AS n_chars, ROUND(AVG(n_tokens), 4) AS avg_tokens
FROM sharded GROUP BY shard ORDER BY shard
"""


# --------------------------- model-based filtering (Naive Bayes)


def nb_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The NB pipeline's per-(doc, lang, word) term-frequency frame —
    the ONE tokenize pass feeding train+score.  Shared by the
    nb_scores asset build AND the broadcast-contract plan test
    (r13, ADVICE r12 #4: the test re-implemented this pipeline inline,
    so a drift in the build would have silently decoupled the pinned
    no-shuffle/no-Python contract from the real build plan)."""
    d = table(spark, sf_dir, "documents")
    words = d.select(
        "doc_id",
        "lang",
        F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("word"),
    )
    return words.groupBy("doc_id", "lang", "word").agg(F.count(F.lit(1)).alias("c"))


def _nb_scored_path(spark: SparkSession, sf_dir: str) -> str:
    """Materialize (once per corpus mtime) the per-(test doc, candidate
    label) INTEGER score frame of the trained NB language model —
    (doc_id, lang, m_label, score) — shared by all four NB consumers
    (confusion, margin calibration, ROC AUC, PR AUC).  Each previously
    re-tokenized the corpus and re-ran train+score per query; the
    score frame is the asset a filtering pipeline actually keeps (you
    score every doc ONCE, then every downstream keep/drop rule reads
    the scores).  Scores are exact BIGINTs (quantized-logit sums,
    operators/nb.py), so the materialization is bit-identical to the
    in-query recompute and every oracle stays value-exact (VERDICT r11
    ask #5: the nb economy pass)."""
    import os

    from data_ingestion_project_spark.operators.materialize import (
        dataset_tag,
        ensure_materialized,
    )
    from data_ingestion_project_spark.operators.nb import _scored

    abs_dir = os.path.abspath(os.path.normpath(sf_dir))

    def _build(tmp: str) -> None:
        # pinned: _scored reads the counts frame 6×
        counts = pin(nb_token_counts(spark, sf_dir))
        scored = _scored(counts, "doc_id", "lang", "word", "c", None)
        # test-docs × |labels| rows of 4 narrow columns; at real scale
        # this write would be bucketed BY doc_id so the per-doc argmax
        # / top-2 consumers shuffle nothing
        scored.select("doc_id", "lang", "m_label", "score").repartition(8).write.parquet(tmp)

    return ensure_materialized(
        f"nb_scores_{dataset_tag(abs_dir)}",
        os.path.join(abs_dir, "documents.parquet"),
        _build,
    )


def _nb_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(_nb_scored_path(spark, sf_dir))


def nb_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAINED language classifier evaluated on held-out docs — the
    model-based filtering stage (fastText-style lang-id / quality
    classifiers in CCNet/RefinedWeb pipelines): train multinomial
    Naive Bayes (Laplace +1) on even-doc_id docs, score the odd half,
    output the (true_lang, pred_lang, n_docs) confusion matrix. The
    algebra — training as aggregation, scoring as a broadcast model
    join, integer-quantized log weights for order-independent exact
    scores — lives in operators/nb.py; learning power is pinned in
    pytest on a planted separable corpus (THIS corpus's lang labels
    are near-random over one shared vocabulary, so the matrix here
    certifies the machinery and the priors, not accuracy).

    r12 economy pass: reads the materialized nb_scores asset
    (_nb_scored_path — tokenize+train+score runs ONCE per corpus, not
    per query) and reduces it with one partial-aggregable min_by
    argmax; the per-query work is the score-frame read plus two
    K-bounded aggregations."""
    from data_ingestion_project_spark.operators.nb import confusion_from_scored

    return confusion_from_scored(_nb_scored(spark, sf_dir), label_col="lang").select(
        F.col("true_label").alias("true_lang"),
        F.col("pred_label").alias("pred_lang"),
        "n_docs",
    )


_NB_MODEL_CTES = """WITH words AS (
  SELECT doc_id, lang,
         unnest(string_split_regex(lower(trim(text)), '\\s+')) AS word
  FROM documents
), counts AS (
  SELECT doc_id, lang, word, COUNT(*) AS c FROM words GROUP BY 1, 2, 3
), train AS (SELECT * FROM counts WHERE doc_id % 2 = 0),
test AS (SELECT * FROM counts WHERE doc_id % 2 = 1),
vocab AS (SELECT COUNT(DISTINCT word) AS V FROM train),
cls_tok AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS tot FROM train GROUP BY 1),
cls_doc AS (SELECT lang, COUNT(DISTINCT doc_id) AS n_docs_l FROM train GROUP BY 1),
n_train AS (SELECT COUNT(DISTINCT doc_id) AS n_train FROM train),
cw AS (SELECT lang, word, CAST(SUM(c) AS BIGINT) AS cw FROM train GROUP BY 1, 2),
model AS (
  SELECT cw.lang AS m_lang, word,
         CAST(ROUND(ln((cw + 1) / (tot + V)) * 10000, 0) AS BIGINT) AS w
  FROM cw JOIN cls_tok ON cw.lang = cls_tok.lang CROSS JOIN vocab
),
unseen AS (
  SELECT lang AS m_lang,
         CAST(ROUND(ln(1.0 / (tot + V)) * 10000, 0) AS BIGINT) AS u
  FROM cls_tok CROSS JOIN vocab
),
prior AS (
  SELECT lang AS m_lang,
         CAST(ROUND(ln(n_docs_l / n_train) * 10000, 0) AS BIGINT) AS p
  FROM cls_doc CROSS JOIN n_train
),
scored AS (
  SELECT t.doc_id, t.lang AS true_lang, u.m_lang,
         CAST(SUM(t.c * COALESCE(m.w, u.u)) AS BIGINT) AS ll
  FROM test t CROSS JOIN unseen u
  LEFT JOIN model m ON m.m_lang = u.m_lang AND m.word = t.word
  GROUP BY 1, 2, 3
),"""


ORACLE_NB_LANG_CONFUSION = _NB_MODEL_CTES + """
pred AS (
  SELECT s.doc_id, s.true_lang, s.m_lang AS pred_lang,
         ROW_NUMBER() OVER (
           PARTITION BY s.doc_id ORDER BY (s.ll + p.p) DESC, s.m_lang ASC
         ) AS rn
  FROM scored s JOIN prior p ON p.m_lang = s.m_lang
)
SELECT true_lang, pred_lang, COUNT(*) AS n_docs
FROM pred WHERE rn = 1
GROUP BY 1, 2 ORDER BY 1, 2
"""


_NB_CAL_BUCKET = 5000  # 0.5-nat margin buckets (scores are 1e-4-nat ints)


def nb_margin_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration-by-margin for the trained NB language classifier:
    does a bigger decision margin actually mean a more reliable
    prediction?  Buckets the winner-minus-runner-up score margin into
    0.5-nat bands and reports empirical accuracy per band — the
    reliability curve behind every "keep if classifier is confident"
    filtering rule, computed WITHOUT softmax or exp: margins are exact
    BIGINT differences of the integer-quantized logit sums
    (operators/nb.margins_from_scored), so the whole curve replays value-
    exactly in DuckDB.

    Plan (r12): reads the materialized nb_scores asset — one per-doc
    window rank over the label-cardinality frames plus one bucket
    aggregation; no per-query tokenize/train."""
    from data_ingestion_project_spark.operators.nb import margins_from_scored

    m = margins_from_scored(_nb_scored(spark, sf_dir), label_col="lang")
    return (
        m.groupBy(F.floor(F.col("margin_i") / F.lit(_NB_CAL_BUCKET)).alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("correct").alias("n_correct"),
            F.round(F.sum("correct") / F.count(F.lit(1)), 6).alias("accuracy"),
            F.round(
                F.sum("margin_i") / F.count(F.lit(1)) / F.lit(10000.0), 4
            ).alias("avg_margin_nats"),
        )
        .orderBy("bucket")
    )


ORACLE_NB_MARGIN_CALIBRATION = _NB_MODEL_CTES + """
ranked AS (
  SELECT s.doc_id, s.true_lang, s.m_lang, s.ll + p.p AS score,
         ROW_NUMBER() OVER (
           PARTITION BY s.doc_id ORDER BY (s.ll + p.p) DESC, s.m_lang ASC
         ) AS rn
  FROM scored s JOIN prior p ON p.m_lang = s.m_lang
), top AS (
  SELECT doc_id, true_lang, m_lang AS pred_lang, score AS s1
  FROM ranked WHERE rn = 1
), sec AS (SELECT doc_id, score AS s2 FROM ranked WHERE rn = 2),
marg AS (
  SELECT t.doc_id, CAST(t.s1 - x.s2 AS BIGINT) AS margin_i,
         CASE WHEN t.pred_lang = t.true_lang THEN 1 ELSE 0 END AS correct
  FROM top t JOIN sec x USING (doc_id)
)
SELECT CAST(FLOOR(margin_i / {b}) AS BIGINT) AS bucket,
       COUNT(*) AS n_docs,
       CAST(SUM(correct) AS BIGINT) AS n_correct,
       ROUND(SUM(correct) * 1.0 / COUNT(*), 6) AS accuracy,
       ROUND(SUM(margin_i) * 1.0 / COUNT(*) / 10000.0, 4) AS avg_margin_nats
FROM marg GROUP BY 1 ORDER BY 1
""".format(b=_NB_CAL_BUCKET)


def nb_auc_roc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT one-vs-rest ROC AUC of the trained NB language classifier
    for detecting 'en' — the threshold-free ranking quality behind
    every "keep if classifier score ≥ t" filtering rule (calibration
    tells you accuracy AT a margin; AUC tells you whether the score
    ORDERING separates classes at all).  AUC is computed by the exact
    Mann–Whitney pair count with midrank tie handling:
    AUC = (concordant + ties/2) / (P·N).

    Plan: the decision statistics are exact BIGINTs (differences of
    quantized-logit sums, operators/nb.ovr_from_scored), so pair
    counting groups by DISTINCT statistic value and needs one
    cumulative negative count per value — computed with the repo's
    two-level bucket-prefix decomposition (ks_length_drift posture):
    within-1-nat-bucket windows are partitioned and parallel; the only
    unpartitioned prefix runs over the bucket-partials frame
    (score-range/1 nat — value-domain-sized, not corpus-sized).  Pair
    products accumulate in DECIMAL(28,0): P·N overflows int64 at
    ~3e9 docs/side, exactly where a 100 TB corpus lives.

    r12: the decision statistics derive from the materialized
    nb_scores asset (one read, no per-query tokenize/train)."""
    from pyspark.sql.window import Window

    from data_ingestion_project_spark.operators.nb import ovr_from_scored
    from data_ingestion_project_spark.queries._precision import DEC_BUF

    st = ovr_from_scored(_nb_scored(spark, sf_dir), "en", label_col="lang")
    per = pin(
        st.groupBy("stat")
        .agg(
            F.sum("is_pos").alias("n_pos_s"),
            F.sum(F.lit(1) - F.col("is_pos")).alias("n_neg_s"),
        )
        .withColumn("bkt", F.floor(F.col("stat") / F.lit(10_000)))
    )
    bp = per.groupBy("bkt").agg(F.sum("n_neg_s").alias("b_neg"))
    wb = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
    prefix = bp.select(
        "bkt", F.coalesce(F.sum("b_neg").over(wb), F.lit(0)).alias("p_neg")
    )
    wv = Window.partitionBy("bkt").orderBy("stat").rowsBetween(
        Window.unboundedPreceding, -1
    )
    cum = per.join(F.broadcast(prefix), "bkt").select(
        "n_pos_s",
        "n_neg_s",
        (
            F.col("p_neg") + F.coalesce(F.sum("n_neg_s").over(wv), F.lit(0))
        ).alias("neg_below"),
    )
    agg = cum.agg(
        F.sum("n_pos_s").cast("long").alias("n_pos"),
        F.sum("n_neg_s").cast("long").alias("n_neg"),
        F.sum(F.col("n_pos_s").cast(DEC_BUF) * F.col("neg_below")).alias("conc"),
        F.sum(F.col("n_pos_s").cast(DEC_BUF) * F.col("n_neg_s")).alias("tied"),
    )
    return agg.select(
        "n_pos",
        "n_neg",
        F.col("conc").cast("long").alias("n_concordant"),
        F.col("tied").cast("long").alias("n_tied"),
        F.round(
            (
                F.lit(2.0) * F.col("conc").cast("double")
                + F.col("tied").cast("double")
            )
            / (
                F.lit(2.0)
                * F.col("n_pos").cast("double")
                * F.col("n_neg").cast("double")
            ),
            6,
        ).alias("auc"),
    )


def nb_pr_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT average precision (PR-AUC, step interpolation — the
    sklearn AP definition) of the NB 'en' detector — the
    class-imbalance-honest companion of nb_auc_roc: ROC AUC stays
    optimistic when negatives dominate (a corpus-filtering classifier
    usually faces 90%+ negatives); AP weights precision AT each recall
    step, which is what the "keep if classifier says en" filter
    actually pays.  AP = Σ_s ΔR(s)·P(s) over distinct decision
    statistics s descending, with P = TP/(TP+FP) at threshold s.

    Plan/exactness: the decision statistics are the same exact BIGINT
    margins (operators/nb.ovr_from_scored); the threshold sweep needs
    one cumulative (pos, neg)-below count per DISTINCT statistic —
    the repo's two-level bucket-prefix decomposition (nb_auc_roc
    posture: within-bucket windows partitioned, the unpartitioned
    prefix over the value-domain-sized bucket partials).  Each
    ΔR·P term quantizes to integer nano-units against exact integer
    TP/FP, and AP is one exact fold divided by P_total once.

    r12: the decision statistics derive from the materialized
    nb_scores asset (one read, no per-query tokenize/train)."""
    from pyspark.sql.window import Window as _W

    from data_ingestion_project_spark.operators.nb import ovr_from_scored

    st = ovr_from_scored(_nb_scored(spark, sf_dir), "en", label_col="lang")
    per = pin(
        st.groupBy("stat")
        .agg(
            F.sum("is_pos").alias("n_pos_s"),
            F.sum(F.lit(1) - F.col("is_pos")).alias("n_neg_s"),
        )
        .withColumn("bkt", F.floor(F.col("stat") / F.lit(10_000)))
    )
    bp = per.groupBy("bkt").agg(
        F.sum("n_pos_s").alias("b_pos"), F.sum("n_neg_s").alias("b_neg")
    )
    wb = _W.orderBy("bkt").rowsBetween(_W.unboundedPreceding, -1)
    prefix = bp.select(
        "bkt",
        F.coalesce(F.sum("b_pos").over(wb), F.lit(0)).alias("p_pos"),
        F.coalesce(F.sum("b_neg").over(wb), F.lit(0)).alias("p_neg"),
    )
    wv = _W.partitionBy("bkt").orderBy("stat").rowsBetween(
        _W.unboundedPreceding, -1
    )
    cum = per.join(F.broadcast(prefix), "bkt").select(
        "n_pos_s",
        (
            F.col("p_pos") + F.coalesce(F.sum("n_pos_s").over(wv), F.lit(0))
        ).alias("pos_below"),
        (
            F.col("p_neg") + F.coalesce(F.sum("n_neg_s").over(wv), F.lit(0))
        ).alias("neg_below"),
    )
    tot = per.agg(
        F.sum("n_pos_s").cast("long").alias("p_tot"),
        F.sum("n_neg_s").cast("long").alias("n_tot"),
    )
    tp = (F.col("p_tot") - F.col("pos_below")).cast("double")
    fp = (F.col("n_tot") - F.col("neg_below")).cast("double")
    terms = cum.crossJoin(F.broadcast(tot)).select(
        "p_tot",
        "n_tot",
        F.round(
            F.col("n_pos_s").cast("double") * (tp / (tp + fp)) * F.lit(1.0e9), 0
        )
        .cast("long")
        .alias("t_q"),
    )
    agg = terms.groupBy("p_tot", "n_tot").agg(F.sum("t_q").alias("sq"))
    return agg.select(
        F.col("p_tot").alias("n_pos"),
        F.col("n_tot").alias("n_neg"),
        floor_round(
            F.col("p_tot").cast("double")
            / (F.col("p_tot") + F.col("n_tot")).cast("double"),
            6,
        ).alias("prevalence"),
        floor_round(
            F.col("sq").cast("double")
            / F.lit(1.0e9)
            / F.col("p_tot").cast("double"),
            6,
        ).alias("pr_auc"),
    )


ORACLE_NB_PR_AUC = _NB_MODEL_CTES + """
sc AS (
  SELECT s.doc_id, s.true_lang, s.m_lang, s.ll + p.p AS score
  FROM scored s JOIN prior p ON p.m_lang = s.m_lang
), pos AS (
  SELECT doc_id, CASE WHEN true_lang = 'en' THEN 1 ELSE 0 END AS is_pos,
         score AS s_pos
  FROM sc WHERE m_lang = 'en'
), oth AS (
  SELECT doc_id, MAX(score) AS s_oth FROM sc WHERE m_lang <> 'en' GROUP BY 1
), st AS (
  SELECT p.is_pos, CAST(p.s_pos - o.s_oth AS BIGINT) AS stat
  FROM pos p JOIN oth o USING (doc_id)
), per AS (
  SELECT stat, SUM(is_pos) AS n_pos_s, SUM(1 - is_pos) AS n_neg_s
  FROM st GROUP BY 1
), cum AS (
  SELECT n_pos_s,
         COALESCE(SUM(n_pos_s) OVER (
           ORDER BY stat ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS pos_below,
         COALESCE(SUM(n_neg_s) OVER (
           ORDER BY stat ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS neg_below
  FROM per
), tot AS (
  SELECT CAST(SUM(n_pos_s) AS BIGINT) AS p_tot,
         CAST(SUM(n_neg_s) AS BIGINT) AS n_tot
  FROM per
), terms AS (
  SELECT p_tot, n_tot,
         CAST(ROUND(CAST(n_pos_s AS DOUBLE)
                    * (CAST(p_tot - pos_below AS DOUBLE)
                       / (CAST(p_tot - pos_below AS DOUBLE)
                          + CAST(n_tot - neg_below AS DOUBLE)))
                    * 1000000000.0, 0) AS BIGINT) AS t_q
  FROM cum CROSS JOIN tot
), agg AS (
  SELECT p_tot, n_tot, SUM(t_q) AS sq FROM terms GROUP BY 1, 2
)
SELECT p_tot AS n_pos, n_tot AS n_neg,
       sign(CAST(p_tot AS DOUBLE) / CAST(p_tot + n_tot AS DOUBLE))
         * floor(abs(CAST(p_tot AS DOUBLE) / CAST(p_tot + n_tot AS DOUBLE))
                 * 1000000.0 + 0.5) / 1000000.0 AS prevalence,
       sign(CAST(sq AS DOUBLE) / 1000000000.0 / CAST(p_tot AS DOUBLE))
         * floor(abs(CAST(sq AS DOUBLE) / 1000000000.0 / CAST(p_tot AS DOUBLE))
                 * 1000000.0 + 0.5) / 1000000.0 AS pr_auc
FROM agg
"""


ORACLE_NB_AUC_ROC = _NB_MODEL_CTES + """
sc AS (
  SELECT s.doc_id, s.true_lang, s.m_lang, s.ll + p.p AS score
  FROM scored s JOIN prior p ON p.m_lang = s.m_lang
), pos AS (
  SELECT doc_id, CASE WHEN true_lang = 'en' THEN 1 ELSE 0 END AS is_pos,
         score AS s_pos
  FROM sc WHERE m_lang = 'en'
), oth AS (
  SELECT doc_id, MAX(score) AS s_oth FROM sc WHERE m_lang <> 'en' GROUP BY 1
), st AS (
  SELECT p.is_pos, CAST(p.s_pos - o.s_oth AS BIGINT) AS stat
  FROM pos p JOIN oth o USING (doc_id)
), per AS (
  SELECT stat, SUM(is_pos) AS n_pos_s, SUM(1 - is_pos) AS n_neg_s
  FROM st GROUP BY 1
), cum AS (
  SELECT n_pos_s, n_neg_s,
         COALESCE(SUM(n_neg_s) OVER (
           ORDER BY stat ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS neg_below
  FROM per
), agg AS (
  SELECT CAST(SUM(n_pos_s) AS BIGINT) AS n_pos,
         CAST(SUM(n_neg_s) AS BIGINT) AS n_neg,
         SUM(CAST(n_pos_s AS HUGEINT) * neg_below) AS conc,
         SUM(CAST(n_pos_s AS HUGEINT) * n_neg_s) AS tied
  FROM cum
)
SELECT n_pos, n_neg,
       CAST(conc AS BIGINT) AS n_concordant,
       CAST(tied AS BIGINT) AS n_tied,
       ROUND((2.0 * CAST(conc AS DOUBLE) + CAST(tied AS DOUBLE))
             / (2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE)), 6) AS auc
FROM agg
"""


# --------------------- exact substring duplication (Lee et al. 2021)


def substring_dup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-duplication accounting ("Deduplicating Training
    Data Makes Language Models Better", Lee et al. 2021, at token-gram
    granularity): a doc position is DUPLICATED if its 8-token gram
    occurs anywhere else in the corpus (including elsewhere in the
    same doc — boilerplate repeats internally too). Per language:
    docs, macro-averaged duplicated-gram fraction, and docs that are
    majority-duplicate (the removal candidates).

    Plan: one explode to (doc, gram-md5) — positions × 1 row, the
    inherent cost of exact-substring analysis — then TWO aggregations
    and a doc-sized join, never a corpus-sized join back: a gram with
    global count 1 has exactly ONE owning doc (min(doc_id) IS that
    owner), so per-doc duplicated grams = n_grams − n_unique_owned.
    This replaces the grams⋈occurrence-counts join of the naive plan
    (the gram table is the big thing; joining it to itself-sized
    output doubles the shuffle). No self-join, no pair expansion, no
    quadratic candidate step to cap. The macro-average uses the
    micro-unit decimal path (_precision.py) so the double ratios sum
    order-independently."""
    from data_ingestion_project_spark.queries._precision import dec_avg

    k = 8
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", "lang", F.split(F.lower(F.trim("text")), r"\s+").alias("ts")
    )
    n = F.size("ts")
    grams = toks.filter(n >= k).select(
        "doc_id",
        "lang",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), n - (k - 1)),
                lambda i: F.md5(F.array_join(F.slice("ts", i, k), " ")),
            )
        ).alias("g"),
    )
    # per-doc gram totals are a pure LENGTH projection (size − k + 1):
    # deriving them from `grams` re-ran the whole explode + 27 M md5
    # pass a second time — measured 2× the query at the sf10 decade
    totals = toks.filter(n >= k).select(
        "doc_id", "lang", (n - (k - 1)).cast("long").alias("n_grams")
    )
    uniq_owned = (
        grams.groupBy("g")
        .agg(F.count(F.lit(1)).alias("n_occ"), F.min("doc_id").alias("doc_id"))
        .filter(F.col("n_occ") == 1)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_unique"))
    )
    per_doc = (
        totals.join(uniq_owned, "doc_id", "left")
        .withColumn(
            "n_dup", F.col("n_grams") - F.coalesce("n_unique", F.lit(0))
        )
        .withColumn("dup_frac", F.col("n_dup") / F.col("n_grams"))
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            dec_avg(F.col("dup_frac"), 4).alias("avg_dup_frac"),
            F.sum((F.col("dup_frac") >= 0.5).cast("long")).alias("n_majority_dup"),
        )
        .orderBy("lang")
    )


from data_ingestion_project_spark.queries._precision import sql_dec_avg  # noqa: E402

ORACLE_SUBSTRING_DUP_STATS = f"""
WITH toks AS (
  SELECT doc_id, lang,
         string_split_regex(lower(trim(text)), '\\s+') AS ts
  FROM documents
), grams AS (
  SELECT doc_id, lang,
         md5(array_to_string(ts[i : i + 7], ' ')) AS g
  FROM (
    SELECT doc_id, lang, ts,
           unnest(range(1, len(ts) - 8 + 2)) AS i
    FROM toks WHERE len(ts) >= 8
  ) t
), occ AS (
  SELECT g, COUNT(*) AS n_occ FROM grams GROUP BY g
), per_doc AS (
  SELECT doc_id, lang, COUNT(*) AS n_grams,
         CAST(SUM(CASE WHEN n_occ >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
  FROM grams JOIN occ USING (g)
  GROUP BY 1, 2
)
SELECT lang, COUNT(*) AS n_docs,
       {sql_dec_avg('n_dup * 1.0 / n_grams', 4)} AS avg_dup_frac,
       CAST(SUM(CASE WHEN n_dup * 1.0 / n_grams >= 0.5 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_majority_dup
FROM per_doc GROUP BY lang ORDER BY lang
"""



def exact_substring_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT substring-duplication census via prefix-doubling suffix
    ranks (operators/suffix_ranks) — the certification twin of
    ``substring_dup_stats``: that census decides "position starts a
    duplicated 8-token run" by hashing fixed 8-grams; this one derives
    the same predicate from suffix ranks (best-neighbor LCP ≥ 8 in
    suffix order) AND reports what fixed grams cannot see — the exact
    longest repeated token run per language (capped at 64 tokens).
    Agreement between the two formulations is structural (an 8-gram
    occurs twice ⟺ two suffixes share an 8-token prefix), so the
    driver certifying both against independent oracles pins the whole
    substring-dedup family end to end; the per-position equivalence is
    additionally asserted in pytest (planted-duplicate fixtures).

    Plan: log2(64) doubling rounds + log2(64) LCP-descent joins, all
    fixed-width integer shuffles; rank assignment and suffix-order
    numbering use range partitioning + partition-count-sized offset
    frames — no unpartitioned data-sized window anywhere (the DuckDB
    oracle instead sorts truncated 64-token suffix arrays, which ships
    cap× the corpus through its sort: exactly the cost the rank ladder
    avoids at scale)."""
    from data_ingestion_project_spark.operators.suffix_ranks import (
        best_lcp_per_position,
        suffix_rank_tables,
    )

    d = table(spark, sf_dir, "documents")
    docs = d.select(
        "doc_id", "lang", F.split(F.lower(F.trim("text")), r"\s+").alias("ts")
    )
    ranks, meta = suffix_rank_tables(spark, docs, cap=64)
    best = best_lcp_per_position(spark, ranks, cap=64)
    per_pos = meta.join(best, "pos", "left").withColumn(
        "best_lcp", F.coalesce("best_lcp", F.lit(0))
    )
    valid = F.col("n_remaining") >= 8
    return (
        per_pos.groupBy("lang")
        .agg(
            F.sum(valid.cast("long")).alias("n_positions"),
            F.sum((valid & (F.col("best_lcp") >= 8)).cast("long")).alias("n_dup8"),
            F.max("best_lcp").alias("max_repeat_len"),
        )
        .withColumn("dup_frac", F.round(F.col("n_dup8") / F.col("n_positions"), 6))
        .select("lang", "n_positions", "n_dup8", "dup_frac", "max_repeat_len")
        .orderBy("lang")
    )


ORACLE_EXACT_SUBSTRING_CENSUS = """
WITH toks AS (
  SELECT doc_id, lang, string_split_regex(lower(trim(text)), '\\s+') AS ts
  FROM documents
), pos AS (
  SELECT doc_id, lang, len(ts) AS n, ts, unnest(range(1, len(ts) + 1)) AS i
  FROM toks
), arrs AS (
  SELECT doc_id, i, lang, n - i + 1 AS n_remaining,
         ts[i : least(i + 63, n)] AS arr
  FROM pos
), adj AS (
  -- (doc_id, i) tiebreaker makes the order TOTAL: the two windows
  -- (this lag, best's lead) must pair identical rows, and with bare
  -- ORDER BY arr the tie groups may be permuted independently
  SELECT doc_id, i, lang, n_remaining, arr,
         lag(arr) OVER (ORDER BY arr, doc_id, i) AS prev
  FROM arrs
), lcp1 AS (
  SELECT doc_id, i, lang, n_remaining, arr,
         CASE WHEN prev IS NULL THEN 0 ELSE
           COALESCE(
             NULLIF(
               list_position(
                 list_transform(range(1, least(len(arr), len(prev)) + 1),
                                i -> arr[i] = prev[i]),
                 false),
               0) - 1,
             least(len(arr), len(prev)))
         END AS lcp_prev
  FROM adj
), best AS (
  SELECT lang, n_remaining,
         GREATEST(lcp_prev,
                  COALESCE(LEAD(lcp_prev) OVER (ORDER BY arr, doc_id, i), 0))
           AS best_lcp
  FROM lcp1
)
SELECT lang,
       CAST(SUM(CASE WHEN n_remaining >= 8 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_positions,
       CAST(SUM(CASE WHEN n_remaining >= 8 AND best_lcp >= 8 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_dup8,
       ROUND(SUM(CASE WHEN n_remaining >= 8 AND best_lcp >= 8 THEN 1 ELSE 0 END)
             * 1.0
             / SUM(CASE WHEN n_remaining >= 8 THEN 1 ELSE 0 END), 6) AS dup_frac,
       MAX(best_lcp) AS max_repeat_len
FROM best
GROUP BY lang
ORDER BY lang
"""


def longest_repeat_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXTRACT the longest repeated token run per language — the
    boilerplate string itself, not just its length: the artifact a
    dedup engineer actually pastes into a filter rule.  Fixed grams
    cannot answer this at all; the suffix-rank ladder answers it with
    two aggregations on top of the census machinery (per-lang max
    best_lcp, then min-position witness among the achievers, then one
    doc-keyed join to slice the tokens out).

    Deterministic across engines: the witness is the SMALLEST global
    position achieving the per-lang maximum (position arithmetic is
    shared with the oracle), and the per-position best_lcp values are
    engine-identical (certified by exact_substring_census).  Capped at
    64 tokens like the census."""
    from data_ingestion_project_spark.operators.suffix_ranks import (
        best_lcp_per_position,
        suffix_rank_tables,
    )

    d = table(spark, sf_dir, "documents")
    docs = d.select(
        "doc_id", "lang", F.split(F.lower(F.trim("text")), r"\s+").alias("ts")
    )
    ranks, meta = suffix_rank_tables(spark, docs, cap=64)
    best = best_lcp_per_position(spark, ranks, cap=64)
    per_pos = meta.join(best, "pos", "left").withColumn(
        "best_lcp", F.coalesce("best_lcp", F.lit(0))
    )
    mx = per_pos.groupBy("lang").agg(F.max("best_lcp").alias("repeat_len"))
    winners = (
        per_pos.join(F.broadcast(mx), "lang")
        .filter(F.col("best_lcp") == F.col("repeat_len"))
        .groupBy("lang", "repeat_len")
        .agg(
            F.min("pos").alias("__win_pos"),
            F.count(F.lit(1)).alias("n_at_max"),
        )
    )
    coords = meta.select("pos", F.col("doc_id").alias("__doc"), "doc_pos")
    return (
        winners.join(coords, winners["__win_pos"] == coords["pos"])
        .join(docs.select(F.col("doc_id").alias("__doc"), "ts"), "__doc")
        .select(
            "lang",
            F.col("repeat_len").cast("int").alias("repeat_len"),
            "n_at_max",
            F.array_join(
                F.slice("ts", F.col("doc_pos") + 1, F.col("repeat_len")), " "
            ).alias("repeat_text"),
        )
        .orderBy("lang")
    )


ORACLE_LONGEST_REPEAT_EXTRACT = """
WITH toks AS (
  SELECT doc_id, lang, string_split_regex(lower(trim(text)), '\\s+') AS ts
  FROM documents
), stride AS (
  SELECT MAX(len(ts)) + 64 + 2 AS s FROM toks
), pos AS (
  SELECT doc_id, lang, len(ts) AS n, ts, unnest(range(1, len(ts) + 1)) AS i
  FROM toks
), arrs AS (
  SELECT doc_id, i, lang,
         doc_id * (SELECT s FROM stride) + (i - 1) AS gpos,
         ts[i : least(i + 63, n)] AS arr
  FROM pos
), adj AS (
  SELECT doc_id, i, lang, gpos, arr,
         lag(arr) OVER (ORDER BY arr, doc_id, i) AS prev
  FROM arrs
), lcp1 AS (
  SELECT doc_id, i, lang, gpos, arr,
         CASE WHEN prev IS NULL THEN 0 ELSE
           COALESCE(
             NULLIF(
               list_position(
                 list_transform(range(1, least(len(arr), len(prev)) + 1),
                                i -> arr[i] = prev[i]),
                 false),
               0) - 1,
             least(len(arr), len(prev)))
         END AS lcp_prev
  FROM adj
), best AS (
  SELECT lang, gpos, arr,
         GREATEST(lcp_prev,
                  COALESCE(LEAD(lcp_prev) OVER (ORDER BY arr, doc_id, i), 0))
           AS best_lcp
  FROM lcp1
), mx AS (
  SELECT lang, MAX(best_lcp) AS repeat_len FROM best GROUP BY lang
), winners AS (
  SELECT b.lang, m.repeat_len,
         MIN(b.gpos) AS win_pos,
         COUNT(*) AS n_at_max
  FROM best b JOIN mx m ON b.lang = m.lang AND b.best_lcp = m.repeat_len
  GROUP BY b.lang, m.repeat_len
)
SELECT w.lang,
       CAST(w.repeat_len AS INT) AS repeat_len,
       w.n_at_max,
       array_to_string(b.arr[1 : w.repeat_len], ' ') AS repeat_text
FROM winners w JOIN best b ON b.lang = w.lang AND b.gpos = w.win_pos
ORDER BY w.lang
"""


def compression_ratio_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compression-ratio quality census - the deflate-ratio heuristic
    production web pipelines run alongside the Gopher rules: highly
    repetitive text (boilerplate, looped spans, keyword stuffing)
    compresses far below natural prose, so ratio = deflated_bytes /
    raw_bytes is a cheap single-pass quality signal. Computed with
    stdlib zlib level 6 inside ONE Arrow mapInPandas stage (the
    documented Python seam - there is no JVM/SQL deflate, which is
    also why this is a rows-only query: DuckDB cannot replay deflate;
    the discriminative floor is pinned in pytest instead).

    Dirt is planted in-query (the repo idiom): every 13th doc becomes
    one word repeated - those must land in the flagged (< 0.35) band.
    Per language: docs, flagged count, mean ratio in integer
    micro-units (exact integer aggregation, no float drift in the
    rows-only count check).

    Plan: scan -> planted projection -> one Arrow batch stage emitting
    (lang, ratio_micro) -> single partial-agg shuffle on lang."""
    import pandas as _pd
    import zlib as _zlib

    d = table(spark, sf_dir, "documents")
    planted = d.select(
        "lang",
        F.when(
            F.col("doc_id") % 13 == 0,
            F.concat(F.lit("repeat "), F.expr("repeat('spam ', 80)")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )

    def _ratio(batches):
        for pdf in batches:
            raw = [t.encode("utf-8") for t in pdf["text"]]
            yield _pd.DataFrame(
                {
                    "lang": pdf["lang"],
                    "ratio_micro": _pd.Series(
                        [
                            (len(_zlib.compress(b, 6)) * 1_000_000) // max(len(b), 1)
                            for b in raw
                        ],
                        index=pdf.index,
                        dtype="int64",
                    ),
                }
            )

    # r12: fan the zlib stage out to the session cores — one scan task
    # otherwise compresses every document serially.  r13: conditional
    # (operators/fanout) — a well-split input skips the Exchange
    ratios = fanout_to_cores(planted).mapInPandas(
        _ratio, schema="lang string, ratio_micro long"
    )
    return (
        ratios.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("ratio_micro") < 350_000).cast("long")).alias("n_flagged"),
            (F.sum("ratio_micro") / F.count(F.lit(1))).cast("long").alias(
                "mean_ratio_micro"
            ),
        )
        .orderBy("lang")
    )

_DELTA_TOPK = 40
_DELTA_FQ = 1_000_000_000  # relative word frequency quantized to 1e-9
_DELTA_ZQ = 100_000_000  # z-scores quantized to 1e-8


def source_stylometry_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burrows's Delta stylometric distance between corpus sources:
    z-score the per-source relative frequencies of the top-K corpus
    words, then Delta(s1, s2) = mean |z1 − z2| over those words — the
    standard authorship-attribution measure, here answering "which
    sources write alike" (mirrored scrapes, shared boilerplate, same
    upstream generator) where the DEDUP families answer "which share
    content".  Top-15 most-similar pairs.

    Plan: ONE explode pass map-side-combines to the (source, word)
    count frame; everything after runs on frames bounded by
    |sources| × K (the dense matrix is a broadcast cross join of the
    20-row source list with the TakeOrdered top-K word list, left-
    joined so absent words count 0 — skipping that densification
    silently biases μ/σ).  Corpus-size-independent past the first agg.

    Exactness: relative frequencies quantize to integer 1e-9 at their
    single division; μ/σ derive from exact integer sums (squares in
    DECIMAL); each z-score quantizes to integer 1e-8 at its single
    (f−μ)/σ expression; pair distances are exact integer |z| sums.
    σ = 0 words (identical share everywhere) are excluded and the
    divisor is the retained-word count K_eff."""
    d = table(spark, sf_dir, "documents")
    words = d.select(
        "source",
        F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("word"),
    ).filter(F.col("word") != "")
    counts = words.groupBy("source", "word").agg(F.count(F.lit(1)).alias("c"))
    counts = pin(counts)
    tot = counts.groupBy("source").agg(F.sum("c").alias("t"))
    topk = (
        counts.groupBy("word")
        .agg(F.sum("c").alias("g"))
        .orderBy(F.col("g").desc(), F.col("word").asc())
        .limit(_DELTA_TOPK)
        .select("word")
    )
    dense = pin(
        tot.crossJoin(F.broadcast(topk))
        .join(counts, ["source", "word"], "left")
        .select(
            "source",
            "word",
            (
                F.coalesce(F.col("c"), F.lit(0)).cast("double")
                / F.col("t").cast("double")
                * F.lit(float(_DELTA_FQ))
            )
            .cast("long")
            .alias("f_q"),
        )
    )
    stats = dense.groupBy("word").agg(
        F.count(F.lit(1)).alias("ns"),
        F.sum("f_q").alias("sf"),
        F.sum((F.col("f_q") * F.col("f_q")).cast("decimal(28,0)")).alias("sf2"),
    )
    nsd = F.col("ns").cast("double")
    mu = F.col("sf").cast("double") / nsd
    var = (
        F.col("sf2").cast("double")
        - F.col("sf").cast("double") * F.col("sf").cast("double") / nsd
    ) / (nsd - F.lit(1.0))
    z = (
        dense.join(F.broadcast(stats), "word")
        .filter(F.col("sf2").cast("double") * nsd
                != F.col("sf").cast("double") * F.col("sf").cast("double"))
        .select(
            "source",
            "word",
            (
                (F.col("f_q").cast("double") - mu)
                / F.sqrt(var)
                * F.lit(float(_DELTA_ZQ))
            )
            .cast("long")
            .alias("z_q"),
        )
    )
    a, b = z.alias("a"), z.alias("b")
    return (
        a.join(
            b,
            (F.col("a.word") == F.col("b.word"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"), F.col("b.source").alias("source_b")
        )
        .agg(
            F.count(F.lit(1)).alias("k_eff"),
            F.sum(F.abs(F.col("a.z_q") - F.col("b.z_q"))).alias("sz"),
        )
        .select(
            "source_a",
            "source_b",
            F.col("k_eff").cast("long").alias("k_eff"),
            floor_round(
                F.col("sz").cast("double")
                / F.col("k_eff").cast("double")
                / F.lit(float(_DELTA_ZQ)),
                6,
            ).alias("delta"),
        )
        .orderBy(F.col("delta").asc(), "source_a", "source_b")
        .limit(15)
    )


ORACLE_SOURCE_STYLOMETRY_DELTA = f"""
WITH words AS (
  SELECT source, w AS word
  FROM documents,
       unnest(string_split_regex(lower(trim(text)), '\\s+')) AS t(w)
  WHERE w <> ''
), counts AS (
  SELECT source, word, COUNT(*) AS c FROM words GROUP BY 1, 2
), tot AS (SELECT source, SUM(c) AS t FROM counts GROUP BY 1),
topk AS (
  SELECT word FROM (
    SELECT word, SUM(c) AS g FROM counts GROUP BY 1
    ORDER BY g DESC, word ASC LIMIT {_DELTA_TOPK}
  )
), dense AS (
  SELECT tt.source, k.word,
         CAST(trunc(CAST(COALESCE(c.c, 0) AS DOUBLE) / CAST(tt.t AS DOUBLE)
                    * {_DELTA_FQ}.0) AS BIGINT) AS f_q
  FROM tot tt CROSS JOIN topk k
  LEFT JOIN counts c ON c.source = tt.source AND c.word = k.word
), stats AS (
  SELECT word, COUNT(*) AS ns, SUM(f_q) AS sf, SUM(f_q * f_q) AS sf2
  FROM dense GROUP BY 1
), z AS (
  SELECT d.source, d.word,
         CAST(trunc((CAST(d.f_q AS DOUBLE) - CAST(s.sf AS DOUBLE) / CAST(s.ns AS DOUBLE))
                    / sqrt((CAST(s.sf2 AS DOUBLE)
                            - CAST(s.sf AS DOUBLE) * CAST(s.sf AS DOUBLE)
                              / CAST(s.ns AS DOUBLE))
                           / (CAST(s.ns AS DOUBLE) - 1.0))
                    * {_DELTA_ZQ}.0) AS BIGINT) AS z_q
  FROM dense d JOIN stats s USING (word)
  WHERE CAST(s.sf2 AS DOUBLE) * CAST(s.ns AS DOUBLE)
        <> CAST(s.sf AS DOUBLE) * CAST(s.sf AS DOUBLE)
)
SELECT source_a, source_b, k_eff,
       sign(dl) * floor(abs(dl) * 1000000.0 + 0.5) / 1000000.0 AS delta
FROM (
  SELECT a.source AS source_a, b.source AS source_b,
         CAST(COUNT(*) AS BIGINT) AS k_eff,
         CAST(SUM(abs(a.z_q - b.z_q)) AS DOUBLE)
           / CAST(COUNT(*) AS DOUBLE) / {_DELTA_ZQ}.0 AS dl
  FROM z a JOIN z b ON a.word = b.word AND a.source < b.source
  GROUP BY 1, 2
) p
ORDER BY delta ASC, source_a, source_b
LIMIT 15
"""


def pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-15 word COLLOCATIONS by document-level pointwise mutual
    information: PMI(w1,w2) = ln(N·c12 / (df1·df2)) over per-document
    DISTINCT word sets — the classic distributional-semantics
    association score (Church & Hanks), the signal a phrase-mining /
    tokenizer-vocabulary pass uses to decide which word pairs deserve
    a merged token, next to the raw-frequency view in
    bigram_logprob_buckets (which scores ADJACENT pairs; this scores
    co-presence anywhere in the document).

    Plan: each doc's sorted distinct word array expands its i<j pairs
    through ONE codegen'd nested-transform + explode (the
    covariance_cells triangle shape — no self-join); pair counts and
    word document frequencies are two map-side-combined shuffles over
    vocabulary-sized key spaces; PMI arithmetic and the top-15 run on
    the pair-vocabulary frame. Per-doc expansion is C(distinct,2) —
    bounded by per-doc vocabulary, not corpus size; a 100 TB run
    bounds it the way the suffix census bounds grams (min-df prune of
    the word set BEFORE pairing, dropping hapax words that cannot
    reach a reportable PMI).

    Exactness: counts are exact integers; the single ln is quantized
    to 1e-4 immediately (bigram_logprob idiom) with its argument
    spelled as the identical cast-first double expression in both
    engines."""
    d = table(spark, sf_dir, "documents")
    dw = pin(d.select(
        F.array_remove(
            F.array_sort(
                F.array_distinct(F.split(F.lower(F.trim("text")), r"\s+"))
            ),
            "",
        ).alias("w")
    ))
    pairs = (
        dw.filter(F.size("w") >= 2)  # sequence(0,-1) guard (bpe lesson)
        .select(
            F.explode(
                F.flatten(
                    F.transform(
                        F.sequence(F.lit(0), F.size("w") - 2),
                        lambda i: F.transform(
                            F.sequence(i + 1, F.size("w") - 1),
                            lambda j: F.struct(
                                F.element_at("w", i + 1).alias("w1"),
                                F.element_at("w", j + 1).alias("w2"),
                            ),
                        ),
                    )
                )
            ).alias("pr")
        )
        .groupBy("pr.w1", "pr.w2")
        .agg(F.count(F.lit(1)).alias("c12"))
    )
    df = (
        dw.select(F.explode("w").alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("dfc"))
    )
    nn = dw.agg(F.count(F.lit(1)).alias("n"))
    arg = (F.col("n").cast("double") * F.col("c12").cast("double")) / (
        F.col("df1").cast("double") * F.col("df2").cast("double")
    )
    # df joins carry no broadcast hint: the word-frequency frame is
    # VOCABULARY-sized (fine to broadcast here, potentially hundreds
    # of MB on a web-scale corpus) — AQE picks broadcast when it fits,
    # the dup_cluster_density rule
    scored = (
        pairs.join(
            df.select(F.col("word").alias("w1"), F.col("dfc").alias("df1")), "w1"
        )
        .join(
            df.select(F.col("word").alias("w2"), F.col("dfc").alias("df2")), "w2"
        )
        .crossJoin(F.broadcast(nn))
        .select(
            "w1",
            "w2",
            "c12",
            "df1",
            "df2",
            (F.round(F.log(arg) * 10000, 0).cast("long").cast("double") / 10000.0).alias(
                "pmi"
            ),
        )
    )
    return scored.orderBy(
        F.col("pmi").desc(), F.col("w1").asc(), F.col("w2").asc()
    ).limit(15)


ORACLE_PMI_COLLOCATIONS = """
WITH dw AS (
  SELECT doc_id,
         list_sort(list_distinct(string_split_regex(lower(trim(text)), '\\s+'))) AS ws
  FROM documents
), dwf AS (
  SELECT doc_id, unnest(ws) AS w FROM dw
), dwx AS (SELECT doc_id, w FROM dwf WHERE w <> ''),
pairs AS (
  SELECT a.w AS w1, b.w AS w2, COUNT(*) AS c12
  FROM dwx a JOIN dwx b ON a.doc_id = b.doc_id AND a.w < b.w
  GROUP BY 1, 2
), df AS (SELECT w, COUNT(*) AS dfc FROM dwx GROUP BY w),
nn AS (SELECT COUNT(*) AS n FROM dw)
SELECT w1, w2, c12, d1.dfc AS df1, d2.dfc AS df2,
       CAST(CAST(ROUND(ln((CAST(nn.n AS DOUBLE) * CAST(c12 AS DOUBLE))
                          / (CAST(d1.dfc AS DOUBLE) * CAST(d2.dfc AS DOUBLE)))
                       * 10000, 0) AS BIGINT) AS DOUBLE) / 10000.0 AS pmi
FROM pairs
JOIN df d1 ON d1.w = pairs.w1
JOIN df d2 ON d2.w = pairs.w2
CROSS JOIN nn
ORDER BY pmi DESC, w1 ASC, w2 ASC
LIMIT 15
"""


def text_readability_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease census per language — the classic
    readability heuristic as a corpus-quality facet next to
    doc_quality's length/punct ratios: per document, words (whitespace
    tokens), sentences (runs of [.!?], floored at 1), syllables (runs
    of [aeiouy] in the lowercased text — the standard vowel-group
    approximation, counted text-level so whitespace breaks groups),
    then Flesch = 206.835 − 1.015·(words/sentences) −
    84.6·(syllables/words); per language the exact micro-quantized
    means of the three per-doc statistics.

    Scale: map-only regexp counting into a lang-keyed aggregate — one
    pass, one small shuffle. Exactness: the per-doc ratios are
    value-determined doubles micro-truncated to int64 per doc and
    folded exactly; regex classes are engine-portable by construction
    (plain character classes, no \\w/\\b semantics to disagree on)."""
    d = table(spark, sf_dir, "documents")
    low = F.lower(F.trim("text"))
    words = F.size(F.array_remove(F.split(low, r"\s+"), ""))
    sents = F.greatest(F.lit(1), F.size(F.regexp_extract_all(F.col("text"), F.lit(r"[.!?]+"), F.lit(0))))
    sylls = F.size(F.regexp_extract_all(low, F.lit(r"[aeiouy]+"), F.lit(0)))
    wps = words.cast("double") / sents.cast("double")
    spw = sylls.cast("double") / words.cast("double")
    flesch = (
        F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * spw
    )
    per = d.filter(words > 0).select(
        "lang",
        (wps * F.lit(1000000.0)).cast("long").alias("wps_i"),
        (spw * F.lit(1000000.0)).cast("long").alias("spw_i"),
        (flesch * F.lit(1000000.0)).cast("long").alias("fl_i"),
    )
    g = per.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("wps_i").cast("decimal(28,0)")).alias("s_wps"),
        F.sum(F.col("spw_i").cast("decimal(28,0)")).alias("s_spw"),
        F.sum(F.col("fl_i").cast("decimal(28,0)")).alias("s_fl"),
    )
    n_d = F.col("n_docs").cast("double")
    return g.select(
        "lang",
        "n_docs",
        floor_round(F.col("s_wps").cast("double") / n_d / F.lit(1.0e6), 4).alias(
            "avg_words_per_sentence"
        ),
        floor_round(F.col("s_spw").cast("double") / n_d / F.lit(1.0e6), 4).alias(
            "avg_syllables_per_word"
        ),
        floor_round(F.col("s_fl").cast("double") / n_d / F.lit(1.0e6), 4).alias(
            "avg_flesch"
        ),
    ).orderBy("lang")


ORACLE_TEXT_READABILITY_SCORES = """
WITH per AS (
  SELECT lang,
         CAST(trunc((CAST(w AS DOUBLE) / CAST(s AS DOUBLE)) * 1000000.0)
              AS BIGINT) AS wps_i,
         CAST(trunc((CAST(y AS DOUBLE) / CAST(w AS DOUBLE)) * 1000000.0)
              AS BIGINT) AS spw_i,
         CAST(trunc((206.835
                     - 1.015 * (CAST(w AS DOUBLE) / CAST(s AS DOUBLE))
                     - 84.6 * (CAST(y AS DOUBLE) / CAST(w AS DOUBLE)))
                    * 1000000.0) AS BIGINT) AS fl_i
  FROM (
    SELECT lang,
           len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                           x -> x <> '')) AS w,
           greatest(1, len(regexp_extract_all(text, '[.!?]+'))) AS s,
           len(regexp_extract_all(lower(trim(text)), '[aeiouy]+')) AS y
    FROM documents
  ) t
  WHERE w > 0
)
SELECT lang, COUNT(*) AS n_docs,
       sign(CAST(SUM(wps_i) AS DOUBLE) / COUNT(*) / 1000000.0)
       * floor(abs(CAST(SUM(wps_i) AS DOUBLE) / COUNT(*) / 1000000.0)
              * 10000.0 + 0.5) / 10000.0 AS avg_words_per_sentence,
       sign(CAST(SUM(spw_i) AS DOUBLE) / COUNT(*) / 1000000.0)
       * floor(abs(CAST(SUM(spw_i) AS DOUBLE) / COUNT(*) / 1000000.0)
              * 10000.0 + 0.5) / 10000.0 AS avg_syllables_per_word,
       sign(CAST(SUM(fl_i) AS DOUBLE) / COUNT(*) / 1000000.0)
       * floor(abs(CAST(SUM(fl_i) AS DOUBLE) / COUNT(*) / 1000000.0)
              * 10000.0 + 0.5) / 10000.0 AS avg_flesch
FROM per GROUP BY lang ORDER BY lang
"""


def chao1_vocab_richness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Species-richness estimation of each source's BIGRAM vocabulary:
    Chao1 (how many distinct bigrams does the source's true
    distribution hold, including ones this sample never produced?) and
    the Good-Turing unseen-mass estimate f1/N (what probability does
    the next sampled bigram have of being NEW?) — the coverage
    question a corpus curator asks before declaring a source
    exhausted, and the smoothing mass every language model assigns to
    unseen events. Unigrams are deliberately not used: this corpus's
    ~31-word vocabulary saturates per source (f1 ~ 0), while the
    bigram space is genuinely open (f1 ~ 300 per source at sf0.01).

    Plan: bigrams from ONE JVM expression per doc (the
    bigram_logprob_buckets arrays_zip-of-slices idiom — no positional
    self-join), one (source, bigram) partial-agg shuffle, then the
    frequency-of-frequencies profile per source is a ≤|sources|-sized
    frame. Exactness: V, f1, f2, N are exact integers; the Chao1
    bias-corrected form V + f1(f1-1)/(2(f2+1)) and coverage are
    value-determined double expressions (f2=0-safe by construction).
    Reference parity: n/a (SURVEY.md §2 marks all analytics absent);
    north-star corpus-statistics component."""
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "source", F.split(F.lower(F.trim("text")), r"\s+").alias("a")
    ).withColumn("n", F.size("a"))
    bigrams = (
        toks.filter(F.col("n") >= 2)
        .select(
            "source",
            F.explode(
                F.arrays_zip(
                    F.slice("a", 1, F.col("n") - 1).alias("w1"),
                    F.slice("a", 2, F.col("n") - 1).alias("w2"),
                )
            ).alias("p"),
        )
        .select(
            "source", F.concat_ws(" ", F.col("p.w1"), F.col("p.w2")).alias("bg")
        )
    )
    counts = bigrams.groupBy("source", "bg").agg(F.count(F.lit(1)).alias("c"))
    per = counts.groupBy("source").agg(
        F.sum("c").alias("n_bigrams"),
        F.count(F.lit(1)).alias("vocab"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).alias("f1"),
        F.sum(F.when(F.col("c") == 2, 1).otherwise(0)).alias("f2"),
    )
    f1d = F.col("f1").cast("double")
    chao1 = F.col("vocab").cast("double") + f1d * (f1d - F.lit(1.0)) / (
        F.lit(2.0) * (F.col("f2").cast("double") + F.lit(1.0))
    )
    unseen = f1d / F.col("n_bigrams").cast("double")
    return per.select(
        "source",
        F.col("n_bigrams").cast("long").alias("n_bigrams"),
        F.col("vocab").cast("long").alias("vocab"),
        F.col("f1").cast("long").alias("f1"),
        F.col("f2").cast("long").alias("f2"),
        floor_round(chao1, 4).alias("chao1_richness"),
        floor_round(unseen, 6).alias("gt_unseen_mass"),
        floor_round(F.lit(1.0) - unseen, 6).alias("gt_coverage"),
    ).orderBy("source")


ORACLE_CHAO1_VOCAB_RICHNESS = """
WITH toks AS (
  SELECT source, string_split_regex(lower(trim(text)), '\\s+') AS a
  FROM documents
), bigrams AS (
  SELECT source, a[i] || ' ' || a[i + 1] AS bg
  FROM toks, LATERAL (SELECT unnest(range(1, len(a))) AS i) _
  WHERE len(a) >= 2
), counts AS (
  SELECT source, bg, COUNT(*) AS c FROM bigrams GROUP BY 1, 2
), per AS (
  SELECT source, SUM(c) AS n_bigrams, COUNT(*) AS vocab,
         SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS f1,
         SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS f2
  FROM counts GROUP BY 1
)
SELECT source,
       CAST(n_bigrams AS BIGINT) AS n_bigrams,
       CAST(vocab AS BIGINT) AS vocab,
       CAST(f1 AS BIGINT) AS f1,
       CAST(f2 AS BIGINT) AS f2,
       sign(CAST(vocab AS DOUBLE)
            + CAST(f1 AS DOUBLE) * (CAST(f1 AS DOUBLE) - 1.0)
              / (2.0 * (CAST(f2 AS DOUBLE) + 1.0)))
       * floor(abs(CAST(vocab AS DOUBLE)
                   + CAST(f1 AS DOUBLE) * (CAST(f1 AS DOUBLE) - 1.0)
                     / (2.0 * (CAST(f2 AS DOUBLE) + 1.0))) * 10000.0 + 0.5)
         / 10000.0 AS chao1_richness,
       sign(CAST(f1 AS DOUBLE) / CAST(n_bigrams AS DOUBLE))
       * floor(abs(CAST(f1 AS DOUBLE) / CAST(n_bigrams AS DOUBLE))
              * 1000000.0 + 0.5) / 1000000.0 AS gt_unseen_mass,
       sign(1.0 - CAST(f1 AS DOUBLE) / CAST(n_bigrams AS DOUBLE))
       * floor(abs(1.0 - CAST(f1 AS DOUBLE) / CAST(n_bigrams AS DOUBLE))
              * 1000000.0 + 0.5) / 1000000.0 AS gt_coverage
FROM per
ORDER BY source
"""


def ngram_novelty_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diminishing-returns curve of corpus growth: split the corpus
    into 10 arrival tranches (doc_id order — the ingestion proxy) and
    measure, per tranche, how many of its bigram TYPES are genuinely
    NEW versus already seen in earlier tranches. The curve every
    data-acquisition decision reads — when novel-type share flattens,
    more of the same source stops buying model capability (the
    scaling-laws data-curation argument), and it complements
    chao1_vocab_richness (asymptotic estimate) with the measured
    trajectory.

    Plan: tranche = exact integer bucketing of doc_id against the
    broadcast (min, max) span — no window, no ntile; bigrams via the
    arrays_zip idiom; then ONE groupBy(bigram) shuffle producing each
    bigram's first tranche AND its ten per-tranche counts as fixed
    conditional-sum columns — the tranche domain is a constant 10, so
    the pivot costs ten counters per type, and the per-tranche report
    is a second aggregate over the TYPE frame with no corpus-sized
    join anywhere (the original tb⋈first join keyed 10× the rows by
    long bigram strings and measured α=1.27 on the 10× decade; this
    form re-measured α≈1). Everything downstream is 10-row arithmetic
    (cumulative vocabulary via the 10×10 triangle join). Exactness:
    all counts exact integers; the two share columns are one double
    division each."""
    d = table(spark, sf_dir, "documents")
    span = d.agg(F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi"))
    toks = (
        d.crossJoin(F.broadcast(span))
        .select(
            F.least(
                F.lit(9),
                (
                    (F.col("doc_id") - F.col("lo"))
                    * 10
                    / (F.col("hi") - F.col("lo") + 1)
                ).cast("long"),
            ).alias("tranche"),
            F.split(F.lower(F.trim("text")), r"\s+").alias("a"),
        )
        .withColumn("n", F.size("a"))
    )
    bigrams = (
        toks.filter(F.col("n") >= 2)
        .select(
            "tranche",
            F.explode(
                F.arrays_zip(
                    F.slice("a", 1, F.col("n") - 1).alias("w1"),
                    F.slice("a", 2, F.col("n") - 1).alias("w2"),
                )
            ).alias("p"),
        )
        .select("tranche", F.concat_ws(" ", F.col("p.w1"), F.col("p.w2")).alias("bg"))
    )
    per_bg = bigrams.groupBy("bg").agg(
        F.min("tranche").alias("ft"),
        *[
            F.sum(F.when(F.col("tranche") == i, 1).otherwise(0)).alias(f"c{i}")
            for i in range(10)
        ],
    )
    tranche_rows = per_bg.select(
        "ft",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("tranche"), F.col(f"c{i}").alias("c")
                    )
                    for i in range(10)
                ]
            )
        ).alias("p"),
    ).select("ft", F.col("p.tranche").alias("tranche"), F.col("p.c").alias("c"))
    per = pin(
        tranche_rows.filter(F.col("c") > 0)
        .groupBy("tranche")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_types"),
            F.sum(F.when(F.col("ft") == F.col("tranche"), 1).otherwise(0)).alias(
                "n_new_types"
            ),
            F.sum(
                F.when(F.col("ft") == F.col("tranche"), F.col("c")).otherwise(0)
            ).alias("new_tokens"),
        )
    )
    prior = per.select(
        F.col("tranche").alias("t2"), F.col("n_new_types").alias("nn2")
    )
    cum = (
        per.join(F.broadcast(prior), F.col("t2") <= F.col("tranche"))
        .groupBy("tranche", "n_tokens", "n_types", "n_new_types", "new_tokens")
        .agg(F.sum("nn2").alias("cum_vocab"))
    )
    return cum.select(
        F.col("tranche").cast("long").alias("tranche"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_types").cast("long").alias("n_types"),
        F.col("n_new_types").cast("long").alias("n_new_types"),
        floor_round(
            F.col("n_new_types").cast("double") / F.col("n_types").cast("double"), 6
        ).alias("novel_type_share"),
        floor_round(
            F.col("new_tokens").cast("double") / F.col("n_tokens").cast("double"), 6
        ).alias("novel_token_share"),
        F.col("cum_vocab").cast("long").alias("cum_vocab"),
    ).orderBy("tranche")


ORACLE_NGRAM_NOVELTY_DECAY = """
WITH span AS (SELECT MIN(doc_id) AS lo, MAX(doc_id) AS hi FROM documents),
toks AS (
  SELECT least(9, CAST((doc_id - lo) * 10 // (hi - lo + 1) AS BIGINT)) AS tranche,
         string_split_regex(lower(trim(text)), '\\s+') AS a
  FROM documents CROSS JOIN span
), bigrams AS (
  SELECT tranche, a[i] || ' ' || a[i + 1] AS bg
  FROM toks, LATERAL (SELECT unnest(range(1, len(a))) AS i) _
  WHERE len(a) >= 2
), tb AS (
  SELECT tranche, bg, COUNT(*) AS c FROM bigrams GROUP BY 1, 2
), first AS (
  SELECT bg, MIN(tranche) AS first_tranche FROM tb GROUP BY 1
), per AS (
  SELECT tranche, SUM(c) AS n_tokens, COUNT(*) AS n_types,
         SUM(CASE WHEN first_tranche = tranche THEN 1 ELSE 0 END) AS n_new_types,
         SUM(CASE WHEN first_tranche = tranche THEN c ELSE 0 END) AS new_tokens
  FROM tb JOIN first USING (bg)
  GROUP BY 1
)
SELECT a.tranche, CAST(a.n_tokens AS BIGINT) AS n_tokens,
       CAST(a.n_types AS BIGINT) AS n_types,
       CAST(a.n_new_types AS BIGINT) AS n_new_types,
       sign(CAST(a.n_new_types AS DOUBLE) / a.n_types)
       * floor(abs(CAST(a.n_new_types AS DOUBLE) / a.n_types) * 1000000.0 + 0.5)
         / 1000000.0 AS novel_type_share,
       sign(CAST(a.new_tokens AS DOUBLE) / a.n_tokens)
       * floor(abs(CAST(a.new_tokens AS DOUBLE) / a.n_tokens) * 1000000.0 + 0.5)
         / 1000000.0 AS novel_token_share,
       CAST(SUM(b.n_new_types) AS BIGINT) AS cum_vocab
FROM per a JOIN per b ON b.tranche <= a.tranche
GROUP BY 1, 2, 3, 4, 5, 6
ORDER BY a.tranche
"""


def youden_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Optimal operating point on the NB 'en'-detector's exact ROC —
    the threshold t* maximizing Youden's J = TPR − FPR (predict 'en'
    iff decision statistic ≥ t), with the full confusion matrix and
    accuracy/F1 at t*. nb_auc_roc prices the score ORDERING; this
    picks the cut a production filter would actually deploy, and the
    J/accuracy gap shows what the class imbalance hides.

    Plan: same frame discipline as nb_auc_roc — per-DISTINCT-statistic
    positive/negative counts, exclusive cumulatives via the two-level
    bucket-prefix (the only unpartitioned window runs over the
    score-bucket partials), then the argmax is a TakeOrdered over the
    distinct-statistic frame. Exactness: the ranking key is the EXACT
    integer J·P·N = TP·N − FP·P folded in DECIMAL (a double J would
    tie-break differently across engines); ties break by lower FPR
    (exact FP compare) then lower threshold; reported rates are
    value-determined doubles off the exact confusion counts.

    r13: the decision statistics derive from the materialized
    nb_scores asset (one read, no per-query tokenize/train) — the r12
    economy pass covered the other four NB consumers and missed this
    one; the asset scores are exact BIGINTs, bit-identical to the
    inline recompute this replaced (same argument as nb_auc_roc)."""
    from pyspark.sql.window import Window

    from data_ingestion_project_spark.operators.nb import ovr_from_scored
    from data_ingestion_project_spark.queries._precision import DEC_BUF

    st = ovr_from_scored(_nb_scored(spark, sf_dir), "en", label_col="lang")
    per = pin(
        st.groupBy("stat")
        .agg(
            F.sum("is_pos").alias("n_pos_s"),
            F.sum(F.lit(1) - F.col("is_pos")).alias("n_neg_s"),
        )
        .withColumn("bkt", F.floor(F.col("stat") / F.lit(10_000)))
    )
    tot = per.agg(
        F.sum("n_pos_s").alias("p"), F.sum("n_neg_s").alias("nn")
    )
    bp = per.groupBy("bkt").agg(
        F.sum("n_neg_s").alias("b_neg"), F.sum("n_pos_s").alias("b_pos")
    )
    wb = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
    prefix = bp.select(
        "bkt",
        F.coalesce(F.sum("b_neg").over(wb), F.lit(0)).alias("p_neg"),
        F.coalesce(F.sum("b_pos").over(wb), F.lit(0)).alias("p_pos"),
    )
    wv = Window.partitionBy("bkt").orderBy("stat").rowsBetween(
        Window.unboundedPreceding, -1
    )
    cum = per.join(F.broadcast(prefix), "bkt").select(
        "stat",
        (
            F.col("p_neg") + F.coalesce(F.sum("n_neg_s").over(wv), F.lit(0))
        ).alias("neg_below"),
        (
            F.col("p_pos") + F.coalesce(F.sum("n_pos_s").over(wv), F.lit(0))
        ).alias("pos_below"),
    )
    conf = cum.crossJoin(F.broadcast(tot)).select(
        "stat",
        "p",
        "nn",
        (F.col("p") - F.col("pos_below")).alias("tp"),
        (F.col("nn") - F.col("neg_below")).alias("fp"),
    )
    key = F.col("tp").cast(DEC_BUF) * F.col("nn").cast(DEC_BUF) - F.col("fp").cast(
        DEC_BUF
    ) * F.col("p").cast(DEC_BUF)
    best = (
        conf.withColumn("jkey", key)
        .orderBy(F.col("jkey").desc(), F.col("fp").asc(), F.col("stat").asc())
        .limit(1)
    )
    tp, fp = F.col("tp").cast("double"), F.col("fp").cast("double")
    pd_, nd_ = F.col("p").cast("double"), F.col("nn").cast("double")
    fn = pd_ - tp
    tn = nd_ - fp
    return best.select(
        F.col("stat").cast("long").alias("threshold_stat"),
        F.col("tp").cast("long").alias("tp"),
        F.col("fp").cast("long").alias("fp"),
        (F.col("p") - F.col("tp")).cast("long").alias("fn"),
        (F.col("nn") - F.col("fp")).cast("long").alias("tn"),
        floor_round(tp / pd_, 6).alias("tpr"),
        floor_round(fp / nd_, 6).alias("fpr"),
        floor_round(tp / pd_ - fp / nd_, 6).alias("youden_j"),
        floor_round((tp + tn) / (pd_ + nd_), 6).alias("accuracy"),
        floor_round(
            F.lit(2.0) * tp / (F.lit(2.0) * tp + fp + fn), 6
        ).alias("f1"),
    )


ORACLE_YOUDEN_THRESHOLD = _NB_MODEL_CTES + """
sc AS (
  SELECT s.doc_id, s.true_lang, s.m_lang, s.ll + p.p AS score
  FROM scored s JOIN prior p ON p.m_lang = s.m_lang
), pos AS (
  SELECT doc_id, CASE WHEN true_lang = 'en' THEN 1 ELSE 0 END AS is_pos,
         score AS s_pos
  FROM sc WHERE m_lang = 'en'
), oth AS (
  SELECT doc_id, MAX(score) AS s_oth FROM sc WHERE m_lang <> 'en' GROUP BY 1
), st AS (
  SELECT p.is_pos, CAST(p.s_pos - o.s_oth AS BIGINT) AS stat
  FROM pos p JOIN oth o USING (doc_id)
), per AS (
  SELECT stat, SUM(is_pos) AS n_pos_s, SUM(1 - is_pos) AS n_neg_s
  FROM st GROUP BY 1
), tot AS (SELECT SUM(n_pos_s) AS p, SUM(n_neg_s) AS nn FROM per),
cum AS (
  SELECT stat,
         COALESCE(SUM(n_neg_s) OVER w, 0) AS neg_below,
         COALESCE(SUM(n_pos_s) OVER w, 0) AS pos_below
  FROM per
  WINDOW w AS (ORDER BY stat ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
), conf AS (
  SELECT stat, p, nn, p - pos_below AS tp, nn - neg_below AS fp
  FROM cum CROSS JOIN tot
), best AS (
  SELECT * FROM conf
  ORDER BY CAST(tp AS HUGEINT) * nn - CAST(fp AS HUGEINT) * p DESC,
           fp ASC, stat ASC
  LIMIT 1
)
SELECT CAST(stat AS BIGINT) AS threshold_stat,
       CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
       CAST(p - tp AS BIGINT) AS fn, CAST(nn - fp AS BIGINT) AS tn,
       sign(CAST(tp AS DOUBLE) / p)
       * floor(abs(CAST(tp AS DOUBLE) / p) * 1000000.0 + 0.5) / 1000000.0 AS tpr,
       sign(CAST(fp AS DOUBLE) / nn)
       * floor(abs(CAST(fp AS DOUBLE) / nn) * 1000000.0 + 0.5) / 1000000.0 AS fpr,
       sign(CAST(tp AS DOUBLE) / p - CAST(fp AS DOUBLE) / nn)
       * floor(abs(CAST(tp AS DOUBLE) / p - CAST(fp AS DOUBLE) / nn)
              * 1000000.0 + 0.5) / 1000000.0 AS youden_j,
       sign((CAST(tp AS DOUBLE) + (CAST(nn AS DOUBLE) - fp))
            / (CAST(p AS DOUBLE) + CAST(nn AS DOUBLE)))
       * floor(abs((CAST(tp AS DOUBLE) + (CAST(nn AS DOUBLE) - fp))
                   / (CAST(p AS DOUBLE) + CAST(nn AS DOUBLE)))
              * 1000000.0 + 0.5) / 1000000.0 AS accuracy,
       sign(2.0 * CAST(tp AS DOUBLE)
            / (2.0 * CAST(tp AS DOUBLE) + CAST(fp AS DOUBLE)
               + (CAST(p AS DOUBLE) - tp)))
       * floor(abs(2.0 * CAST(tp AS DOUBLE)
                   / (2.0 * CAST(tp AS DOUBLE) + CAST(fp AS DOUBLE)
                      + (CAST(p AS DOUBLE) - tp))) * 1000000.0 + 0.5)
         / 1000000.0 AS f1
FROM best
"""


def heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law fit V = K·Nᵝ of the bigram vocabulary growth curve —
    the corpus LAW under ngram_novelty_decay's trajectory: β near 1
    means vocabulary still grows linearly with data (keep acquiring),
    β → 0 means saturation; K and β together predict the vocabulary a
    10× larger crawl would bring, which is the capacity-planning
    number a tokenizer/embedding-table designer needs in advance.

    Plan: the same ONE (tranche, bigram) shuffle as the novelty curve
    (10 doc_id-order tranches), reduced to 10 cumulative (N, V)
    points; the log-log OLS fit runs on that 10-row frame. Exactness:
    cumulative N and V are exact integers (10×10 triangle join); each
    point's ln quantizes to 1e-8 integers immediately (the KM idiom,
    one libm call per TRANCHE); the OLS moments fold as exact
    integers and β, ln K, R² are value-determined doubles."""
    d = table(spark, sf_dir, "documents")
    span = d.agg(F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi"))
    toks = (
        d.crossJoin(F.broadcast(span))
        .select(
            F.least(
                F.lit(9),
                (
                    (F.col("doc_id") - F.col("lo"))
                    * 10
                    / (F.col("hi") - F.col("lo") + 1)
                ).cast("long"),
            ).alias("tranche"),
            F.split(F.lower(F.trim("text")), r"\s+").alias("a"),
        )
        .withColumn("n", F.size("a"))
    )
    bigrams = (
        toks.filter(F.col("n") >= 2)
        .select(
            "tranche",
            F.explode(
                F.arrays_zip(
                    F.slice("a", 1, F.col("n") - 1).alias("w1"),
                    F.slice("a", 2, F.col("n") - 1).alias("w2"),
                )
            ).alias("p"),
        )
        .select("tranche", F.concat_ws(" ", F.col("p.w1"), F.col("p.w2")).alias("bg"))
    )
    # ONE groupBy(bigram) shuffle with a fixed 10-column tranche pivot
    # (the ngram_novelty_decay reformulation — no corpus-sized join)
    per_bg = bigrams.groupBy("bg").agg(
        F.min("tranche").alias("ft"),
        *[
            F.sum(F.when(F.col("tranche") == i, 1).otherwise(0)).alias(f"c{i}")
            for i in range(10)
        ],
    )
    tranche_rows = per_bg.select(
        "ft",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(i).alias("tranche"), F.col(f"c{i}").alias("c"))
                    for i in range(10)
                ]
            )
        ).alias("p"),
    ).select("ft", F.col("p.tranche").alias("tranche"), F.col("p.c").alias("c"))
    per = pin(
        tranche_rows.filter(F.col("c") > 0)
        .groupBy("tranche")
        .agg(
            F.sum("c").alias("toks"),
            F.sum(F.when(F.col("ft") == F.col("tranche"), 1).otherwise(0)).alias(
                "newv"
            ),
        )
    )
    prior = per.select(
        F.col("tranche").alias("t2"),
        F.col("toks").alias("tk2"),
        F.col("newv").alias("nv2"),
    )
    pts = (
        per.join(F.broadcast(prior), F.col("t2") <= F.col("tranche"))
        .groupBy("tranche")
        .agg(F.sum("tk2").alias("cum_n"), F.sum("nv2").alias("cum_v"))
        .select(
            F.round(F.log(F.col("cum_n").cast("double")) * F.lit(1.0e8), 0)
            .cast("long")
            .alias("lx"),
            F.round(F.log(F.col("cum_v").cast("double")) * F.lit(1.0e8), 0)
            .cast("long")
            .alias("ly"),
        )
    )
    _d38 = "decimal(38,0)"
    m = pts.agg(
        F.count(F.lit(1)).alias("np"),
        F.sum(F.col("lx").cast(_d38)).alias("sx"),
        F.sum(F.col("ly").cast(_d38)).alias("sy"),
        F.sum(F.col("lx").cast(_d38) * F.col("ly").cast(_d38)).alias("sxy"),
        F.sum(F.col("lx").cast(_d38) * F.col("lx").cast(_d38)).alias("sxx"),
        F.sum(F.col("ly").cast(_d38) * F.col("ly").cast(_d38)).alias("syy"),
    )
    npd = F.col("np").cast("double")
    num = F.col("np").cast(_d38) * F.col("sxy") - F.col("sx") * F.col("sy")
    denx = F.col("np").cast(_d38) * F.col("sxx") - F.col("sx") * F.col("sx")
    deny = F.col("np").cast(_d38) * F.col("syy") - F.col("sy") * F.col("sy")
    beta = num.cast("double") / denx.cast("double")
    lnk = (
        F.col("sy").cast("double") / F.lit(1.0e8)
        - beta * F.col("sx").cast("double") / F.lit(1.0e8)
    ) / npd
    r2 = (num.cast("double") * num.cast("double")) / (
        denx.cast("double") * deny.cast("double")
    )
    return m.select(
        F.col("np").cast("long").alias("n_points"),
        floor_round(beta, 6).alias("heaps_beta"),
        floor_round(F.exp(lnk), 4).alias("heaps_k"),
        floor_round(r2, 6).alias("r2_loglog"),
    )


ORACLE_HEAPS_LAW_FIT = """
WITH span AS (SELECT MIN(doc_id) AS lo, MAX(doc_id) AS hi FROM documents),
toks AS (
  SELECT least(9, CAST((doc_id - lo) * 10 // (hi - lo + 1) AS BIGINT)) AS tranche,
         string_split_regex(lower(trim(text)), '\\s+') AS a
  FROM documents CROSS JOIN span
), bigrams AS (
  SELECT tranche, a[i] || ' ' || a[i + 1] AS bg
  FROM toks, LATERAL (SELECT unnest(range(1, len(a))) AS i) _
  WHERE len(a) >= 2
), tb AS (
  SELECT tranche, bg, COUNT(*) AS c FROM bigrams GROUP BY 1, 2
), first AS (
  SELECT bg, MIN(tranche) AS first_tranche FROM tb GROUP BY 1
), per AS (
  SELECT tranche, SUM(c) AS toks,
         SUM(CASE WHEN first_tranche = tranche THEN 1 ELSE 0 END) AS newv
  FROM tb JOIN first USING (bg) GROUP BY 1
), pts AS (
  SELECT CAST(round(ln(CAST(SUM(b.toks) AS DOUBLE)) * 1e8, 0) AS BIGINT) AS lx,
         CAST(round(ln(CAST(SUM(b.newv) AS DOUBLE)) * 1e8, 0) AS BIGINT) AS ly
  FROM per a JOIN per b ON b.tranche <= a.tranche
  GROUP BY a.tranche
), m AS (
  SELECT COUNT(*) AS np,
         SUM(CAST(lx AS HUGEINT)) AS sx, SUM(CAST(ly AS HUGEINT)) AS sy,
         SUM(CAST(lx AS HUGEINT) * ly) AS sxy,
         SUM(CAST(lx AS HUGEINT) * lx) AS sxx,
         SUM(CAST(ly AS HUGEINT) * ly) AS syy
  FROM pts
)
SELECT CAST(np AS BIGINT) AS n_points,
       sign(CAST(np * sxy - sx * sy AS DOUBLE) / CAST(np * sxx - sx * sx AS DOUBLE))
       * floor(abs(CAST(np * sxy - sx * sy AS DOUBLE)
                   / CAST(np * sxx - sx * sx AS DOUBLE)) * 1000000.0 + 0.5)
         / 1000000.0 AS heaps_beta,
       sign(exp((CAST(sy AS DOUBLE) / 1e8
                 - (CAST(np * sxy - sx * sy AS DOUBLE)
                    / CAST(np * sxx - sx * sx AS DOUBLE))
                   * CAST(sx AS DOUBLE) / 1e8) / np))
       * floor(abs(exp((CAST(sy AS DOUBLE) / 1e8
                        - (CAST(np * sxy - sx * sy AS DOUBLE)
                           / CAST(np * sxx - sx * sx AS DOUBLE))
                          * CAST(sx AS DOUBLE) / 1e8) / np)) * 10000.0 + 0.5)
         / 10000.0 AS heaps_k,
       sign((CAST(np * sxy - sx * sy AS DOUBLE) * CAST(np * sxy - sx * sy AS DOUBLE))
            / (CAST(np * sxx - sx * sx AS DOUBLE)
               * CAST(np * syy - sy * sy AS DOUBLE)))
       * floor(abs((CAST(np * sxy - sx * sy AS DOUBLE)
                    * CAST(np * sxy - sx * sy AS DOUBLE))
                   / (CAST(np * sxx - sx * sx AS DOUBLE)
                      * CAST(np * syy - sy * sy AS DOUBLE))) * 1000000.0 + 0.5)
         / 1000000.0 AS r2_loglog
FROM m
"""


def word_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word burstiness census (Church & Gale): for the top-20 corpus
    words, the variance-to-mean ratio of per-document counts and the
    adaptation probability P(≥2 occurrences | ≥1) — a word with
    VMR ≈ 1 arrives Poisson-like (content-independent filler); a
    bursty word (VMR ≫ 1, high adaptation) clumps into the documents
    that are ABOUT it. The per-word companion to
    event_dispersion_index (which measures time burstiness of
    events), and the statistic behind every "repeat words are cheap"
    term-weighting argument (BM25's k₁ saturation).

    Plan: one explode pass to (doc, word) counts; the top-20 selection
    is a TakeOrdered; per-word moments fold as exact integers (Σc, Σc²
    over CONTAINING docs — absent docs contribute exactly zero to both
    sums, so the all-docs variance needs only the broadcast doc
    total). Exactness: VMR and adaptation are one value-determined
    double expression each over exact integers."""
    d = table(spark, sf_dir, "documents")
    _d38 = "decimal(38,0)"
    ndocs = d.agg(F.count(F.lit(1)).alias("nd"))
    wc = (
        d.select(
            "doc_id",
            F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("word"),
        )
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    per = wc.groupBy("word").agg(
        F.sum("c").alias("total"),
        F.count(F.lit(1)).alias("df"),
        F.sum(F.when(F.col("c") >= 2, 1).otherwise(0)).alias("df2"),
        F.sum(F.col("c").cast(_d38) * F.col("c").cast(_d38)).alias("sc2"),
    )
    top = per.orderBy(F.col("total").desc(), F.col("word").asc()).limit(20)
    nd = F.col("nd").cast("double")
    mean = F.col("total").cast("double") / nd
    var = F.col("sc2").cast("double") / nd - mean * mean
    return (
        top.crossJoin(F.broadcast(ndocs))
        .select(
            "word",
            F.col("total").cast("long").alias("total"),
            F.col("df").cast("long").alias("doc_freq"),
            floor_round(mean, 6).alias("mean_per_doc"),
            floor_round(var / mean, 6).alias("vmr_burstiness"),
            floor_round(
                F.col("df2").cast("double") / F.col("df").cast("double"), 6
            ).alias("adaptation"),
        )
        .orderBy(F.col("total").desc(), F.col("word").asc())
    )


ORACLE_WORD_BURSTINESS = """
WITH wc AS (
  SELECT doc_id, word, COUNT(*) AS c
  FROM (SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS word
        FROM documents)
  GROUP BY 1, 2
), nd AS (SELECT COUNT(*) AS nd FROM documents),
per AS (
  SELECT word, SUM(c) AS total, COUNT(*) AS df,
         SUM(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS df2,
         SUM(CAST(c AS HUGEINT) * c) AS sc2
  FROM wc GROUP BY 1
), top AS (
  SELECT * FROM per ORDER BY total DESC, word ASC LIMIT 20
)
SELECT word, CAST(total AS BIGINT) AS total, CAST(df AS BIGINT) AS doc_freq,
       sign(CAST(total AS DOUBLE) / nd)
       * floor(abs(CAST(total AS DOUBLE) / nd) * 1000000.0 + 0.5)
         / 1000000.0 AS mean_per_doc,
       sign((CAST(sc2 AS DOUBLE) / nd
             - (CAST(total AS DOUBLE) / nd) * (CAST(total AS DOUBLE) / nd))
            / (CAST(total AS DOUBLE) / nd))
       * floor(abs((CAST(sc2 AS DOUBLE) / nd
                    - (CAST(total AS DOUBLE) / nd) * (CAST(total AS DOUBLE) / nd))
                   / (CAST(total AS DOUBLE) / nd)) * 1000000.0 + 0.5)
         / 1000000.0 AS vmr_burstiness,
       sign(CAST(df2 AS DOUBLE) / df)
       * floor(abs(CAST(df2 AS DOUBLE) / df) * 1000000.0 + 0.5)
         / 1000000.0 AS adaptation
FROM top CROSS JOIN nd
ORDER BY total DESC, word ASC
"""

def dup_cluster_source_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-mix census of BAG-OF-WORDS duplicate clusters: group
    documents whose normalized distinct-word SET is identical (the
    reordered/reshuffled duplicate — invisible to byte-exact dedup,
    caught here without any similarity join), then report, per
    (cluster_size, distinct-source-count) cell, how many clusters and
    documents land there — the cross-source contamination question
    ("is the same content entering the corpus through multiple
    feeds?") that decides whether dedup must run globally or can run
    per-source.

    Plan: ONE shuffle on a 32-byte md5 of the sorted word set (the
    text itself never shuffles — the 100 TB posture), then a
    histogram aggregation over the cluster frame.  Exactness: counts
    only — no doubles anywhere."""
    d = table(spark, sf_dir, "documents")
    fp = F.md5(
        F.concat_ws(
            " ",
            F.array_sort(
                F.array_distinct(F.split(normalize_text(F.col("text")), r"\s+"))
            ),
        )
    )
    clusters = (
        d.select(fp.alias("fp"), "source")
        .groupBy("fp")
        .agg(
            F.count(F.lit(1)).alias("cluster_size"),
            F.countDistinct("source").alias("n_sources"),
        )
        .filter(F.col("cluster_size") >= 2)
    )
    return (
        clusters.groupBy("cluster_size", "n_sources")
        .agg(
            F.count(F.lit(1)).alias("n_clusters"),
            F.sum("cluster_size").cast("long").alias("n_docs"),
        )
        .select(
            F.col("cluster_size").cast("long").alias("cluster_size"),
            F.col("n_sources").cast("long").alias("n_sources"),
            F.col("n_clusters").cast("long").alias("n_clusters"),
            "n_docs",
        )
        .orderBy("cluster_size", "n_sources")
    )


ORACLE_DUP_CLUSTER_SOURCE_MIX = """
WITH fps AS (
  SELECT md5(array_to_string(list_sort(list_distinct(string_split_regex(
           regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), '\\s+'))),
           ' ')) AS fp,
         source
  FROM documents
), clusters AS (
  SELECT fp, COUNT(*) AS cluster_size, COUNT(DISTINCT source) AS n_sources
  FROM fps GROUP BY fp HAVING COUNT(*) >= 2
)
SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
       CAST(n_sources AS BIGINT) AS n_sources,
       CAST(COUNT(*) AS BIGINT) AS n_clusters,
       CAST(SUM(cluster_size) AS BIGINT) AS n_docs
FROM clusters
GROUP BY cluster_size, n_sources
ORDER BY cluster_size, n_sources
"""


def good_turing_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simple Good–Turing vocabulary mass per source: from the
    frequency-of-frequencies profile, the probability mass of UNSEEN
    words (p₀ = N₁/N) and the discounted effective counts r* =
    (r+1)·N_{r+1}/N_r for the rare tail — the smoothing arithmetic
    under every n-gram LM and the quantitative answer to "how much of
    this source's vocabulary have we NOT seen yet?" (chao1 estimates
    the unseen SPECIES count; this estimates the unseen MASS).

    Plan: one explode+group shuffle to per-(source, word) counts, a
    second tiny aggregation per source over conditional sums —
    frequency-of-frequencies never materializes row-count-sized state.
    Exactness: all Nᵣ are exact integers; the three reported ratios
    are single mirrored double divisions (zero-guarded)."""
    d = table(spark, sf_dir, "documents")
    wc = (
        d.select(
            "source",
            F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias(
                "w"
            ),
        )
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    per = wc.groupBy("source").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).alias("vocab"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("c") == 2, 1).otherwise(0)).alias("n2"),
        F.sum(F.when(F.col("c") == 3, 1).otherwise(0)).alias("n3"),
    )
    return per.select(
        "source",
        "n_tokens",
        F.col("vocab").cast("long").alias("vocab"),
        F.col("n1").cast("long").alias("n1"),
        F.col("n2").cast("long").alias("n2"),
        F.col("n3").cast("long").alias("n3"),
        floor_round(
            F.col("n1").cast("double") / F.col("n_tokens").cast("double"), 8
        ).alias("p_unseen"),
        F.when(
            F.col("n1") > 0,
            floor_round(
                F.lit(2.0) * F.col("n2").cast("double")
                / F.col("n1").cast("double"),
                6,
            ),
        ).alias("r1_star"),
        F.when(
            F.col("n2") > 0,
            floor_round(
                F.lit(3.0) * F.col("n3").cast("double")
                / F.col("n2").cast("double"),
                6,
            ),
        ).alias("r2_star"),
    ).orderBy("source")


ORACLE_GOOD_TURING_VOCAB = """
WITH wc AS (
  SELECT source, w, COUNT(*) AS c
  FROM (
    SELECT source,
           unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
    FROM documents
  ) GROUP BY source, w
), per AS (
  SELECT source,
         SUM(c) AS n_tokens,
         COUNT(*) AS vocab,
         SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS n1,
         SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS n2,
         SUM(CASE WHEN c = 3 THEN 1 ELSE 0 END) AS n3
  FROM wc GROUP BY source
)
SELECT source,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(vocab AS BIGINT) AS vocab,
       CAST(n1 AS BIGINT) AS n1,
       CAST(n2 AS BIGINT) AS n2,
       CAST(n3 AS BIGINT) AS n3,
       sign(CAST(n1 AS DOUBLE) / CAST(n_tokens AS DOUBLE))
       * floor(abs(CAST(n1 AS DOUBLE) / CAST(n_tokens AS DOUBLE))
               * 100000000.0 + 0.5) / 100000000.0 AS p_unseen,
       CASE WHEN n1 > 0 THEN
         sign(2.0 * CAST(n2 AS DOUBLE) / CAST(n1 AS DOUBLE))
         * floor(abs(2.0 * CAST(n2 AS DOUBLE) / CAST(n1 AS DOUBLE))
                 * 1000000.0 + 0.5) / 1000000.0
       END AS r1_star,
       CASE WHEN n2 > 0 THEN
         sign(3.0 * CAST(n3 AS DOUBLE) / CAST(n2 AS DOUBLE))
         * floor(abs(3.0 * CAST(n3 AS DOUBLE) / CAST(n2 AS DOUBLE))
                 * 1000000.0 + 0.5) / 1000000.0
       END AS r2_star
FROM per
ORDER BY source
"""


def log_odds_dirichlet_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monroe/Colaresi/Quinn "Fightin' Words": which words are
    OVER-represented in the corpus's dominant language vs everything
    else, by log-odds-ratio with an informative Dirichlet prior — the
    count-robust alternative to PMI (pmi_collocations) that does not
    explode on rare words, the standard subcorpus-contrast tool for
    training-data audits (what vocabulary does this source/language
    actually contribute?).

    Target group = the lang with the most documents (count desc, lang
    asc tie-break) — computed as a 1-row broadcast, never collected.
    Prior: α_w = α0 · y_w / N (the corpus itself as the prior center,
    α0 = 1000).  δ_w = ln[(y1+α_w)/(n1+α0−y1−α_w)] −
    ln[(y2+α_w)/(n2+α0−y2−α_w)], σ² ≈ 1/(y1+α_w) + 1/(y2+α_w),
    z = δ/σ.  Top-15 by z desc (target-associated), word tie-break.

    Exactness: counts are exact longs from ONE vocabulary-bounded
    partial-agg shuffle; each of the four ln calls is quantized to
    round(ln·1e8) immediately (the bigram_logprob idiom) so δ is a
    difference of exact integers over 1e8; σ uses sqrt (correctly
    rounded by IEEE — no libm variance) over mirrored rationals.

    Scale: explode → map-side-combined (word, is_target) counts →
    |vocab|-sized frame; everything downstream is vocabulary
    arithmetic, corpus-size-independent."""
    d = table(spark, sf_dir, "documents")
    top_lang = (
        d.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("nd"))
        .orderBy(F.col("nd").desc(), F.col("lang").asc())
        .limit(1)
        .select(F.col("lang").alias("target_lang"))
    )
    words = d.crossJoin(F.broadcast(top_lang)).select(
        "target_lang",
        (F.col("lang") == F.col("target_lang")).alias("is_t"),
        F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("word"),
    )
    counts = words.groupBy("word", "target_lang").agg(
        F.sum(F.when(F.col("is_t"), 1).otherwise(0)).alias("y1"),
        F.sum(F.when(F.col("is_t"), 0).otherwise(1)).alias("y2"),
    )
    tot = counts.agg(
        F.sum("y1").alias("n1"),
        F.sum("y2").alias("n2"),
        F.sum(F.col("y1") + F.col("y2")).alias("n_all"),
    )
    j = counts.crossJoin(F.broadcast(tot))
    a0 = F.lit(1000.0)
    aw = a0 * (F.col("y1") + F.col("y2")).cast("double") / F.col("n_all").cast(
        "double"
    )

    def _qln(col) -> F.Column:
        return F.round(F.log(col) * F.lit(1e8), 0)

    q1a = _qln(F.col("y1").cast("double") + aw)
    q1b = _qln(F.col("n1").cast("double") + a0 - F.col("y1").cast("double") - aw)
    q2a = _qln(F.col("y2").cast("double") + aw)
    q2b = _qln(F.col("n2").cast("double") + a0 - F.col("y2").cast("double") - aw)
    delta = (q1a - q1b - q2a + q2b) / F.lit(1e8)
    sigma = F.sqrt(
        F.lit(1.0) / (F.col("y1").cast("double") + aw)
        + F.lit(1.0) / (F.col("y2").cast("double") + aw)
    )
    z = delta / sigma
    return (
        j.select(
            "word",
            "target_lang",
            F.col("y1").cast("long").alias("n_target"),
            F.col("y2").cast("long").alias("n_rest"),
            floor_round(delta, 6).alias("log_odds_delta"),
            floor_round(z, 6).alias("z_score"),
        )
        .orderBy(F.col("z_score").desc(), F.col("word").asc())
        .limit(15)
    )


ORACLE_LOG_ODDS_DIRICHLET_WORDS = """
WITH top_lang AS (
  SELECT lang AS target_lang FROM documents
  GROUP BY lang ORDER BY COUNT(*) DESC, lang ASC LIMIT 1
), words AS (
  SELECT t.target_lang, d.lang = t.target_lang AS is_t,
         unnest(string_split_regex(lower(trim(d.text)), '\\s+')) AS word
  FROM documents d CROSS JOIN top_lang t
), counts AS (
  SELECT word, target_lang,
         SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS y1,
         SUM(CASE WHEN is_t THEN 0 ELSE 1 END) AS y2
  FROM words GROUP BY word, target_lang
), tot AS (
  SELECT SUM(y1) AS n1, SUM(y2) AS n2, SUM(y1 + y2) AS n_all FROM counts
), j AS (
  SELECT c.*, t.n1, t.n2,
         1000.0 * CAST(c.y1 + c.y2 AS DOUBLE) / CAST(t.n_all AS DOUBLE) AS aw
  FROM counts c CROSS JOIN tot t
), g AS (
  SELECT word, target_lang, y1, y2,
         (round(ln(CAST(y1 AS DOUBLE) + aw) * 100000000.0)
          - round(ln(CAST(n1 AS DOUBLE) + 1000.0 - CAST(y1 AS DOUBLE) - aw)
                  * 100000000.0)
          - round(ln(CAST(y2 AS DOUBLE) + aw) * 100000000.0)
          + round(ln(CAST(n2 AS DOUBLE) + 1000.0 - CAST(y2 AS DOUBLE) - aw)
                  * 100000000.0)) / 100000000.0 AS delta,
         sqrt(1.0 / (CAST(y1 AS DOUBLE) + aw)
              + 1.0 / (CAST(y2 AS DOUBLE) + aw)) AS sigma
  FROM j
)
SELECT word, target_lang,
       CAST(y1 AS BIGINT) AS n_target, CAST(y2 AS BIGINT) AS n_rest,
       sign(delta) * floor(abs(delta) * 1000000.0 + 0.5) / 1000000.0
         AS log_odds_delta,
       sign(delta / sigma) * floor(abs(delta / sigma) * 1000000.0 + 0.5)
         / 1000000.0 AS z_score
FROM g
ORDER BY z_score DESC, word ASC
LIMIT 15
"""


QUERIES = {
    "good_turing_vocab": good_turing_vocab,
    "dup_cluster_source_mix": dup_cluster_source_mix,
    "word_burstiness": word_burstiness,
    "heaps_law_fit": heaps_law_fit,
    "youden_threshold": youden_threshold,
    "ngram_novelty_decay": ngram_novelty_decay,
    "chao1_vocab_richness": chao1_vocab_richness,
    "pmi_collocations": pmi_collocations,
    "text_readability_scores": text_readability_scores,
    "doc_repetition_stats": doc_repetition_stats,
    "corpus_mixture_plan": corpus_mixture_plan,
    "unigram_logprob_quality": unigram_logprob_quality,
    "ccnet_perplexity_buckets": ccnet_perplexity_buckets,
    "lang_stats": lang_stats,
    "top_words": top_words,
    "lexical_richness_panel": lexical_richness_panel,
    "cohen_kappa_quality_flags": cohen_kappa_quality_flags,
    "approx_top_words": approx_top_words,
    "cms_word_freq": cms_word_freq,
    "html_extract_stats": html_extract_stats,
    "entity_golden_records": entity_golden_records,
    "nb_lang_confusion": nb_lang_confusion,
    "nb_margin_calibration": nb_margin_calibration,
    "nb_auc_roc": nb_auc_roc,
    "substring_dup_stats": substring_dup_stats,
    "exact_substring_census": exact_substring_census,
    "longest_repeat_extract": longest_repeat_extract,
    "bpe_learned_merges": bpe_learned_merges,
    "chunk_stats": chunk_stats,
    "leakage_safe_split": leakage_safe_split,
    "similar_supplier_names": similar_supplier_names,
    "token_stats": token_stats,
    "bpe_token_stats": bpe_token_stats,
    "winnow_overlap_top": winnow_overlap_top,
    "dup_cluster_sizes": dup_cluster_sizes,
    "dup_cluster_density": dup_cluster_density,
    "dup_cluster_sizes_star": dup_cluster_sizes_star,
    "dup_graph_triangles": dup_graph_triangles,
    "adamic_adar_link_prediction": adamic_adar_link_prediction,
    "local_clustering_histogram": local_clustering_histogram,
    "nb_pr_auc": nb_pr_auc,
    "jaccard_threshold_sweep": jaccard_threshold_sweep,
    "dup_graph_bfs_depths": dup_graph_bfs_depths,
    "source_stylometry_delta": source_stylometry_delta,
    "dup_graph_assortativity": dup_graph_assortativity,
    "media_feature_stats": media_feature_stats,
    "media_decode_stats": media_decode_stats,
    "png_decode_stats": png_decode_stats,
    "mp4_metadata_stats": mp4_metadata_stats,
    "jpeg_decode_stats": jpeg_decode_stats,
    "weighted_sample_audit": weighted_sample_audit,
    "compression_ratio_stats": compression_ratio_stats,
    "bigram_logprob_buckets": bigram_logprob_buckets,
    "source_overlap_matrix": source_overlap_matrix,
    "quality_filter_funnel": quality_filter_funnel,
    "stratified_sample_rates": stratified_sample_rates,
    "pii_scrub_stats": pii_scrub_stats,
    "doc_quality": doc_quality,
    "fingerprint_summary": fingerprint_summary,
    "exact_duplicate_pairs": exact_duplicate_pairs,
    "near_dup_jaccard_top": near_dup_jaccard_top,
    "near_dup_jaccard_prefix": near_dup_jaccard_prefix,
    "lang_id_confusion": lang_id_confusion,
    "minhash_recall": minhash_recall,
    "minhash_near_dups": minhash_near_dups,
    "simhash_near_dups": simhash_near_dups,
    "sequence_packing": sequence_packing,
    "benchmark_contamination": benchmark_contamination,
    "dedup_funnel": dedup_funnel,
    "dsir_importance_weights": dsir_importance_weights,
    "training_shard_plan": training_shard_plan,
    "dup_graph_pagerank": dup_graph_pagerank,
    "keyword_textrank": keyword_textrank,
    "dup_graph_kcore": dup_graph_kcore,
    "zipf_slope_by_lang": zipf_slope_by_lang,
    "chunk_dup_stats": chunk_dup_stats,
    "bpe_real_token_stats": bpe_real_token_stats,
    "contrastive_training_pairs": contrastive_training_pairs,
    "source_data_cards": source_data_cards,
    "unicode_clean_stats": unicode_clean_stats,
    "log_odds_dirichlet_words": log_odds_dirichlet_words,
}

# the Pillow-backed production twin registers only where Pillow
# imports (skip-clean posture — VERDICT r6 ask #6); environments
# without it keep the identical inventory minus this bench entry
from data_ingestion_project_spark.operators.multimodal import HAVE_PIL as _HAVE_PIL  # noqa: E402

if _HAVE_PIL:
    QUERIES["jpeg_decode_stats_fast"] = jpeg_decode_stats_fast

ORACLE = {
    "good_turing_vocab": ORACLE_GOOD_TURING_VOCAB,
    "lexical_richness_panel": ORACLE_LEXICAL_RICHNESS_PANEL,
    "cohen_kappa_quality_flags": ORACLE_COHEN_KAPPA_QUALITY_FLAGS,
    # full integer replay of the md5-mode SimHash pipeline (r10)
    "simhash_near_dups": ORACLE_SIMHASH_NEAR_DUPS,
    "dup_cluster_source_mix": ORACLE_DUP_CLUSTER_SOURCE_MIX,
    "word_burstiness": ORACLE_WORD_BURSTINESS,
    "heaps_law_fit": ORACLE_HEAPS_LAW_FIT,
    "youden_threshold": ORACLE_YOUDEN_THRESHOLD,
    "ngram_novelty_decay": ORACLE_NGRAM_NOVELTY_DECAY,
    "chao1_vocab_richness": ORACLE_CHAO1_VOCAB_RICHNESS,
    "pmi_collocations": ORACLE_PMI_COLLOCATIONS,
    "text_readability_scores": ORACLE_TEXT_READABILITY_SCORES,
    "doc_repetition_stats": ORACLE_DOC_REPETITION_STATS,
    "corpus_mixture_plan": ORACLE_CORPUS_MIXTURE_PLAN,
    "unigram_logprob_quality": ORACLE_UNIGRAM_LOGPROB_QUALITY,
    "chunk_stats": ORACLE_CHUNK_STATS,
    "leakage_safe_split": ORACLE_LEAKAGE_SAFE_SPLIT,
    "ccnet_perplexity_buckets": ORACLE_CCNET_PERPLEXITY_BUCKETS,
    "lang_stats": ORACLE_LANG_STATS,
    "token_stats": ORACLE_TOKEN_STATS,
    "bpe_token_stats": ORACLE_BPE_TOKEN_STATS,
    "winnow_overlap_top": ORACLE_WINNOW_OVERLAP_TOP,
    "dup_cluster_sizes": ORACLE_DUP_CLUSTER_SIZES,
    "dup_cluster_density": ORACLE_DUP_CLUSTER_DENSITY,
    "dup_graph_triangles": ORACLE_DUP_GRAPH_TRIANGLES,
    "adamic_adar_link_prediction": ORACLE_ADAMIC_ADAR_LINK_PREDICTION,
    "local_clustering_histogram": ORACLE_LOCAL_CLUSTERING_HISTOGRAM,
    "nb_pr_auc": ORACLE_NB_PR_AUC,
    "jaccard_threshold_sweep": ORACLE_JACCARD_THRESHOLD_SWEEP,
    "dup_graph_bfs_depths": ORACLE_DUP_GRAPH_BFS_DEPTHS,
    "source_stylometry_delta": ORACLE_SOURCE_STYLOMETRY_DELTA,
    "dup_graph_assortativity": ORACLE_DUP_GRAPH_ASSORTATIVITY,
    "dup_cluster_sizes_star": ORACLE_DUP_CLUSTER_SIZES,
    "media_feature_stats": ORACLE_MEDIA_FEATURE_STATS,
    "media_decode_stats": ORACLE_MEDIA_DECODE_STATS,
    "png_decode_stats": ORACLE_PNG_DECODE_STATS,
    "mp4_metadata_stats": ORACLE_MP4_METADATA_STATS,
    "jpeg_decode_stats": ORACLE_JPEG_DECODE_STATS,
    "weighted_sample_audit": ORACLE_WEIGHTED_SAMPLE_AUDIT,
    "bigram_logprob_buckets": ORACLE_BIGRAM_LOGPROB_BUCKETS,
    "source_overlap_matrix": ORACLE_SOURCE_OVERLAP_MATRIX,
    "quality_filter_funnel": ORACLE_QUALITY_FILTER_FUNNEL,
    "stratified_sample_rates": ORACLE_STRATIFIED_SAMPLE_RATES,
    "pii_scrub_stats": ORACLE_PII_SCRUB_STATS,
    "doc_quality": ORACLE_DOC_QUALITY,
    "fingerprint_summary": ORACLE_FINGERPRINT_SUMMARY,
    "exact_duplicate_pairs": ORACLE_EXACT_DUPLICATE_PAIRS,
    "near_dup_jaccard_top": ORACLE_NEAR_DUP_JACCARD_TOP,
    "near_dup_jaccard_prefix": ORACLE_NEAR_DUP_JACCARD_PREFIX,
    "lang_id_confusion": ORACLE_LANG_ID_CONFUSION,
    "top_words": ORACLE_TOP_WORDS,
    "approx_top_words": ORACLE_APPROX_TOP_WORDS,
    "cms_word_freq": ORACLE_CMS_WORD_FREQ,
    "html_extract_stats": ORACLE_HTML_EXTRACT_STATS,
    "entity_golden_records": ORACLE_ENTITY_GOLDEN_RECORDS,
    "nb_lang_confusion": ORACLE_NB_LANG_CONFUSION,
    "nb_margin_calibration": ORACLE_NB_MARGIN_CALIBRATION,
    "nb_auc_roc": ORACLE_NB_AUC_ROC,
    "substring_dup_stats": ORACLE_SUBSTRING_DUP_STATS,
    "exact_substring_census": ORACLE_EXACT_SUBSTRING_CENSUS,
    "longest_repeat_extract": ORACLE_LONGEST_REPEAT_EXTRACT,
    "similar_supplier_names": ORACLE_SIMILAR_SUPPLIER_NAMES,
    "minhash_recall": ORACLE_MINHASH_RECALL,
    "sequence_packing": ORACLE_SEQUENCE_PACKING,
    "benchmark_contamination": ORACLE_BENCHMARK_CONTAMINATION,
    "dedup_funnel": ORACLE_DEDUP_FUNNEL,
    "dsir_importance_weights": ORACLE_DSIR_IMPORTANCE_WEIGHTS,
    "training_shard_plan": ORACLE_TRAINING_SHARD_PLAN,
    "dup_graph_pagerank": ORACLE_DUP_GRAPH_PAGERANK,
    "keyword_textrank": ORACLE_KEYWORD_TEXTRANK,
    "dup_graph_kcore": ORACLE_DUP_GRAPH_KCORE,
    "zipf_slope_by_lang": ORACLE_ZIPF_SLOPE_BY_LANG,
    "chunk_dup_stats": ORACLE_CHUNK_DUP_STATS,
    "contrastive_training_pairs": ORACLE_CONTRASTIVE_TRAINING_PAIRS,
    "source_data_cards": ORACLE_SOURCE_DATA_CARDS,
    "unicode_clean_stats": ORACLE_UNICODE_CLEAN_STATS,
    "log_odds_dirichlet_words": ORACLE_LOG_ODDS_DIRICHLET_WORDS,
    # minhash_near_dups / simhash_near_dups: rows-only by design
}
