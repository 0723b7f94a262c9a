"""Second-wave query coverage: statistical aggregates, pivot, funnel &
retention analytics, range join, correlated subqueries (via the SQL
surface), TF-IDF — rounding out the operator families a user of a
full analytics engine expects (the reference has none of these;
north-star extension per BASELINE.json).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestion_project_spark.operators.materialize import pin
from data_ingestion_project_spark.queries._precision import DEC_BUF, dec_sum, floor_round, spark_dec_sum, sql_dec_sum, to_micro
from data_ingestion_project_spark.queries.tpch import REV, _rev
from data_ingestion_project_spark.sources.readers import register_views, table


# ---------------------------------------------------- statistical aggs


def order_price_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles + dispersion per order status. percentile()
    sorts within groups — at 100 TB switch to approx_percentile (t-digest,
    mergeable, no global sort); both are one expression away."""
    o = table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderstatus")
        .agg(
            F.round(F.percentile("o_totalprice", 0.5), 4).alias("p50"),
            F.round(F.percentile("o_totalprice", 0.9), 4).alias("p90"),
            F.round(F.percentile("o_totalprice", 0.99), 4).alias("p99"),
            F.round(F.stddev("o_totalprice"), 4).alias("sd"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("o_orderstatus")
    )


ORACLE_ORDER_PRICE_QUANTILES = """
SELECT o_orderstatus,
       ROUND(quantile_cont(o_totalprice, 0.5), 4)  AS p50,
       ROUND(quantile_cont(o_totalprice, 0.9), 4)  AS p90,
       ROUND(quantile_cont(o_totalprice, 0.99), 4) AS p99,
       ROUND(stddev_samp(o_totalprice), 4)         AS sd,
       COUNT(*) AS n
FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


def returnflag_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: revenue per linestatus x returnflag as columns. Spark's
    pivot with an explicit value list is a single partial-agg shuffle
    (no extra pass to discover pivot values — always list them at
    scale)."""
    l = table(spark, sf_dir, "lineitem")
    out = (
        l.groupBy("l_linestatus")
        .pivot("l_returnflag", ["A", "N", "R"])
        .agg(dec_sum(_rev()))
        .orderBy("l_linestatus")
    )
    return out.select("l_linestatus", F.col("A").alias("rev_a"), F.col("N").alias("rev_n"), F.col("R").alias("rev_r"))


ORACLE_RETURNFLAG_PIVOT = f"""
SELECT l_linestatus,
       {sql_dec_sum("CASE WHEN l_returnflag = 'A' THEN l_extendedprice * (1 - l_discount) END")} AS rev_a,
       {sql_dec_sum("CASE WHEN l_returnflag = 'N' THEN l_extendedprice * (1 - l_discount) END")} AS rev_n,
       {sql_dec_sum("CASE WHEN l_returnflag = 'R' THEN l_extendedprice * (1 - l_discount) END")} AS rev_r
FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus
"""


# ------------------------------------------------------ event analytics


def signup_purchase_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel signup → click → purchase per user: one groupBy
    computing conditional min timestamps, then ordered-stage counts in
    a single pass (no per-stage self-joins — those multiply shuffles at
    scale)."""
    e = table(spark, sf_dir, "events")
    stage_ts = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias("t_signup"),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("t_click"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("t_purchase"),
    )
    did_signup = F.col("t_signup").isNotNull()
    did_click = did_signup & F.col("t_click").isNotNull() & (F.col("t_click") > F.col("t_signup"))
    did_purchase = did_click & F.col("t_purchase").isNotNull() & (F.col("t_purchase") > F.col("t_click"))
    return stage_ts.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(did_signup.cast("long")).alias("n_signup"),
        F.sum(did_click.cast("long")).alias("n_signup_click"),
        F.sum(did_purchase.cast("long")).alias("n_full_funnel"),
    )


def ordered_funnel_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRICT sequence-match funnel signup → click → purchase within a
    7-day conversion window: the click must come AFTER a signup (not
    merely the user's first click — a user who clicked before signing
    up and again after still converts), and the purchase after that
    qualified click, all within 7 days of the earliest signup.  The
    semantics ad-attribution tools ship; the simpler
    signup_purchase_funnel (first-timestamp comparison) undercounts
    exactly the re-click cohort.

    Plan: sequence matching WITHOUT per-stage self-joins — one
    user-partitioned window pass computes each row's
    earliest-prior-signup, qualified clicks reduce per user in the
    same shuffle's aggregation, and purchases resolve against the
    per-user (s1, c1) scalars with one further equi-join on the SAME
    user_id partitioning.  Conversion lags are exact microsecond
    integer sums — order-independent."""
    e = table(spark, sf_dir, "events").select("user_id", "event_type", "ts", "event_id")
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    with_sig = e.withColumn(
        "s_before",
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).over(w_prev),
    )
    q_clicks = (
        with_sig.filter(
            (F.col("event_type") == "click")
            & F.col("s_before").isNotNull()
            & (F.col("ts") <= F.col("s_before") + F.expr("INTERVAL 7 DAYS"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("c1"), F.min("s_before").alias("s1"))
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("p_ts")
    )
    conv = (
        purchases.join(q_clicks, "user_id")
        .filter(
            (F.col("p_ts") > F.col("c1"))
            & (F.col("p_ts") <= F.col("s1") + F.expr("INTERVAL 7 DAYS"))
        )
        .groupBy("user_id")
        .agg(F.lit(1).alias("converted"))
    )
    signups = e.filter(F.col("event_type") == "signup").select("user_id").distinct()
    # integer-exact microsecond lag (NTZ-safe; sessionize.py idiom)
    lag_us = F.expr("timestampdiff(MICROSECOND, s1, c1)")
    stats = q_clicks.agg(
        F.count(F.lit(1)).alias("n_click_conv"),
        F.sum(lag_us).alias("lag_us_sum"),
    )
    n_sig = signups.agg(F.count(F.lit(1)).alias("n_signup_users"))
    n_conv = conv.agg(F.count(F.lit(1)).alias("n_purchase_conv"))
    return (
        n_sig.crossJoin(F.broadcast(stats))
        .crossJoin(F.broadcast(n_conv))
        .select(
            "n_signup_users",
            "n_click_conv",
            "n_purchase_conv",
            F.round(F.col("n_click_conv") / F.col("n_signup_users"), 6).alias(
                "click_rate"
            ),
            F.round(F.col("n_purchase_conv") / F.col("n_signup_users"), 6).alias(
                "purchase_rate"
            ),
            F.round(
                F.col("lag_us_sum").cast("double")
                / F.col("n_click_conv")
                / F.lit(3_600_000_000.0),
                4,
            ).alias("avg_hours_to_click"),
        )
    )


ORACLE_ORDERED_FUNNEL_7D = """
WITH e AS (
  SELECT user_id, event_type, ts, event_id FROM events
), with_sig AS (
  SELECT user_id, event_type, ts,
         MIN(CASE WHEN event_type = 'signup' THEN ts END) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS s_before
  FROM e
), q_clicks AS (
  SELECT user_id, MIN(ts) AS c1, MIN(s_before) AS s1
  FROM with_sig
  WHERE event_type = 'click' AND s_before IS NOT NULL
    AND ts <= s_before + INTERVAL 7 DAY
  GROUP BY user_id
), conv AS (
  SELECT DISTINCT p.user_id
  FROM e p JOIN q_clicks q ON p.user_id = q.user_id
  WHERE p.event_type = 'purchase' AND p.ts > q.c1
    AND p.ts <= q.s1 + INTERVAL 7 DAY
), n_sig AS (
  SELECT COUNT(DISTINCT user_id) AS n_signup_users FROM e
  WHERE event_type = 'signup'
), stats AS (
  SELECT COUNT(*) AS n_click_conv,
         CAST(SUM(epoch_us(c1) - epoch_us(s1)) AS BIGINT) AS lag_us_sum
  FROM q_clicks
), n_conv AS (SELECT COUNT(*) AS n_purchase_conv FROM conv)
SELECT n_signup_users, n_click_conv, n_purchase_conv,
       ROUND(n_click_conv * 1.0 / n_signup_users, 6) AS click_rate,
       ROUND(n_purchase_conv * 1.0 / n_signup_users, 6) AS purchase_rate,
       ROUND(CAST(lag_us_sum AS DOUBLE) / n_click_conv / 3600000000.0, 4)
         AS avg_hours_to_click
FROM n_sig CROSS JOIN stats CROSS JOIN n_conv
"""


ORACLE_SIGNUP_PURCHASE_FUNNEL = """
WITH stage_ts AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'signup'   THEN ts END) AS t_signup,
         MIN(CASE WHEN event_type = 'click'    THEN ts END) AS t_click,
         MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
  FROM events GROUP BY user_id
)
SELECT COUNT(*) AS n_users,
       CAST(SUM(CASE WHEN t_signup IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
       CAST(SUM(CASE WHEN t_signup IS NOT NULL AND t_click IS NOT NULL
                      AND t_click > t_signup THEN 1 ELSE 0 END) AS BIGINT) AS n_signup_click,
       CAST(SUM(CASE WHEN t_signup IS NOT NULL AND t_click IS NOT NULL
                      AND t_click > t_signup AND t_purchase IS NOT NULL
                      AND t_purchase > t_click THEN 1 ELSE 0 END) AS BIGINT) AS n_full_funnel
FROM stage_ts
"""


def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-0 cohort retention: users grouped by first-seen day, counted
    by day offset of later activity. Two aggregations; the cohort map
    (user → day0) stays in the same shuffle key (user_id) as the
    activity scan, so AQE broadcasts the smaller side."""
    e = table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("day")
    )
    day0 = e.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (
        e.dropDuplicates(["user_id", "day"])
        .join(day0, "user_id")
        .withColumn("day_offset", F.datediff("day", "cohort_day"))
        .filter(F.col("day_offset").isin(0, 1, 7, 14))
        .groupBy(F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort"), "day_offset")
        .agg(F.count(F.lit(1)).alias("n_active"))
        .orderBy("cohort", "day_offset")
    )


ORACLE_RETENTION_COHORTS = """
WITH activity AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
), day0 AS (
  SELECT user_id, MIN(day) AS cohort_day FROM activity GROUP BY user_id
)
SELECT strftime(cohort_day, '%Y-%m-%d') AS cohort,
       CAST(date_diff('day', cohort_day, day) AS INTEGER) AS day_offset,
       COUNT(*) AS n_active
FROM activity JOIN day0 USING (user_id)
WHERE date_diff('day', cohort_day, day) IN (0, 1, 7, 14)
GROUP BY 1, 2
ORDER BY cohort, day_offset
"""


def purchases_near_errors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval/range join: purchases within 5 minutes after an error by
    the same user. Equi-join on user_id carries the heavy lifting (hash
    join); the range predicate rides along as a post-join filter —
    never a cross join. Skewed users would be salted at scale."""
    e = table(spark, sf_dir, "events")
    err = e.filter(F.col("event_type") == "error").select(
        "user_id", F.col("ts").alias("err_ts")
    )
    pur = e.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), F.col("ts").alias("pur_ts")
    )
    joined = pur.join(err, "user_id").filter(
        (F.col("pur_ts") >= F.col("err_ts"))
        & (F.col("pur_ts") <= F.col("err_ts") + F.expr("INTERVAL 5 MINUTES"))
    )
    return (
        joined.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy("user_id")
    )


ORACLE_PURCHASES_NEAR_ERRORS = """
SELECT p.user_id, COUNT(*) AS n_pairs
FROM (SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase') p
JOIN (SELECT user_id, ts AS err_ts FROM events WHERE event_type = 'error') e
  ON p.user_id = e.user_id
 AND p.ts >= e.err_ts AND p.ts <= e.err_ts + INTERVAL 5 MINUTE
GROUP BY p.user_id
ORDER BY p.user_id
"""


# ----------------------------------------------- SQL-surface queries


def parts_above_brand_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery through the engine's SQL surface
    (spark.sql over registered views) — Catalyst decorrelates it into
    an aggregate + join, which is exactly how we'd hand-write it."""
    register_views(spark, sf_dir, ("part",))
    return spark.sql(
        """
        SELECT p_partkey, p_name, p_brand, p_retailprice
        FROM part p
        WHERE p_retailprice > 1.05 * (
            SELECT AVG(p2.p_retailprice) FROM part p2 WHERE p2.p_brand = p.p_brand
        )
        ORDER BY p_partkey
        """
    )


ORACLE_PARTS_ABOVE_BRAND_AVERAGE = """
SELECT p_partkey, p_name, p_brand, p_retailprice
FROM part p
WHERE p_retailprice > 1.05 * (
    SELECT AVG(p2.p_retailprice) FROM part p2 WHERE p2.p_brand = p.p_brand
)
ORDER BY p_partkey
"""


def idle_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS → anti-join: suppliers with no shipments in the first week of 1996
    (SQL surface; Catalyst plans a broadcast anti-join)."""
    register_views(spark, sf_dir, ("supplier", "lineitem"))
    return spark.sql(
        """
        SELECT s_suppkey, s_name
        FROM supplier s
        WHERE NOT EXISTS (
            SELECT 1 FROM lineitem l
            WHERE l.l_suppkey = s.s_suppkey
              AND l.l_shipdate >= TIMESTAMP '1996-01-01'
              AND l.l_shipdate <  TIMESTAMP '1996-01-08'
        )
        ORDER BY s_suppkey
        """
    )


ORACLE_IDLE_SUPPLIERS = """
SELECT s_suppkey, s_name
FROM supplier s
WHERE NOT EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_suppkey = s.s_suppkey
      AND l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate <  TIMESTAMP '1996-01-08'
)
ORDER BY s_suppkey
"""


def small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated scalar AGGREGATE subquery against a
    DIFFERENT table than the outer filter (per-part average quantity
    from lineitem, correlated on part) — exercises Catalyst's
    decorrelation into a per-key aggregate + join beyond
    parts_above_brand_average's self-table case. Revenue from
    small-quantity orders of one brand, annualized (/7 per Q17)."""
    register_views(spark, sf_dir, ("part", "lineitem"))
    return spark.sql(ORACLE_SMALL_QUANTITY_REVENUE)


# dialect-shared: the ONE SQL text both Spark and the DuckDB oracle run
# (same pattern as tpch2._SOLE_RETURN_SQL) — no second copy to drift
ORACLE_SMALL_QUANTITY_REVENUE = """
SELECT ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(27,6))) AS DOUBLE) / 7.0, 2)
         AS avg_yearly,
       COUNT(*) AS n_lineitems
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE p_brand = 'Brand#23'
  AND l_quantity < (
    SELECT 0.5 * AVG(l2.l_quantity) FROM lineitem l2 WHERE l2.l_partkey = p_partkey
  )
"""


# ------------------------------------------------------------- TF-IDF


def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per language: explode → tf per (lang, word) →
    idf from document frequency → window top-k. The doc-frequency side
    is tiny after aggregation → broadcast. ln() is bit-stable across
    engines; scores rounded for the oracle hash."""
    d = table(spark, sf_dir, "documents")
    words = d.select(
        "doc_id",
        "lang",
        F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("word"),
    )
    tf = words.groupBy("lang", "word").agg(F.count(F.lit(1)).alias("tf"))
    df_ = words.groupBy("word").agg(F.count_distinct("doc_id").alias("df"))
    # corpus size rides along as a broadcast 1-row frame — folding it
    # into the plan keeps this a single job (a driver-side d.count()
    # would scan documents once more before the main pass)
    total = d.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df_), "word")
        .crossJoin(F.broadcast(total))
        .withColumn("tfidf", F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6))
    )
    w = Window.partitionBy("lang").orderBy(F.col("tfidf").desc(), F.col("word").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 3)
        .select("lang", "word", "tfidf", "rank")
        .orderBy("lang", "rank")
    )


BM25_TERMS = ("customer", "join", "filter", "scan")  # fixed probe query
BM25_K1, BM25_B = 1.2, 0.75
RRF_C = 60  # the standard reciprocal-rank-fusion constant


def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 lexical retrieval (Robertson/Sparck Jones; the Lucene
    idf = ln(1 + (N - df + 0.5)/(df + 0.5)) form): top-10 documents
    for a fixed 4-term probe query, scored with term frequency
    saturation (k1=1.2) and doc-length normalization (b=0.75). The
    retrieval twin of the embedding kNN family — together they are
    the classic hybrid-search pair (see hybrid_rrf_search).

    Plan: ONE token explode → tf for the probe terms (the filter
    prunes the aggregate to 4 words), doc lengths from the same
    explode, df/N/avgdl as broadcast 1-row or term-cardinality
    frames — a scan + two aggregates, no corpus self-join anywhere.
    Cross-engine exactness: per-term scores are quantized to integer
    micro-units BEFORE the per-doc sum (the [ln-weight quantization]
    idiom), so ranking and the reported score are value-identical in
    DuckDB."""
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("word")
    )
    lens = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats = lens.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.sum("dl").cast("double").alias("sum_dl"),
    )
    qtoks = toks.filter(F.col("word").isin(*BM25_TERMS))
    tf = qtoks.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("tf"))
    df_ = qtoks.groupBy("word").agg(F.count_distinct("doc_id").alias("df"))
    scored = (
        tf.join(F.broadcast(df_), "word")
        .join(lens, "doc_id")
        .crossJoin(F.broadcast(stats))
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    tf_norm = (F.col("tf") * (BM25_K1 + 1)) / (
        F.col("tf")
        + BM25_K1
        * (1 - BM25_B + BM25_B * F.col("dl") * F.col("n_docs") / F.col("sum_dl"))
    )
    per_term = scored.select(
        "doc_id",
        F.round(idf * tf_norm * 1_000_000, 0).cast("long").alias("score_i"),
    )
    totals = per_term.groupBy("doc_id").agg(F.sum("score_i").alias("total_i"))
    return (
        totals.orderBy(F.col("total_i").desc(), F.col("doc_id").asc())
        .limit(10)
        .select(
            "doc_id",
            F.round(F.col("total_i") / 1_000_000, 6).alias("bm25"),
        )
    )


_SQL_BM25_TOTALS = f"""
  toks AS (
    SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS word
    FROM documents
  ), lens AS (
    SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id
  ), stats AS (
    SELECT COUNT(*) * 1.0 AS n_docs, SUM(dl) * 1.0 AS sum_dl FROM lens
  ), tf AS (
    SELECT doc_id, word, COUNT(*) AS tf FROM toks
    WHERE word IN {BM25_TERMS} GROUP BY doc_id, word
  ), df AS (
    SELECT word, COUNT(DISTINCT doc_id) AS df FROM toks
    WHERE word IN {BM25_TERMS} GROUP BY word
  ), per_term AS (
    SELECT tf.doc_id,
           CAST(ROUND(
             ln(1.0 + (s.n_docs - df.df + 0.5) / (df.df + 0.5))
             * ((tf.tf * ({BM25_K1} + 1)) /
                (tf.tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * l.dl * s.n_docs / s.sum_dl)))
             * 1000000, 0) AS BIGINT) AS score_i
    FROM tf JOIN df USING (word) JOIN lens l ON l.doc_id = tf.doc_id, stats s
  ), totals AS (
    SELECT doc_id, SUM(score_i) AS total_i FROM per_term GROUP BY doc_id
  )
"""


ORACLE_BM25_TOPK = f"""
WITH {_SQL_BM25_TOTALS}
SELECT doc_id, ROUND(total_i / 1000000.0, 6) AS bm25
FROM totals ORDER BY total_i DESC, doc_id ASC LIMIT 10
"""


def ndcg_search_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 of the BM25 ranking against a graded-relevance gold —
    the standard search-quality number (the metric a retrieval
    pipeline reports, next to the retrieval itself): gold grade =
    each document's RAW probe-term count (deterministic, corpus-
    derived), DCG discounts by log2(rank+1), ideal ordering re-ranks
    the same grades.  A drop in this number flags a scoring/
    normalization regression that top-k overlap tests (which ignore
    ORDER) cannot see.

    Exactness: grades are exact integer counts; each position's
    discounted gain is quantized once — round(rel·1e8/log2(rank+1)) —
    so DCG/IDCG are sums of exact integers and NDCG is one mirrored
    double division.  Scale: the ranking is the existing bm25_topk
    TakeOrdered form; gold grades come from the same pruned-term
    aggregate; the only windows order the 10-row top-k frame and the
    TakeOrdered-bounded ideal frame (Limit-bounded, the youden
    posture)."""
    d = table(spark, sf_dir, "documents")
    ranked = bm25_topk(spark, sf_dir)
    w = Window.orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
    pos = ranked.withColumn("rank", F.row_number().over(w))
    toks = d.select(
        "doc_id", F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("word")
    )
    rel = (
        toks.filter(F.col("word").isin(*BM25_TERMS))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("rel"))
    )

    def _gain(rel_col: F.Column, rank_col: F.Column) -> F.Column:
        return F.round(
            rel_col.cast("double") * F.lit(1e8) / F.log2(rank_col.cast("double") + F.lit(1.0)),
            0,
        ).cast("long")

    got = pos.join(rel, "doc_id", "left").select(
        "rank",
        "doc_id",
        "bm25",
        F.coalesce(F.col("rel"), F.lit(0)).alias("rel"),
    ).withColumn("gain_q", _gain(F.col("rel"), F.col("rank")))
    ideal = (
        rel.orderBy(F.col("rel").desc(), F.col("doc_id").asc())
        .limit(10)
        .withColumn(
            "irank", F.row_number().over(Window.orderBy(F.col("rel").desc(), F.col("doc_id").asc()))
        )
        .withColumn("igain_q", _gain(F.col("rel"), F.col("irank")))
    )
    dcg = got.agg(F.sum("gain_q").alias("dcg_q"))
    idcg = ideal.agg(F.sum("igain_q").alias("idcg_q"))
    g = dcg.crossJoin(F.broadcast(idcg))
    stats = g.select(
        floor_round(F.col("dcg_q") / F.lit(1e8), 6).alias("dcg_at10"),
        floor_round(F.col("idcg_q") / F.lit(1e8), 6).alias("idcg_at10"),
        floor_round(
            F.col("dcg_q").cast("double") / F.col("idcg_q").cast("double"), 6
        ).alias("ndcg_at10"),
    )
    return (
        got.select("rank", "doc_id", "rel", "bm25")
        .crossJoin(F.broadcast(stats))
        .orderBy("rank")
    )


ORACLE_NDCG_SEARCH_EVAL = f"""
WITH {_SQL_BM25_TOTALS}
, ranked AS (
  SELECT doc_id, ROUND(total_i / 1000000.0, 6) AS bm25,
         ROW_NUMBER() OVER (ORDER BY total_i DESC, doc_id ASC) AS rank
  FROM totals ORDER BY total_i DESC, doc_id ASC LIMIT 10
), rel AS (
  SELECT doc_id, COUNT(*) AS rel FROM toks
  WHERE word IN {BM25_TERMS} GROUP BY doc_id
), got AS (
  SELECT r.rank, r.doc_id, r.bm25, COALESCE(g.rel, 0) AS rel,
         CAST(ROUND(COALESCE(g.rel, 0) * 100000000.0
                    / log2(r.rank + 1.0), 0) AS BIGINT) AS gain_q
  FROM ranked r LEFT JOIN rel g ON g.doc_id = r.doc_id
), ideal AS (
  SELECT CAST(ROUND(rel * 100000000.0 / log2(irank + 1.0), 0) AS BIGINT)
           AS igain_q
  FROM (
    SELECT rel, ROW_NUMBER() OVER (ORDER BY rel DESC, doc_id ASC) AS irank
    FROM rel ORDER BY rel DESC, doc_id ASC LIMIT 10
  ) t
), evalstats AS (
  SELECT sign(SUM(g.gain_q) / 100000000.0)
           * floor(abs(SUM(g.gain_q) / 100000000.0) * 1000000.0 + 0.5)
           / 1000000.0 AS dcg_at10,
         (SELECT sign(SUM(igain_q) / 100000000.0)
                 * floor(abs(SUM(igain_q) / 100000000.0) * 1000000.0 + 0.5)
                 / 1000000.0 FROM ideal) AS idcg_at10,
         sign(SUM(g.gain_q) * 1.0 / (SELECT SUM(igain_q) FROM ideal))
           * floor(abs(SUM(g.gain_q) * 1.0 / (SELECT SUM(igain_q) FROM ideal))
                   * 1000000.0 + 0.5) / 1000000.0 AS ndcg_at10
  FROM got g
)
SELECT got.rank, got.doc_id, got.rel, got.bm25,
       evalstats.dcg_at10, evalstats.idcg_at10, evalstats.ndcg_at10
FROM got CROSS JOIN evalstats
ORDER BY got.rank
"""


def map_mrr_search_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAP@10 and MRR@10 of per-term BM25 rankings — the binary-
    relevance companions of ndcg_search_eval (which grades ONE pooled
    query): each probe term is its own query, ranked by that term's
    BM25 component alone, with a document RELEVANT when it contains
    the term at least twice (the ranking saturates tf and normalizes
    by length, so it genuinely disagrees with the raw-count gold —
    the disagreement is what the metric measures).  AP@10 averages
    precision at each hit (denominator min(R,10)); RR@10 is 1/rank of
    the first hit; MAP/MRR average over the probe terms.  Together
    with NDCG these are the three numbers every retrieval eval
    reports.

    Exactness: precision terms quantize to integer nano-units at each
    hit rank, AP/RR to integer micro-units per term, and the means
    divide exact integer sums — one mirrored double division each.
    Scale: the per-term candidate sets are posting-list-sized; the
    rank window is partitionBy(word) + row_number + rank≤10, which
    Spark rewrites to a per-key group-limit (WindowGroupLimit), the
    TakeOrdered-per-key form — no global sort, no corpus-sized
    window."""
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("word")
    )
    lens = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats_ = lens.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.sum("dl").cast("double").alias("sum_dl"),
    )
    qtoks = toks.filter(F.col("word").isin(*BM25_TERMS))
    tf = pin(qtoks.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("tf")))
    df_ = tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(F.broadcast(df_), "word")
        .join(lens, "doc_id")
        .crossJoin(F.broadcast(stats_))
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    tf_norm = (F.col("tf") * (BM25_K1 + 1)) / (
        F.col("tf")
        + BM25_K1
        * (1 - BM25_B + BM25_B * F.col("dl") * F.col("n_docs") / F.col("sum_dl"))
    )
    # candidate-set-sized (posting lists × 4 terms); pinned because
    # BOTH the rank window and the relevant-count aggregate read it —
    # otherwise the corpus explode upstream runs twice
    per = pin(scored.select(
        "word",
        "doc_id",
        F.round(idf * tf_norm * 1_000_000, 0).cast("long").alias("score_i"),
        (F.col("tf") >= 2).cast("int").alias("rel"),
    ))
    wrank = Window.partitionBy("word").orderBy(
        F.col("score_i").desc(), F.col("doc_id").asc()
    )
    ranked = per.withColumn("rank", F.row_number().over(wrank)).filter(
        F.col("rank") <= 10
    )
    wcum = Window.partitionBy("word").orderBy("rank")
    hits = ranked.withColumn("hits", F.sum("rel").over(wcum))
    pq = F.when(
        F.col("rel") == 1,
        F.round(F.col("hits").cast("double") * F.lit(1.0e9) / F.col("rank"), 0).cast(
            "long"
        ),
    ).otherwise(F.lit(0))
    perword = hits.groupBy("word").agg(
        F.sum(pq).alias("sum_pq"),
        F.min(F.when(F.col("rel") == 1, F.col("rank"))).alias("first_hit"),
    )
    relcnt = per.groupBy("word").agg(F.sum("rel").alias("n_relevant"))
    r10 = F.greatest(F.least(F.col("n_relevant"), F.lit(10)), F.lit(1))
    j = relcnt.join(perword, "word").select(
        F.col("word").alias("term"),
        F.col("n_relevant").cast("long").alias("n_relevant"),
        F.round(
            F.col("sum_pq").cast("double")
            / F.lit(1.0e9)
            / r10.cast("double")
            * F.lit(1.0e6),
            0,
        )
        .cast("long")
        .alias("ap_q"),
        F.when(
            F.col("first_hit").isNotNull(),
            F.round(F.lit(1.0e6) / F.col("first_hit").cast("double"), 0).cast("long"),
        )
        .otherwise(F.lit(0))
        .alias("rr_q"),
    )
    g = j.agg(
        F.count(F.lit(1)).alias("nw"),
        F.sum("ap_q").alias("sap"),
        F.sum("rr_q").alias("srr"),
    )
    return (
        j.crossJoin(F.broadcast(g))
        .select(
            "term",
            "n_relevant",
            (F.col("ap_q").cast("double") / F.lit(1.0e6)).alias("ap_at10"),
            (F.col("rr_q").cast("double") / F.lit(1.0e6)).alias("rr_at10"),
            floor_round(
                F.col("sap").cast("double") / F.lit(1.0e6) / F.col("nw").cast("double"),
                6,
            ).alias("map_at10"),
            floor_round(
                F.col("srr").cast("double") / F.lit(1.0e6) / F.col("nw").cast("double"),
                6,
            ).alias("mrr_at10"),
        )
        .orderBy("term")
    )


ORACLE_MAP_MRR_SEARCH_EVAL = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS word
  FROM documents
), lens AS (
  SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id
), stats AS (
  SELECT COUNT(*) * 1.0 AS n_docs, SUM(dl) * 1.0 AS sum_dl FROM lens
), tf AS (
  SELECT doc_id, word, COUNT(*) AS tf FROM toks
  WHERE word IN {BM25_TERMS} GROUP BY doc_id, word
), dfw AS (
  SELECT word, COUNT(*) AS df FROM tf GROUP BY word
), per AS (
  SELECT tf.word, tf.doc_id,
         CAST(ROUND(
           ln(1.0 + (s.n_docs - dfw.df + 0.5) / (dfw.df + 0.5))
           * ((tf.tf * ({BM25_K1} + 1)) /
              (tf.tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * l.dl * s.n_docs / s.sum_dl)))
           * 1000000, 0) AS BIGINT) AS score_i,
         CAST(tf.tf >= 2 AS INT) AS rel
  FROM tf JOIN dfw USING (word) JOIN lens l ON l.doc_id = tf.doc_id, stats s
), ranked AS (
  SELECT word, doc_id, rel,
         ROW_NUMBER() OVER (PARTITION BY word ORDER BY score_i DESC, doc_id ASC) AS rank
  FROM per QUALIFY rank <= 10
), hits AS (
  SELECT word, rel, rank,
         SUM(rel) OVER (PARTITION BY word ORDER BY rank) AS hits
  FROM ranked
), perword AS (
  SELECT word,
         SUM(CASE WHEN rel = 1
             THEN CAST(ROUND(CAST(hits AS DOUBLE) * 1000000000.0 / rank, 0) AS BIGINT)
             ELSE 0 END) AS sum_pq,
         MIN(CASE WHEN rel = 1 THEN rank END) AS first_hit
  FROM hits GROUP BY word
), relcnt AS (
  SELECT word, SUM(rel) AS n_relevant FROM per GROUP BY word
), j AS (
  SELECT r.word AS term, CAST(r.n_relevant AS BIGINT) AS n_relevant,
         CAST(ROUND(CAST(p.sum_pq AS DOUBLE) / 1000000000.0
                    / CAST(GREATEST(LEAST(r.n_relevant, 10), 1) AS DOUBLE)
                    * 1000000.0, 0) AS BIGINT) AS ap_q,
         CASE WHEN p.first_hit IS NOT NULL
              THEN CAST(ROUND(1000000.0 / CAST(p.first_hit AS DOUBLE), 0) AS BIGINT)
              ELSE 0 END AS rr_q
  FROM relcnt r JOIN perword p USING (word)
), g AS (
  SELECT COUNT(*) AS nw, SUM(ap_q) AS sap, SUM(rr_q) AS srr FROM j
)
SELECT term, n_relevant,
       CAST(ap_q AS DOUBLE) / 1000000.0 AS ap_at10,
       CAST(rr_q AS DOUBLE) / 1000000.0 AS rr_at10,
       sign(CAST(sap AS DOUBLE) / 1000000.0 / CAST(nw AS DOUBLE))
         * floor(abs(CAST(sap AS DOUBLE) / 1000000.0 / CAST(nw AS DOUBLE))
                 * 1000000.0 + 0.5) / 1000000.0 AS map_at10,
       sign(CAST(srr AS DOUBLE) / 1000000.0 / CAST(nw AS DOUBLE))
         * floor(abs(CAST(srr AS DOUBLE) / 1000000.0 / CAST(nw AS DOUBLE))
                 * 1000000.0 + 0.5) / 1000000.0 AS mrr_at10
FROM j CROSS JOIN g
ORDER BY term
"""


RBO_P = 0.9  # rank-biased overlap persistence (Webber et al., TOIS'10)
_RBO_WEIGHTS = tuple((1.0 - RBO_P) * RBO_P ** (d - 1) for d in range(1, 11))


def rbo_rank_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-biased overlap (Webber, Moffat & Zobel, TOIS'10; p = 0.9,
    truncated at depth 10) between the BM25 lexical top-10 and the
    exact embedding-cosine top-10 for the same probe — the number that
    says how much the two towers of the hybrid search actually AGREE
    (hybrid_rrf_search fuses them; this measures whether fusing adds
    diversity or redundancy).  Per depth d: X_d = |lex@d ∩ dense@d|
    and agreement X_d/d; RBO_min = Σ_d (1−p)p^(d−1)·X_d/d — the
    top-weighted expectation of agreement at a random (geometric)
    depth.  Universe: docs carrying a vector, as in hybrid_rrf_search.

    Exactness: both rankings are already certified deterministic
    (integer-quantized BM25; list_cosine_similarity parity); the
    geometric weights are PINNED Python-float literals injected into
    both engines (no pow() libm call anywhere); each weighted term
    quantizes to integer nano-units, RBO is an exact 10-term integer
    sum.  Scale: both sides are TakeOrdered top-10 frames; everything
    downstream is ≤10×10."""
    from data_ingestion_project_spark.functions.vectors import cosine_similarity
    from data_ingestion_project_spark.queries.embeddings import QUERY_VEC_ID, _query_vec

    d = table(spark, sf_dir, "documents")
    e = table(spark, sf_dir, "embeddings")
    emb_ids = e.select(F.col("vec_id").alias("doc_id"))

    toks = d.join(emb_ids, "doc_id", "left_semi").select(
        "doc_id", F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("word")
    )
    lens = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats_ = lens.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.sum("dl").cast("double").alias("sum_dl"),
    )
    qtoks = toks.filter(F.col("word").isin(*BM25_TERMS))
    tf = qtoks.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("tf"))
    df_ = qtoks.groupBy("word").agg(F.count_distinct("doc_id").alias("df"))
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    tf_norm = (F.col("tf") * (BM25_K1 + 1)) / (
        F.col("tf")
        + BM25_K1
        * (1 - BM25_B + BM25_B * F.col("dl") * F.col("n_docs") / F.col("sum_dl"))
    )
    totals = (
        tf.join(F.broadcast(df_), "word")
        .join(lens, "doc_id")
        .crossJoin(F.broadcast(stats_))
        .select(
            "doc_id",
            F.round(idf * tf_norm * 1_000_000, 0).cast("long").alias("score_i"),
        )
        .groupBy("doc_id")
        .agg(F.sum("score_i").alias("total_i"))
    )
    lex_order = (F.col("total_i").desc(), F.col("doc_id").asc())
    lex = (
        totals.orderBy(*lex_order)
        .limit(10)
        .withColumn("lex_rank", F.row_number().over(Window.orderBy(*lex_order)))
        .select("doc_id", "lex_rank")
    )
    q = _query_vec(spark, sf_dir)
    qlit = F.array(*[F.lit(float(x)) for x in q])
    corpus = e.filter(F.col("vec_id") != QUERY_VEC_ID).select(
        F.col("vec_id").alias("doc_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    dense_order = (F.col("qcos").desc(), F.col("doc_id").asc())
    dense = (
        corpus.withColumn("qcos", cosine_similarity("v", qlit))
        .orderBy(*dense_order)
        .limit(10)
        .withColumn("vec_rank", F.row_number().over(Window.orderBy(*dense_order)))
        .select("doc_id", "vec_rank")
    )
    matched = lex.join(dense, "doc_id").select(
        F.greatest("lex_rank", "vec_rank").alias("d_enter")
    )
    depths = spark.createDataFrame(
        [(i + 1, w) for i, w in enumerate(_RBO_WEIGHTS)], "depth int, wt double"
    )
    xd = (
        depths.join(
            F.broadcast(matched), F.col("d_enter") <= F.col("depth"), "left"
        )
        .groupBy("depth", "wt")
        .agg(F.count("d_enter").alias("x_d"))
    )
    term_q = F.round(
        F.col("wt") * F.col("x_d").cast("double") / F.col("depth").cast("double") * F.lit(1.0e9),
        0,
    ).cast("long")
    # the 10-row terms frame feeds BOTH the RBO fold and the output
    # rows — pinned so the two lex+dense ranking pipelines upstream
    # run exactly once
    terms = pin(xd.select("depth", "x_d", term_q.alias("t_q")))
    rbo = terms.agg(F.sum("t_q").alias("rq"))
    return (
        terms.crossJoin(F.broadcast(rbo))
        .select(
            "depth",
            F.col("x_d").cast("long").alias("x_d"),
            floor_round(
                F.col("x_d").cast("double") / F.col("depth").cast("double"), 6
            ).alias("agreement"),
            (F.col("rq").cast("double") / F.lit(1.0e9)).alias("rbo_min_at10"),
        )
        .orderBy("depth")
    )


def _oracle_rbo_rank_overlap() -> str:
    wvals = ", ".join(f"({d}, {w!r})" for d, w in enumerate(_RBO_WEIGHTS, start=1))
    return f"""
WITH emb_docs AS (
  SELECT d.doc_id, d.text FROM documents d
  SEMI JOIN embeddings e ON d.doc_id = e.vec_id
), toks AS (
  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS word
  FROM emb_docs
), lens AS (
  SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id
), stats AS (
  SELECT COUNT(*) * 1.0 AS n_docs, SUM(dl) * 1.0 AS sum_dl FROM lens
), tf AS (
  SELECT doc_id, word, COUNT(*) AS tf FROM toks
  WHERE word IN {BM25_TERMS} GROUP BY doc_id, word
), df AS (
  SELECT word, COUNT(DISTINCT doc_id) AS df FROM toks
  WHERE word IN {BM25_TERMS} GROUP BY word
), per_term AS (
  SELECT tf.doc_id,
         CAST(ROUND(
           ln(1.0 + (s.n_docs - df.df + 0.5) / (df.df + 0.5))
           * ((tf.tf * ({BM25_K1} + 1)) /
              (tf.tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * l.dl * s.n_docs / s.sum_dl)))
           * 1000000, 0) AS BIGINT) AS score_i
  FROM tf JOIN df USING (word) JOIN lens l ON l.doc_id = tf.doc_id, stats s
), totals AS (
  SELECT doc_id, SUM(score_i) AS total_i FROM per_term GROUP BY doc_id
), lex AS (
  SELECT doc_id, lex_rank FROM (
    SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY total_i DESC, doc_id ASC) AS INTEGER) AS lex_rank
    FROM totals
  ) t WHERE lex_rank <= 10
), q AS (
  SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0
), dense AS (
  SELECT doc_id, vec_rank FROM (
    SELECT e.vec_id AS doc_id,
           CAST(ROW_NUMBER() OVER (
             ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], q.qv) DESC,
                      e.vec_id ASC) AS INTEGER) AS vec_rank
    FROM embeddings e, q WHERE e.vec_id <> 0
  ) t WHERE vec_rank <= 10
), matched AS (
  SELECT GREATEST(l.lex_rank, v.vec_rank) AS d_enter
  FROM lex l JOIN dense v ON l.doc_id = v.doc_id
), depths(depth, wt) AS (VALUES {wvals}),
xd AS (
  SELECT d.depth, d.wt, COUNT(m.d_enter) AS x_d
  FROM depths d LEFT JOIN matched m ON m.d_enter <= d.depth
  GROUP BY d.depth, d.wt
), terms AS (
  SELECT depth, x_d,
         CAST(ROUND(wt * CAST(x_d AS DOUBLE) / CAST(depth AS DOUBLE)
                    * 1000000000.0, 0) AS BIGINT) AS t_q
  FROM xd
), rbo AS (SELECT SUM(t_q) AS rq FROM terms)
SELECT depth, CAST(x_d AS BIGINT) AS x_d,
       sign(CAST(x_d AS DOUBLE) / CAST(depth AS DOUBLE))
         * floor(abs(CAST(x_d AS DOUBLE) / CAST(depth AS DOUBLE))
                 * 1000000.0 + 0.5) / 1000000.0 AS agreement,
       CAST(rq AS DOUBLE) / 1000000000.0 AS rbo_min_at10
FROM terms CROSS JOIN rbo
ORDER BY depth
"""


ORACLE_RBO_RANK_OVERLAP = _oracle_rbo_rank_overlap()


def _bm25_index_path(spark: SparkSession, sf_dir: str) -> str:
    """Materialize (once per corpus mtime) the inverted-index assets
    (operators/inverted_index.py): bucket-partitioned posting lists,
    doc lengths, and document frequencies. At 100 TB these are
    pipeline outputs maintained per ingested batch
    (update_inverted_index — fenced appends + the additive df merge);
    this static bench corpus keeps the mtime build, and the two paths
    are row-identical by construction (both call index_rows)."""
    import os

    from data_ingestion_project_spark.operators.inverted_index import write_index
    from data_ingestion_project_spark.operators.materialize import (
        dataset_tag,
        ensure_materialized,
    )
    from data_ingestion_project_spark.sources.readers import table as _table

    abs_dir = os.path.abspath(os.path.normpath(sf_dir))

    def _build(tmp: str) -> None:
        write_index(_table(spark, sf_dir, "documents"), tmp)
        open(os.path.join(tmp, "_SUCCESS"), "w").close()

    return ensure_materialized(
        f"bm25_index_{dataset_tag(abs_dir)}",
        os.path.join(abs_dir, "documents.parquet"),
        _build,
    )


def bm25_topk_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 SERVED from the materialized inverted index — the
    production twin of bm25_topk (which re-explodes the corpus per
    query): the postings scan is pruned to the probe terms' hash-
    bucket PARTITIONS at planning time and filtered to the terms
    themselves, so a 4-term lookup reads posting-list rows, never
    corpus text, and no tokenizer runs anywhere. Same integer
    micro-unit arithmetic as bm25_topk, so BOTH share one DuckDB
    oracle — certifying that index build + serving lose nothing
    (the asset-posture guarantee, same as the signature tables)."""
    from data_ingestion_project_spark.operators.inverted_index import bm25_from_index

    p = _bm25_index_path(spark, sf_dir)
    postings = spark.read.parquet(f"{p}/postings")
    lens = spark.read.parquet(f"{p}/lens")
    dfs = spark.read.parquet(f"{p}/dfs")
    return bm25_from_index(postings, lens, dfs, BM25_TERMS, k1=BM25_K1, b=BM25_B)


def hybrid_rrf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HYBRID retrieval: reciprocal-rank fusion (Cormack et al.,
    SIGIR'09) of the BM25 lexical ranking and the exact embedding
    cosine ranking for the same probe — the standard two-tower search
    pattern (sparse + dense, fused by rank so neither score scale
    dominates). Universe: documents that carry a vector (vec_id aligns
    with doc_id). Each modality contributes 1/(60 + rank) for its
    top-50; docs missing from one list contribute 0 from it. Fully
    SQL-replayable: both rankings are deterministic (integer-quantized
    BM25; cosine with the proven list_cosine_similarity parity), and
    the fusion is a two-term sum of rationals of small ints. Top-10 by
    fused score, doc_id tie-break."""
    from data_ingestion_project_spark.queries.embeddings import QUERY_VEC_ID, _query_vec
    from data_ingestion_project_spark.functions.vectors import cosine_similarity

    d = table(spark, sf_dir, "documents")
    e = table(spark, sf_dir, "embeddings")
    emb_ids = e.select(F.col("vec_id").alias("doc_id"))

    toks = (
        d.join(emb_ids, "doc_id", "left_semi")
        .select("doc_id", F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("word"))
    )
    lens = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats = lens.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.sum("dl").cast("double").alias("sum_dl"),
    )
    qtoks = toks.filter(F.col("word").isin(*BM25_TERMS))
    tf = qtoks.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("tf"))
    df_ = qtoks.groupBy("word").agg(F.count_distinct("doc_id").alias("df"))
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    tf_norm = (F.col("tf") * (BM25_K1 + 1)) / (
        F.col("tf")
        + BM25_K1
        * (1 - BM25_B + BM25_B * F.col("dl") * F.col("n_docs") / F.col("sum_dl"))
    )
    totals = (
        tf.join(F.broadcast(df_), "word")
        .join(lens, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", F.round(idf * tf_norm * 1_000_000, 0).cast("long").alias("score_i"))
        .groupBy("doc_id")
        .agg(F.sum("score_i").alias("total_i"))
    )
    # Top-50 FIRST via orderBy().limit() (TakeOrderedAndProject — a
    # per-partition heap fold, no corpus-wide exchange), THEN rank the
    # 50-row frame with a window. The r5 plan ranked the full corpus
    # with an unpartitioned window and filtered after — every scored
    # doc through one task at 100×. Ordering is total (doc_id
    # tie-break) so limit-then-rank == rank-then-filter.
    lex_order = (F.col("total_i").desc(), F.col("doc_id").asc())
    wl = Window.orderBy(*lex_order)
    lex = (
        totals.orderBy(*lex_order)
        .limit(50)
        .withColumn("lex_rank", F.row_number().over(wl))
        .select("doc_id", "lex_rank")
    )

    q = _query_vec(spark, sf_dir)
    qlit = F.array(*[F.lit(float(x)) for x in q])
    corpus = e.filter(F.col("vec_id") != QUERY_VEC_ID).select(
        F.col("vec_id").alias("doc_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    # Same limit-then-rank shape as the lexical side (see above).
    dense_order = (F.col("qcos").desc(), F.col("doc_id").asc())
    wv = Window.orderBy(*dense_order)
    dense = (
        corpus.withColumn("qcos", cosine_similarity("v", qlit))
        .orderBy(*dense_order)
        .limit(50)
        .withColumn("vec_rank", F.row_number().over(wv))
        .select("doc_id", "vec_rank")
    )
    fused = (
        lex.join(dense, "doc_id", "full_outer")
        .select(
            "doc_id",
            F.round(
                F.coalesce(F.lit(1.0) / (RRF_C + F.col("lex_rank")), F.lit(0.0))
                + F.coalesce(F.lit(1.0) / (RRF_C + F.col("vec_rank")), F.lit(0.0)),
                6,
            ).alias("rrf"),
            F.col("lex_rank"),
            F.col("vec_rank"),
        )
    )
    return (
        fused.orderBy(F.col("rrf").desc(), F.col("doc_id").asc())
        .limit(10)
        .select("doc_id", "rrf", "lex_rank", "vec_rank")
    )


ORACLE_HYBRID_RRF_SEARCH = f"""
WITH emb_docs AS (
  SELECT d.doc_id, d.text FROM documents d
  SEMI JOIN embeddings e ON d.doc_id = e.vec_id
), toks AS (
  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS word
  FROM emb_docs
), lens AS (
  SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id
), stats AS (
  SELECT COUNT(*) * 1.0 AS n_docs, SUM(dl) * 1.0 AS sum_dl FROM lens
), tf AS (
  SELECT doc_id, word, COUNT(*) AS tf FROM toks
  WHERE word IN {BM25_TERMS} GROUP BY doc_id, word
), df AS (
  SELECT word, COUNT(DISTINCT doc_id) AS df FROM toks
  WHERE word IN {BM25_TERMS} GROUP BY word
), per_term AS (
  SELECT tf.doc_id,
         CAST(ROUND(
           ln(1.0 + (s.n_docs - df.df + 0.5) / (df.df + 0.5))
           * ((tf.tf * ({BM25_K1} + 1)) /
              (tf.tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * l.dl * s.n_docs / s.sum_dl)))
           * 1000000, 0) AS BIGINT) AS score_i
  FROM tf JOIN df USING (word) JOIN lens l ON l.doc_id = tf.doc_id, stats s
), totals AS (
  SELECT doc_id, SUM(score_i) AS total_i FROM per_term GROUP BY doc_id
), lex AS (
  SELECT doc_id, lex_rank FROM (
    SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY total_i DESC, doc_id ASC) AS INTEGER) AS lex_rank
    FROM totals
  ) t WHERE lex_rank <= 50
), q AS (
  SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0
), dense AS (
  SELECT doc_id, vec_rank FROM (
    SELECT e.vec_id AS doc_id,
           CAST(ROW_NUMBER() OVER (
             ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], q.qv) DESC,
                      e.vec_id ASC) AS INTEGER) AS vec_rank
    FROM embeddings e, q WHERE e.vec_id <> 0
  ) t WHERE vec_rank <= 50
), fused AS (
  SELECT COALESCE(l.doc_id, v.doc_id) AS doc_id,
         ROUND(COALESCE(1.0 / ({RRF_C} + l.lex_rank), 0)
               + COALESCE(1.0 / ({RRF_C} + v.vec_rank), 0), 6) AS rrf,
         l.lex_rank, v.vec_rank
  FROM lex l FULL OUTER JOIN dense v ON l.doc_id = v.doc_id
)
SELECT doc_id, rrf, lex_rank, vec_rank
FROM fused ORDER BY rrf DESC, doc_id ASC LIMIT 10
"""


ORACLE_TFIDF_TOP_TERMS = """
WITH words AS (
  SELECT doc_id, lang, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS word
  FROM documents
), tf AS (
  SELECT lang, word, COUNT(*) AS tf FROM words GROUP BY lang, word
), df AS (
  SELECT word, COUNT(DISTINCT doc_id) AS df FROM words GROUP BY word
), scored AS (
  SELECT lang, word,
         ROUND(tf * ln((SELECT COUNT(*) FROM documents) * 1.0 / df), 6) AS tfidf
  FROM tf JOIN df USING (word)
), ranked AS (
  SELECT lang, word, tfidf,
         CAST(ROW_NUMBER() OVER (PARTITION BY lang ORDER BY tfidf DESC, word ASC) AS INTEGER) AS rank
  FROM scored
)
SELECT lang, word, tfidf, rank FROM ranked WHERE rank <= 3
ORDER BY lang, rank
"""


def returnflag_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (wide → long) via stack(): the inverse of
    returnflag_pivot, demonstrating the melt operator family."""
    wide = returnflag_pivot(spark, sf_dir)
    return (
        wide.selectExpr(
            "l_linestatus",
            "stack(3, 'A', rev_a, 'N', rev_n, 'R', rev_r) AS (returnflag, revenue)",
        )
        .orderBy("l_linestatus", "returnflag")
    )


ORACLE_RETURNFLAG_UNPIVOT = f"""
WITH wide AS (
  SELECT l_linestatus,
         {sql_dec_sum("CASE WHEN l_returnflag = 'A' THEN l_extendedprice * (1 - l_discount) END")} AS rev_a,
         {sql_dec_sum("CASE WHEN l_returnflag = 'N' THEN l_extendedprice * (1 - l_discount) END")} AS rev_n,
         {sql_dec_sum("CASE WHEN l_returnflag = 'R' THEN l_extendedprice * (1 - l_discount) END")} AS rev_r
  FROM lineitem GROUP BY l_linestatus
)
SELECT l_linestatus, returnflag, revenue FROM (
  SELECT l_linestatus, 'A' AS returnflag, rev_a AS revenue FROM wide
  UNION ALL SELECT l_linestatus, 'N', rev_n FROM wide
  UNION ALL SELECT l_linestatus, 'R', rev_r FROM wide
)
ORDER BY l_linestatus, returnflag
"""


# --------------------------------------------------- scalar fn families


def customer_name_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-function family in one pass: substring, regexp_extract,
    concat, upper, length, modulo bucketing — all codegen'd JVM
    expressions (c_name format 'Customer#000000123')."""
    c = table(spark, sf_dir, "customer")
    digits = F.regexp_extract("c_name", r"#(\d+)$", 1).cast("long")
    return (
        c.select(
            (digits % 10).cast("int").alias("last_digit"),
            F.length("c_name").alias("name_len"),
            F.upper(F.substring("c_name", 1, 4)).alias("prefix"),
        )
        .groupBy("last_digit", "prefix")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("name_len").alias("min_len"),
            F.max("name_len").alias("max_len"),
        )
        .orderBy("last_digit", "prefix")
    )


ORACLE_CUSTOMER_NAME_DIGITS = """
SELECT CAST(CAST(regexp_extract(c_name, '#(\\d+)$', 1) AS BIGINT) % 10 AS INTEGER) AS last_digit,
       upper(substring(c_name, 1, 4)) AS prefix,
       COUNT(*) AS n,
       MIN(length(c_name)) AS min_len,
       MAX(length(c_name)) AS max_len
FROM customer
GROUP BY 1, 2
ORDER BY last_digit, prefix
"""


def shipping_delay_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-arithmetic family: datediff between fact tables, integer
    bucket, month extraction — the classic ship-delay distribution."""
    l = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    joined = l.join(o, l.l_orderkey == o.o_orderkey)
    delay = F.datediff("l_shipdate", "o_orderdate")
    return (
        joined.select(
            F.least(F.floor(delay / 30), F.lit(6)).cast("int").alias("delay_bucket_months"),
            F.month("o_orderdate").alias("order_month"),
        )
        .groupBy("delay_bucket_months")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.count_distinct("order_month").alias("n_order_months"),
        )
        .orderBy("delay_bucket_months")
    )


ORACLE_SHIPPING_DELAY_HISTOGRAM = """
SELECT CAST(LEAST(FLOOR(date_diff('day', o_orderdate, l_shipdate) / 30.0), 6) AS INTEGER)
         AS delay_bucket_months,
       COUNT(*) AS n_items,
       COUNT(DISTINCT month(o_orderdate)) AS n_order_months
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY 1
ORDER BY delay_bucket_months
"""


def acctbal_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile analysis via ntile(10): equal-frequency bucketing, then
    per-decile stats — the quantile-bucketing window shape. Single
    global window over the customer table (small); at 100 TB use
    approx quantile cut-points + a join instead of a 1-partition sort."""
    c = table(spark, sf_dir, "customer")
    w = Window.orderBy(F.col("c_acctbal").asc(), F.col("c_custkey").asc())
    return (
        c.withColumn("decile", F.ntile(10).over(w).cast("int"))
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("c_acctbal"), 2).alias("lo"),
            F.round(F.max("c_acctbal"), 2).alias("hi"),
        )
        .orderBy("decile")
    )


def acctbal_deciles_scalable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB twin of acctbal_deciles: identical output (same
    oracle), but bucketing runs through the distributed
    equal-frequency operator (operators/quantiles.py) — range-bucket
    by approx cut-points, rank per bucket, offset to exact global
    rank — instead of a single-partition ntile window."""
    from data_ingestion_project_spark.operators.quantiles import equal_frequency_buckets

    c = table(spark, sf_dir, "customer")
    d = equal_frequency_buckets(
        c, "c_acctbal", 10, tiebreak_cols=["c_custkey"], out_col="decile"
    )
    return (
        d.groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("c_acctbal"), 2).alias("lo"),
            F.round(F.max("c_acctbal"), 2).alias("hi"),
        )
        .orderBy("decile")
    )


_ABC_BUCKET_MICRO = 10_000_000_000  # 1e4 money units per cumsum bucket


def abc_customer_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto / ABC classification of customers by revenue: class A =
    customers covering the first 80% of cumulative revenue (richest
    first), B = the next 15%, C = the tail — the inventory-control
    census behind "which 20% of accounts carry the business".

    The weighted big brother of the decile query: the cutoffs are on
    CUMULATIVE REVENUE, not row counts, so it needs an ordered
    weighted cumsum over the per-customer frame — a corpus-scale
    entity set.  Same two-level decomposition as the KS census: cumsum
    WITHIN revenue-range buckets (window partitioned by bucket —
    parallel), plus an exclusive prefix over the ~value-range/1e4-row
    bucket-partials frame (the only single-partition step,
    value-domain-sized, constant in the corpus).

    Exactness: per-customer revenues are exact micro-unit DECIMALs and
    every cumulative sum folds those decimals exactly; class
    boundaries compare cum·100 ≤ total·80/95 in pure integer
    arithmetic — the classification involves no float at all.  Output
    shares are value-determined divisions of exact integers."""
    o = table(spark, sf_dir, "orders")
    rev = pin(
        o.groupBy("o_custkey")
        .agg(F.sum(to_micro(F.col("o_totalprice")).cast(DEC_BUF)).alias("rev_i"))
        .withColumn("bkt", F.floor(F.col("rev_i") / F.lit(_ABC_BUCKET_MICRO)))
    )
    bp = rev.groupBy("bkt").agg(F.sum("rev_i").alias("b_rev"))
    wb = Window.orderBy(F.col("bkt").desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    prefix = bp.select(
        "bkt",
        F.coalesce(F.sum("b_rev").over(wb), F.lit(0).cast("decimal(38,0)")).alias(
            "p_rev"
        ),
    )
    wv = Window.partitionBy("bkt").orderBy(
        F.col("rev_i").desc(), F.col("o_custkey").asc()
    ).rowsBetween(Window.unboundedPreceding, 0)
    cum = (
        rev.join(F.broadcast(prefix), "bkt")
        .select(
            "o_custkey",
            "rev_i",
            (F.col("p_rev") + F.sum("rev_i").over(wv)).alias("cum_rev"),
        )
    )
    tot = rev.agg(F.sum("rev_i").alias("tot_rev"))
    classed = cum.crossJoin(F.broadcast(tot)).select(
        "o_custkey",
        "rev_i",
        F.when(F.col("cum_rev") * 100 <= F.col("tot_rev") * 80, "A")
        .when(F.col("cum_rev") * 100 <= F.col("tot_rev") * 95, "B")
        .otherwise("C")
        .alias("abc_class"),
        "tot_rev",
    )
    return (
        classed.groupBy("abc_class")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(
                F.sum("rev_i").cast("double") / F.max("tot_rev").cast("double"), 6
            ).alias("revenue_share"),
        )
        .orderBy("abc_class")
    )


_DECG = "decimal(38,0)"  # rank x micro-revenue products


def revenue_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer revenue — the single-number
    inequality census behind the ABC classes (G = 0 everyone equal,
    → 1 one whale): G = 2·Σᵢ i·xᵢ / (n·Σx) − (n+1)/n over revenues
    sorted ascending with rank i.

    The global rank is the scale problem; this computes it EXACTLY
    with the same two-level decomposition as abc_customer_classes:
    within-bucket row_number (bucket-partitioned window — parallel) +
    an exclusive COUNT prefix over the value-domain-sized
    bucket-partials frame.  Rank·revenue products are DECIMAL
    multiplies of exact integers folded exactly, so the statistic is
    value-determined to the last micro-digit."""
    o = table(spark, sf_dir, "orders")
    rev = pin(
        o.groupBy("o_custkey")
        .agg(F.sum(to_micro(F.col("o_totalprice")).cast(DEC_BUF)).alias("rev_i"))
        .withColumn("bkt", F.floor(F.col("rev_i") / F.lit(_ABC_BUCKET_MICRO)))
    )
    bp = rev.groupBy("bkt").agg(F.count(F.lit(1)).alias("b_n"))
    wb = Window.orderBy(F.col("bkt").asc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    prefix = bp.select(
        "bkt", F.coalesce(F.sum("b_n").over(wb), F.lit(0)).alias("p_n")
    )
    wv = Window.partitionBy("bkt").orderBy(
        F.col("rev_i").asc(), F.col("o_custkey").asc()
    )
    ranked = (
        rev.join(F.broadcast(prefix), "bkt")
        .select(
            "rev_i",
            (F.col("p_n") + F.row_number().over(wv)).alias("rank"),
        )
    )
    g = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("rev_i").alias("s_i"),
        F.sum(F.col("rank").cast(_DECG) * F.col("rev_i")).alias("rs_i"),
    )
    n = F.col("n").cast("double")
    s = F.col("s_i").cast("double")
    rs = F.col("rs_i").cast("double")
    gini = F.lit(2.0) * rs / (n * s) - (n + F.lit(1.0)) / n
    m = F.lit(1_000_000.0)
    return g.select(
        F.col("n").cast("long").alias("n_customers"),
        F.round(F.col("s_i").cast("double") / m, 2).alias("total_revenue"),
        ((gini * m).cast("long").cast("double") / m).alias("gini"),
    )


ORACLE_REVENUE_GINI = """
WITH rev AS (
  SELECT o_custkey,
         SUM(CAST(trunc(o_totalprice * 1000000) AS BIGINT)) AS rev_i
  FROM orders GROUP BY o_custkey
), ranked AS (
  SELECT rev_i,
         ROW_NUMBER() OVER (ORDER BY rev_i ASC, o_custkey ASC) AS rank
  FROM rev
), g AS (
  SELECT COUNT(*) AS n, SUM(rev_i) AS s_i, SUM(rank * rev_i) AS rs_i
  FROM ranked
)
SELECT CAST(n AS BIGINT) AS n_customers,
       ROUND(CAST(s_i AS DOUBLE) / 1000000.0, 2) AS total_revenue,
       CAST(CAST(trunc((2.0 * CAST(rs_i AS DOUBLE)
                        / (CAST(n AS DOUBLE) * CAST(s_i AS DOUBLE))
                        - (CAST(n AS DOUBLE) + 1.0) / CAST(n AS DOUBLE))
                       * 1000000.0) AS BIGINT) AS DOUBLE) / 1000000.0 AS gini
FROM g
"""


ORACLE_ABC_CUSTOMER_CLASSES = f"""
WITH rev AS (
  SELECT o_custkey,
         SUM(CAST(trunc(o_totalprice * 1000000) AS BIGINT)) AS rev_i
  FROM orders GROUP BY o_custkey
), cum AS (
  SELECT o_custkey, rev_i,
         SUM(rev_i) OVER (ORDER BY rev_i DESC, o_custkey ASC) AS cum_rev
  FROM rev
), tot AS (SELECT SUM(rev_i) AS tot_rev FROM rev),
classed AS (
  SELECT o_custkey, rev_i,
         CASE WHEN cum_rev * 100 <= tot_rev * 80 THEN 'A'
              WHEN cum_rev * 100 <= tot_rev * 95 THEN 'B'
              ELSE 'C' END AS abc_class,
         tot_rev
  FROM cum CROSS JOIN tot
)
SELECT abc_class, COUNT(*) AS n_customers,
       ROUND(CAST(SUM(rev_i) AS DOUBLE) / CAST(MAX(tot_rev) AS DOUBLE), 6)
         AS revenue_share
FROM classed GROUP BY abc_class ORDER BY abc_class
"""


ORACLE_ACCTBAL_DECILES = """
SELECT decile, COUNT(*) AS n, ROUND(MIN(c_acctbal), 2) AS lo, ROUND(MAX(c_acctbal), 2) AS hi
FROM (
  SELECT c_acctbal,
         CAST(NTILE(10) OVER (ORDER BY c_acctbal ASC, c_custkey ASC) AS INTEGER) AS decile
  FROM customer
) t
GROUP BY decile
ORDER BY decile
"""


# --------------------------------------- approximate (rows-only) twins


def approx_daily_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct counts: mergeable sketches, no expand —
    the 100 TB path for DAU where exact count_distinct's per-key dedup
    state would dominate the shuffle. Rows-only check (approximate by
    construction; rsd=2%)."""
    e = table(spark, sf_dir, "events")
    return (
        e.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"))
        .agg(F.approx_count_distinct("user_id", rsd=0.02).alias("approx_dau"))
        .orderBy("day")
    )


def sketch_rollup_dau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL register ROLLUP (operators/hll.py — portable deterministic
    HyperLogLog): per-day 1024-bucket register tables from 60-bit md5
    hashes, per-day estimates read from the registers, and the TOTAL
    row from the register-wise MAX across days — the exact HLL union,
    the re-aggregation pattern approx_count_distinct cannot do (its
    estimate is terminal). At 100 TB this is the standing-aggregate
    design for distinct counts: registers are computed once at ingest
    (one partial-agg shuffle bounded by days x 1024 rows), any
    date-range distinct query is a register MAX over stored KB-sized
    state, zero fact-table rescan. Unlike a binary Datasketches HLL
    (hll_sketch_agg: opaque bytes no other engine can replay), every
    stage here — integer bit-length rho, exact int64 harmonic fold,
    ln-quantized linear counting — replays as ANSI SQL,
    so the driver certifies the whole rollup VALUE-EXACTLY; the ~3%
    accuracy floor vs exact DAU is pinned in pytest."""
    from data_ingestion_project_spark.operators.hll import (
        hll_estimate,
        hll_registers,
        md5_int60,
    )

    e = table(spark, sf_dir, "events")
    regs = hll_registers(
        e.select(F.date_format("ts", "yyyy-MM-dd").alias("day"), "user_id"),
        md5_int60(F.col("user_id")),
        ["day"],
    )
    per_day = hll_estimate(regs, ["day"])
    tregs = regs.groupBy("bucket").agg(F.max("m_reg").alias("m_reg")).withColumn(
        "day", F.lit("TOTAL")
    )
    total = hll_estimate(tregs, ["day"])
    return per_day.unionByName(total).orderBy("day")


def _oracle_sketch_rollup_dau() -> str:
    from data_ingestion_project_spark.operators.hll import (
        sql_hll_estimate,
        sql_md5_int60,
    )

    return f"""
WITH h0 AS (
  SELECT DISTINCT strftime(ts, '%Y-%m-%d') AS day,
         md5(CAST(user_id AS VARCHAR)) AS hx
  FROM events
), h AS (
  SELECT day, {sql_md5_int60('hx')} AS hv FROM h0
), b AS (
  SELECT day, hv % 1024 AS bucket, hv // 1024 AS w FROM h
), r AS (
  SELECT day, bucket,
         MAX(CASE WHEN w = 0 THEN 51 ELSE 51 - length(bin(w)) END) AS m_reg
  FROM b GROUP BY day, bucket
), rt AS (
  SELECT 'TOTAL' AS day, bucket, MAX(m_reg) AS m_reg FROM r GROUP BY bucket
), ru AS (
  SELECT * FROM r UNION ALL SELECT * FROM rt
)
SELECT * FROM ({sql_hll_estimate('ru', 'day')}) ORDER BY day
"""


ORACLE_SKETCH_ROLLUP_DAU = _oracle_sketch_rollup_dau()


def quantile_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable QUANTILE rollup (operators/quantile_sketch.py:
    deterministic bottom-k hash sampling) — the quantile twin of
    sketch_rollup_dau: one ~K-row sketch of event values per day, then
    the period's p50/p90 read from the MERGE of the stored day
    sketches, zero fact rescan. approx_percentile cannot do this (its
    estimate is terminal); the bottom-k sample is mergeable by exact
    algebraic identity — merge-of-days EQUALS sketching the period
    directly, bit-for-bit (pinned in pytest), and the whole pipeline
    is a pure function of the data (hashed row keys, no RNG).

    Runs in md5-keyed mode (``use_md5``): the sample order is the md5
    hex of the row key, identical across engines, so the DuckDB oracle
    replays the ENTIRE pipeline — per-day bottom-K selection, the
    day-sketch union for TOTAL, and the rank-ceil(p·n) quantile reads
    — value-exactly. (The approximation is in WHICH rows the sample
    keeps, not in either engine's arithmetic; the O(1/sqrt(K))
    rank-error floor vs exact quantiles is separately pinned in
    pytest. Production streams keep the xxhash64 default for codegen
    speed — same trade as md5_minhash_candidates.)"""
    from data_ingestion_project_spark.operators.quantile_sketch import (
        bottomk_sketches,
        merge_bottomk,
        sketch_quantile,
    )

    # r13 (guide §2.3 narrower types / §1 measure first): the pipeline
    # groups and shuffles on a DATE (int32 internally) and renders the
    # day STRING only in the final output — the yyyy-MM-dd formatter
    # ran per ROW per pass before (count pass + build pass), measured
    # 3.36 → 2.19 s on the whole sf10 build. date_format(DATE) emits
    # the identical string, and DATE↔string days are 1:1, so groups,
    # sketches and output rows are unchanged.
    e = table(spark, sf_dir, "events").withColumn("day", F.to_date("ts"))
    daily = bottomk_sketches(e, "value", ["day"], "event_id", k=1024, use_md5=True)
    per_day = daily.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.round(sketch_quantile(F.col("sketch"), 0.5), 4).alias("p50_value"),
        F.round(sketch_quantile(F.col("sketch"), 0.9), 4).alias("p90_value"),
    )
    total = merge_bottomk(daily, [], k=1024).select(
        F.lit("TOTAL").alias("day"),
        F.round(sketch_quantile(F.col("sketch"), 0.5), 4).alias("p50_value"),
        F.round(sketch_quantile(F.col("sketch"), 0.9), 4).alias("p90_value"),
    )
    return per_day.unionByName(total).orderBy("day")


def quantile_sketch_rollup_xx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION-path twin of quantile_sketch_rollup (VERDICT r4
    ask #5): identical pipeline — per-day bottom-k sketches, merge for
    TOTAL, p50/p90 reads — but with the operator's default seeded
    xxhash64 sample keys instead of md5 hex strings. xxhash64 is a
    JVM codegen builtin ordering LONGs, while the oracle-parity mode
    orders 32-char hex STRINGS through a Python-portable md5 — ~2× the
    cost; this twin is what a deployment actually runs and what the
    bench should price. Rows-only by necessity (xxhash64 has no DuckDB
    equivalent): correctness rides on the md5 twin's value-exact
    oracle plus the operator's pytest (merge identity + rank-error
    floor hold for ANY uniform key order, so they transfer verbatim —
    the two modes differ only in WHICH uniformly-random sample
    survives, not in any arithmetic)."""
    from data_ingestion_project_spark.operators.quantile_sketch import (
        bottomk_sketches,
        merge_bottomk,
        sketch_quantile,
    )

    # r13: DATE group key, string rendered once at output (see the md5
    # twin above — same 1:1 day identity, measured −35% on the build)
    e = table(spark, sf_dir, "events").withColumn("day", F.to_date("ts"))
    daily = bottomk_sketches(e, "value", ["day"], "event_id", k=1024, use_md5=False)
    per_day = daily.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.round(sketch_quantile(F.col("sketch"), 0.5), 4).alias("p50_value"),
        F.round(sketch_quantile(F.col("sketch"), 0.9), 4).alias("p90_value"),
    )
    total = merge_bottomk(daily, [], k=1024).select(
        F.lit("TOTAL").alias("day"),
        F.round(sketch_quantile(F.col("sketch"), 0.5), 4).alias("p50_value"),
        F.round(sketch_quantile(F.col("sketch"), 0.9), 4).alias("p90_value"),
    )
    return per_day.unionByName(total).orderBy("day")


# Full SQL replay of the md5-keyed bottom-k pipeline: per-day bottom-K
# selection, quantile read at rank ceil(p*n) of the value-sorted
# sample, and the TOTAL row from the bottom-K of the union (the merge
# identity: bottom-k of concatenated bottom-k's = bottom-k of all
# rows, so the oracle takes bottom-K over all rows directly).
ORACLE_QUANTILE_SKETCH_ROLLUP = """
WITH src AS (
  SELECT strftime(ts, '%Y-%m-%d') AS day, value,
         md5(CAST(event_id AS VARCHAR)) AS h
  FROM events WHERE value IS NOT NULL
), dsk AS (
  SELECT day, value FROM (
    SELECT day, value,
           ROW_NUMBER() OVER (PARTITION BY day ORDER BY h, value) AS rn
    FROM src
  ) t WHERE rn <= 1024
), dsort AS (
  SELECT day, value,
         ROW_NUMBER() OVER (PARTITION BY day ORDER BY value) AS vr,
         COUNT(*) OVER (PARTITION BY day) AS n
  FROM dsk
), per_day AS (
  SELECT day,
         ROUND(MAX(CASE WHEN vr = GREATEST(1, LEAST(n, CAST(CEIL(0.5 * n) AS BIGINT)))
                   THEN value END), 4) AS p50_value,
         ROUND(MAX(CASE WHEN vr = GREATEST(1, LEAST(n, CAST(CEIL(0.9 * n) AS BIGINT)))
                   THEN value END), 4) AS p90_value
  FROM dsort GROUP BY day
), tsk AS (
  SELECT value FROM (
    SELECT value, ROW_NUMBER() OVER (ORDER BY h, value) AS rn FROM src
  ) t WHERE rn <= 1024
), tsort AS (
  SELECT value,
         ROW_NUMBER() OVER (ORDER BY value) AS vr,
         COUNT(*) OVER () AS n
  FROM tsk
), total AS (
  SELECT 'TOTAL' AS day,
         ROUND(MAX(CASE WHEN vr = GREATEST(1, LEAST(n, CAST(CEIL(0.5 * n) AS BIGINT)))
                   THEN value END), 4) AS p50_value,
         ROUND(MAX(CASE WHEN vr = GREATEST(1, LEAST(n, CAST(CEIL(0.9 * n) AS BIGINT)))
                   THEN value END), 4) AS p90_value
  FROM tsort
)
SELECT * FROM per_day UNION ALL SELECT * FROM total ORDER BY day
"""


_KMV_K = 256
_KMV_BITS_HEX = 12  # 48-bit hash prefix: exact in BIGINT and double
_KMV_SPACE = 16 ** _KMV_BITS_HEX


def _kmv_hash_int() -> F.Column:
    """First 12 hex chars of md5(user_id) as a 48-bit BIGINT — the
    cross-engine-deterministic KMV sample key (same md5 idiom as the
    quantile sketch's oracle mode; 48 bits keep every value and every
    ratio exact in both engines' integers/doubles)."""
    return F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, _KMV_BITS_HEX), 16, 10).cast(
        "long"
    )


def _sql_kmv_hash_int(hex_col: str = "h") -> str:
    """DuckDB replay of _kmv_hash_int over a precomputed md5-hex column
    (no conv() there): positional hex-digit arithmetic —
    Σ digit_i · 16^(12-i), integer-exact."""
    return " + ".join(
        f"(strpos('0123456789abcdef', substr({hex_col}, {i + 1}, 1)) - 1)"
        f" * {16 ** (_KMV_BITS_HEX - 1 - i)}"
        for i in range(_KMV_BITS_HEX)
    )


def kmv_dau_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VALUE-EXACT certified twin of sketch_rollup_dau (the md5-replay
    posture the ANN recall family uses): distinct users per day and for
    the TOTAL period via a KMV (k-minimum-values / bottom-k theta)
    sketch — the k smallest 48-bit md5 prefixes of the distinct user
    hashes. Estimate: exact count when a day holds fewer than k
    distinct users (the sketch IS the set), else (k-1) · 2^48 /
    kth_smallest — the classic KMV estimator (Bar-Yossef et al. 2002),
    here integer-exact cross-engine because the hash values, the
    bottom-k selection, and the division operands are identical
    BIGINTs in Spark and DuckDB. The TOTAL row demonstrates the
    MERGEABILITY that terminal approx_count_distinct lacks: bottom-k
    of the union of per-day bottom-k sets == bottom-k of all distinct
    hashes (the same SET-semantics fold as the quantile sketch), so a
    date-range rollup reads stored KB-sized sketches, zero fact
    rescan. The binary datasketches HLL variant (sketch_rollup_dau)
    stays the production bench path; this twin is what lets the driver
    certify the ROLLUP SEMANTICS value-exactly. Accuracy vs exact DAU
    pinned in pytest (k=256 → ~6% standard error)."""
    e = table(spark, sf_dir, "events")
    hashes = (
        e.select(
            F.date_format("ts", "yyyy-MM-dd").alias("day"),
            _kmv_hash_int().alias("hv"),
        )
        .distinct()
    )
    w = Window.partitionBy("day").orderBy("hv")
    bottom = hashes.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= _KMV_K
    )
    per_day = bottom.groupBy("day").agg(
        F.count(F.lit(1)).alias("n"), F.max("hv").alias("kth")
    )
    est = F.when(F.col("n") < _KMV_K, F.col("n").cast("double")).otherwise(
        F.round((_KMV_K - 1) * F.lit(float(_KMV_SPACE)) / F.col("kth"), 0)
    )
    day_rows = per_day.select("day", est.cast("long").alias("est_users"))
    # TOTAL: merge = bottom-k of the union of the per-day sketches
    # (distinct hashes already union'd by the global distinct).
    # orderBy().limit(k) compiles to TakeOrderedAndProject — per-
    # partition bottom-k folded on the driver — NOT a corpus-wide
    # single-partition window (the r5 plan had Window.orderBy("hv")
    # here: every distinct user hash through one task at 100×).
    gbottom = hashes.select("hv").distinct().orderBy("hv").limit(_KMV_K)
    gtot = gbottom.agg(F.count(F.lit(1)).alias("n"), F.max("hv").alias("kth"))
    total = gtot.select(
        F.lit("TOTAL").alias("day"),
        F.when(F.col("n") < _KMV_K, F.col("n").cast("double"))
        .otherwise(F.round((_KMV_K - 1) * F.lit(float(_KMV_SPACE)) / F.col("kth"), 0))
        .cast("long")
        .alias("est_users"),
    )
    return day_rows.unionByName(total).orderBy("day")


ORACLE_KMV_DAU_ROLLUP = f"""
WITH h0 AS (
  SELECT DISTINCT strftime(ts, '%Y-%m-%d') AS day,
         md5(CAST(user_id AS VARCHAR)) AS h
  FROM events
), hashes AS (
  SELECT DISTINCT day, {_sql_kmv_hash_int("h")} AS hv FROM h0
), bottom AS (
  SELECT day, hv FROM (
    SELECT day, hv, ROW_NUMBER() OVER (PARTITION BY day ORDER BY hv) AS rn
    FROM hashes
  ) t WHERE rn <= {_KMV_K}
), per_day AS (
  SELECT day, COUNT(*) AS n, MAX(hv) AS kth FROM bottom GROUP BY day
), day_rows AS (
  SELECT day,
         CAST(CASE WHEN n < {_KMV_K} THEN n * 1.0
              ELSE ROUND(({_KMV_K} - 1) * {float(_KMV_SPACE)} / kth, 0) END AS BIGINT)
           AS est_users
  FROM per_day
), ghashes AS (
  SELECT DISTINCT hv FROM hashes
), gbottom AS (
  SELECT hv FROM (
    SELECT hv, ROW_NUMBER() OVER (ORDER BY hv) AS rn FROM ghashes
  ) t WHERE rn <= {_KMV_K}
), gtot AS (
  SELECT COUNT(*) AS n, MAX(hv) AS kth FROM gbottom
), total AS (
  SELECT 'TOTAL' AS day,
         CAST(CASE WHEN n < {_KMV_K} THEN n * 1.0
              ELSE ROUND(({_KMV_K} - 1) * {float(_KMV_SPACE)} / kth, 0) END AS BIGINT)
           AS est_users
  FROM gtot
)
SELECT * FROM day_rows UNION ALL SELECT * FROM total ORDER BY day
"""


def kmv_weekly_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VALUE-EXACT certified twin of theta_weekly_retention: sketch SET
    INTERSECTION between adjacent weeks from KMV bottom-k sketches.
    Per week: the k smallest 48-bit md5 prefixes of the distinct user
    hashes, with threshold θ_w = kth smallest (or the full space when
    the week holds fewer than k users — the sketch is then the exact
    set). Retained estimate between week A and its successor B: the
    standard theta-intersection estimator — D = |{h ∈ bottomk_A ∩
    bottomk_B : h < θ}| with θ = min(θ_A, θ_B), scaled by 2^48/θ
    (degenerating to the EXACT intersection count when both weeks are
    below k). Every step — hashing, bottom-k, the hash equi-join, the
    θ compare, the one scaled division — replays integer-exactly in
    DuckDB, certifying the sketch-algebra SEMANTICS the binary
    datasketches path (still the bench production variant) can only
    smoke-test. Accuracy floor vs the exact week self-join pinned in
    pytest."""
    e = table(spark, sf_dir, "events")
    hashes = (
        e.select(
            F.date_trunc("week", "ts").alias("wk"),
            _kmv_hash_int().alias("hv"),
        )
        .distinct()
    )
    w = Window.partitionBy("wk").orderBy("hv")
    bottom = hashes.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= _KMV_K
    )
    thr = bottom.groupBy("wk").agg(
        F.count(F.lit(1)).alias("n"), F.max("hv").alias("kth")
    )
    theta = thr.select(
        "wk",
        "n",
        "kth",
        F.when(F.col("n") < _KMV_K, F.lit(_KMV_SPACE).cast("long"))
        .otherwise(F.col("kth"))
        .alias("th"),
    )
    week_est = theta.select(
        "wk",
        F.when(F.col("n") < _KMV_K, F.col("n").cast("double"))
        .otherwise(F.round((_KMV_K - 1) * F.lit(float(_KMV_SPACE)) / F.col("kth"), 0))
        .cast("long")
        .alias("est_week_users"),
    )
    nxt_theta = theta.select(
        (F.col("wk") - F.expr("INTERVAL 7 DAYS")).alias("wk"),
        F.col("th").alias("th_next"),
    )
    pair_theta = theta.select("wk", "th").join(nxt_theta, "wk").select(
        "wk", F.least("th", "th_next").alias("th_pair")
    )
    nxt_b = bottom.select(
        (F.col("wk") - F.expr("INTERVAL 7 DAYS")).alias("wk"), "hv"
    )
    inter = (
        bottom.select("wk", "hv")
        .join(nxt_b, ["wk", "hv"])
        .join(F.broadcast(pair_theta), "wk")
        .filter(F.col("hv") < F.col("th_pair"))
        .groupBy("wk")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    out = (
        pair_theta.join(week_est, "wk")
        .join(inter, "wk", "left")
        .select(
            F.date_format("wk", "yyyy-MM-dd").alias("week_start"),
            "est_week_users",
            F.round(
                F.coalesce(F.col("d"), F.lit(0))
                * F.lit(float(_KMV_SPACE))
                / F.col("th_pair"),
                0,
            )
            .cast("long")
            .alias("est_retained_next_week"),
        )
    )
    return out.orderBy("week_start")


ORACLE_KMV_WEEKLY_RETENTION = f"""
WITH h0 AS (
  SELECT DISTINCT date_trunc('week', ts) AS wk, md5(CAST(user_id AS VARCHAR)) AS h
  FROM events
), hashes AS (
  SELECT DISTINCT wk, {_sql_kmv_hash_int("h")} AS hv FROM h0
), bottom AS (
  SELECT wk, hv FROM (
    SELECT wk, hv, ROW_NUMBER() OVER (PARTITION BY wk ORDER BY hv) AS rn
    FROM hashes
  ) t WHERE rn <= {_KMV_K}
), thr AS (
  SELECT wk, COUNT(*) AS n, MAX(hv) AS kth FROM bottom GROUP BY wk
), theta AS (
  SELECT wk, n, kth,
         CASE WHEN n < {_KMV_K} THEN {_KMV_SPACE} ELSE kth END AS th
  FROM thr
), week_est AS (
  SELECT wk,
         CAST(CASE WHEN n < {_KMV_K} THEN n * 1.0
              ELSE ROUND(({_KMV_K} - 1) * {float(_KMV_SPACE)} / kth, 0) END AS BIGINT)
           AS est_week_users
  FROM theta
), pair_theta AS (
  SELECT a.wk, LEAST(a.th, b.th) AS th_pair
  FROM theta a JOIN theta b ON b.wk = a.wk + INTERVAL 7 DAY
), inter AS (
  SELECT a.wk, COUNT(*) AS d
  FROM bottom a
  JOIN bottom b ON b.wk = a.wk + INTERVAL 7 DAY AND b.hv = a.hv
  JOIN pair_theta p ON p.wk = a.wk
  WHERE a.hv < p.th_pair
  GROUP BY a.wk
)
SELECT strftime(p.wk, '%Y-%m-%d') AS week_start,
       w.est_week_users,
       CAST(ROUND(COALESCE(i.d, 0) * {float(_KMV_SPACE)} / p.th_pair, 0) AS BIGINT)
         AS est_retained_next_week
FROM pair_theta p
JOIN week_est w ON w.wk = p.wk
LEFT JOIN inter i ON i.wk = p.wk
ORDER BY week_start
"""


def kmv_set_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-algebra SET SIMILARITY: estimated Jaccard, union size,
    and intersection size between EVERY pair of weeks' user sets, from
    the per-week KMV bottom-k sketches alone — the audience-overlap
    question ("how much do week 2 and week 5's users overlap?") that
    exact computation answers with an all-pairs self-join of the fact
    table.  Estimators: the union sketch S_U = bottom-k of S_a ∪ S_b;
    ρ = |{h ∈ S_U : h ∈ A ∧ h ∈ B}| / |S_U| (the classic k-minimum-
    values Jaccard estimator); |A∪B| from S_U's kth value; |A∩B| =
    ρ·|A∪B|.  At 100 TB every input here is a stored KB-sized sketch:
    the pairwise stage touches |weeks|²·k rows, never the corpus.

    Plan: per-week bottom-k via a wk-PARTITIONED window (parallel);
    the pair expansion joins sketch rows against the tiny distinct-
    week pair list (broadcast); per-pair union ranking windows are
    partitioned by (week_a, week_b).  Deterministic md5 sample keys →
    every estimate replays integer-exactly in DuckDB (accuracy vs the
    exact self-join is pinned in pytest, where determinism would be
    the wrong tool)."""
    e = table(spark, sf_dir, "events")
    hashes = (
        e.select(F.date_trunc("week", "ts").alias("wk"), _kmv_hash_int().alias("hv"))
        .distinct()
    )
    w = Window.partitionBy("wk").orderBy("hv")
    bottom = (
        hashes.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _KMV_K)
        .select("wk", "hv")
    )
    weeks = bottom.select("wk").distinct()
    pairs = (
        weeks.select(F.col("wk").alias("wa"))
        .crossJoin(F.broadcast(weeks.select(F.col("wk").alias("wb"))))
        .filter(F.col("wa") < F.col("wb"))
    )
    rows_a = bottom.join(
        F.broadcast(pairs), bottom["wk"] == pairs["wa"]
    ).select("wa", "wb", "hv", F.lit(1).alias("in_a"), F.lit(0).alias("in_b"))
    rows_b = bottom.join(
        F.broadcast(pairs), bottom["wk"] == pairs["wb"]
    ).select("wa", "wb", "hv", F.lit(0).alias("in_a"), F.lit(1).alias("in_b"))
    u = (
        rows_a.unionByName(rows_b)
        .groupBy("wa", "wb", "hv")
        .agg(F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b"))
    )
    wu = Window.partitionBy("wa", "wb").orderBy("hv")
    su = u.withColumn("rn", F.row_number().over(wu)).filter(F.col("rn") <= _KMV_K)
    per_pair = su.groupBy("wa", "wb").agg(
        F.count(F.lit(1)).alias("n_u"),
        F.max("hv").alias("kth_u"),
        F.sum(F.col("in_a") * F.col("in_b")).alias("n_both"),
    )
    est_union = F.when(F.col("n_u") < _KMV_K, F.col("n_u").cast("double")).otherwise(
        F.round((_KMV_K - 1) * F.lit(float(_KMV_SPACE)) / F.col("kth_u"), 0)
    )
    jacc = F.round(F.col("n_both").cast("double") / F.col("n_u"), 6)
    return (
        per_pair.select(
            F.date_format("wa", "yyyy-MM-dd").alias("week_a"),
            F.date_format("wb", "yyyy-MM-dd").alias("week_b"),
            jacc.alias("est_jaccard"),
            est_union.cast("long").alias("est_union_users"),
            F.round(jacc * est_union, 0).cast("long").alias("est_common_users"),
        )
        .orderBy("week_a", "week_b")
    )


ORACLE_KMV_SET_SIMILARITY = f"""
WITH h0 AS (
  SELECT DISTINCT date_trunc('week', ts) AS wk, md5(CAST(user_id AS VARCHAR)) AS h
  FROM events
), hashes AS (
  SELECT DISTINCT wk, {_sql_kmv_hash_int("h")} AS hv FROM h0
), bottom AS (
  SELECT wk, hv FROM (
    SELECT wk, hv, ROW_NUMBER() OVER (PARTITION BY wk ORDER BY hv) AS rn
    FROM hashes
  ) t WHERE rn <= {_KMV_K}
), weeks AS (SELECT DISTINCT wk FROM bottom),
pairs AS (
  SELECT a.wk AS wa, b.wk AS wb FROM weeks a JOIN weeks b ON a.wk < b.wk
), u AS (
  SELECT p.wa, p.wb, s.hv,
         MAX(CASE WHEN s.wk = p.wa THEN 1 ELSE 0 END) AS in_a,
         MAX(CASE WHEN s.wk = p.wb THEN 1 ELSE 0 END) AS in_b
  FROM pairs p JOIN bottom s ON s.wk IN (p.wa, p.wb)
  GROUP BY p.wa, p.wb, s.hv
), su AS (
  SELECT wa, wb, hv, in_a, in_b FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY wa, wb ORDER BY hv) AS rn FROM u
  ) t WHERE rn <= {_KMV_K}
), per_pair AS (
  SELECT wa, wb, COUNT(*) AS n_u, MAX(hv) AS kth_u,
         CAST(SUM(in_a * in_b) AS BIGINT) AS n_both
  FROM su GROUP BY wa, wb
)
SELECT strftime(wa, '%Y-%m-%d') AS week_a,
       strftime(wb, '%Y-%m-%d') AS week_b,
       ROUND(n_both * 1.0 / n_u, 6) AS est_jaccard,
       CAST(CASE WHEN n_u < {_KMV_K} THEN n_u * 1.0
            ELSE ROUND(({_KMV_K} - 1) * {float(_KMV_SPACE)} / kth_u, 0) END AS BIGINT)
         AS est_union_users,
       CAST(ROUND(ROUND(n_both * 1.0 / n_u, 6)
                  * (CASE WHEN n_u < {_KMV_K} THEN n_u * 1.0
                     ELSE ROUND(({_KMV_K} - 1) * {float(_KMV_SPACE)} / kth_u, 0) END),
                  0) AS BIGINT) AS est_common_users
FROM per_pair
ORDER BY week_a, week_b
"""


def theta_weekly_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch SET ALGEBRA between adjacent weeks: retained
    (A ∩ B), churned (A ∖ B) and new (B ∖ A) users per week pair,
    without ever self-joining the raw event stream on user_id.

    r11 redesign (VERDICT r10 ask #6 — the last ``no_oracle`` row):
    the sketch is the PORTABLE DETERMINISTIC theta — per week the
    bottom-k (k = 256) 48-bit md5 prefixes of the distinct user
    hashes, θ_w = kth smallest (the whole hash space when the week
    holds fewer than k users, i.e. exact mode).  Set-op estimators
    are the standard theta algebra under the pair threshold
    θ = min(θ_A, θ_B): every retained hash below θ is in BOTH
    bottom-k samples, and — the a-not-b property — a hash of A below
    θ ≤ θ_B is in B iff it is in B's sample, so intersection AND both
    differences are exact counts over the sample, scaled by 2^48/θ.
    Every step (md5 prefix arithmetic, bottom-k, the full-outer hash
    join, the θ compare, one scaled division) replays integer-exactly
    in DuckDB — the oracle below certifies the sketch-algebra
    semantics value-exactly, upgrading this family from rows-only.

    The Datasketches binary twin (``theta_weekly_retention_
    datasketches`` — theta_sketch_agg / theta_intersection /
    theta_difference, the production variant on an engine with
    native sketches) stays pinned in pytest against this portable
    form and the exact set algebra.  vs ``kmv_weekly_retention``:
    that family certifies the marginal KMV estimator + intersection;
    this one certifies the full union-free set algebra including
    both a-not-b directions (churn/new — the numbers a retention
    dashboard actually plots).  Week pairs align on the week-start
    DATE (``date_trunc('week')`` — never ``weekofyear``, which
    aliases ISO week numbers across years)."""
    e = table(spark, sf_dir, "events")
    hashes = (
        e.select(F.date_trunc("week", "ts").alias("wk"), _kmv_hash_int().alias("hv"))
        .distinct()
    )
    w = Window.partitionBy("wk").orderBy("hv")
    bottom = hashes.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= _KMV_K
    )
    theta = bottom.groupBy("wk").agg(
        F.count(F.lit(1)).alias("n"), F.max("hv").alias("kth")
    ).select(
        "wk",
        F.when(F.col("n") < _KMV_K, F.lit(_KMV_SPACE).cast("long"))
        .otherwise(F.col("kth"))
        .alias("th"),
    )
    nxt_theta = theta.select(
        (F.col("wk") - F.expr("INTERVAL 7 DAYS")).alias("wk"),
        F.col("th").alias("th_next"),
    )
    pair_theta = theta.join(nxt_theta, "wk").select(
        "wk", F.least("th", "th_next").alias("th_pair")
    )
    a = bottom.select("wk", "hv", F.lit(1).alias("in_a"))
    b = bottom.select(
        (F.col("wk") - F.expr("INTERVAL 7 DAYS")).alias("wk"),
        "hv",
        F.lit(1).alias("in_b"),
    )
    # full-outer on (week, hash): the three disjoint membership cells
    # of the pair's sampled universe below θ — a K-sized frame per
    # week, broadcast-joined against the K-sized θ table
    counts = (
        a.join(b, ["wk", "hv"], "full_outer")
        .join(F.broadcast(pair_theta), "wk")
        .filter(F.col("hv") < F.col("th_pair"))
        .groupBy("wk")
        .agg(
            F.sum(
                F.when(F.col("in_a").isNotNull() & F.col("in_b").isNotNull(), 1).otherwise(0)
            ).alias("n_ret"),
            F.sum(
                F.when(F.col("in_a").isNotNull() & F.col("in_b").isNull(), 1).otherwise(0)
            ).alias("n_churn"),
            F.sum(
                F.when(F.col("in_a").isNull() & F.col("in_b").isNotNull(), 1).otherwise(0)
            ).alias("n_new"),
        )
    )

    def _scaled(cnt: F.Column) -> F.Column:
        return (
            F.round(
                F.coalesce(cnt, F.lit(0)) * F.lit(float(_KMV_SPACE)) / F.col("th_pair"),
                0,
            )
            .cast("long")
        )

    return (
        pair_theta.join(counts, "wk", "left")
        .select(
            F.date_format("wk", "yyyy-MM-dd").alias("week_start"),
            _scaled(F.col("n_ret")).alias("est_retained_next_week"),
            _scaled(F.col("n_churn")).alias("est_churned_next_week"),
            _scaled(F.col("n_new")).alias("est_new_next_week"),
        )
        .orderBy("week_start")
    )


ORACLE_THETA_WEEKLY_RETENTION = f"""
WITH h0 AS (
  SELECT DISTINCT date_trunc('week', ts) AS wk, md5(CAST(user_id AS VARCHAR)) AS h
  FROM events
), hashes AS (
  SELECT DISTINCT wk, {_sql_kmv_hash_int("h")} AS hv FROM h0
), bottom AS (
  SELECT wk, hv FROM (
    SELECT wk, hv, ROW_NUMBER() OVER (PARTITION BY wk ORDER BY hv) AS rn
    FROM hashes
  ) t WHERE rn <= {_KMV_K}
), theta AS (
  SELECT wk,
         CASE WHEN COUNT(*) < {_KMV_K} THEN {_KMV_SPACE} ELSE MAX(hv) END AS th
  FROM bottom GROUP BY wk
), pair_theta AS (
  SELECT a.wk, LEAST(a.th, b.th) AS th_pair
  FROM theta a JOIN theta b ON b.wk = a.wk + INTERVAL 7 DAY
), cells AS (
  SELECT COALESCE(a.wk, b.wk) AS wk, COALESCE(a.hv, b.hv) AS hv,
         a.hv IS NOT NULL AS in_a, b.hv IS NOT NULL AS in_b
  FROM bottom a
  FULL OUTER JOIN (SELECT wk - INTERVAL 7 DAY AS wk, hv FROM bottom) b
    ON b.wk = a.wk AND b.hv = a.hv
), counts AS (
  SELECT c.wk,
         SUM(CASE WHEN in_a AND in_b THEN 1 ELSE 0 END) AS n_ret,
         SUM(CASE WHEN in_a AND NOT in_b THEN 1 ELSE 0 END) AS n_churn,
         SUM(CASE WHEN NOT in_a AND in_b THEN 1 ELSE 0 END) AS n_new
  FROM cells c JOIN pair_theta p ON p.wk = c.wk
  WHERE c.hv < p.th_pair
  GROUP BY c.wk
)
SELECT strftime(p.wk, '%Y-%m-%d') AS week_start,
       CAST(ROUND(COALESCE(n_ret, 0) * {float(_KMV_SPACE)} / p.th_pair, 0) AS BIGINT)
         AS est_retained_next_week,
       CAST(ROUND(COALESCE(n_churn, 0) * {float(_KMV_SPACE)} / p.th_pair, 0) AS BIGINT)
         AS est_churned_next_week,
       CAST(ROUND(COALESCE(n_new, 0) * {float(_KMV_SPACE)} / p.th_pair, 0) AS BIGINT)
         AS est_new_next_week
FROM pair_theta p LEFT JOIN counts c ON c.wk = p.wk
ORDER BY week_start
"""


def approx_order_price_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile: fixed-size mergeable summaries instead of the
    per-group sort of exact percentile — constant memory per group at
    any scale. Rows-only check."""
    o = table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderstatus")
        .agg(
            F.approx_percentile("o_totalprice", F.lit(0.5), F.lit(10000)).alias("ap50"),
            F.approx_percentile("o_totalprice", F.lit(0.99), F.lit(10000)).alias("ap99"),
        )
        .orderBy("o_orderstatus")
    )


# ------------------------------------------- third-wave SQL surface


def rolling_30d_top_spenders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-RANGE window frame: for each order, the same customer's
    total spend over the 30 days ending at the order date; top-20
    rolling sums. The frame is RANGE over an integer day offset, so
    same-day orders share one frame value (the semantic difference from
    a ROWS frame). Partitioned by customer — thousands of small
    independent windows, never a global sort. Decimal accumulation per
    queries/_precision.py so the window sum is order-independent."""
    o = table(spark, sf_dir, "orders")
    day = F.datediff(F.col("o_orderdate"), F.lit("1992-01-01"))
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(day)
        .rangeBetween(-29, Window.currentRow)
    )
    from data_ingestion_project_spark.queries._precision import DEC

    rolled = o.select(
        "o_custkey",
        F.col("o_orderdate").cast("string").alias("o_orderdate"),
        "o_orderkey",
        F.round(F.sum(F.col("o_totalprice").cast(DEC)).over(w), 2)
        .cast("double")
        .alias("spend_30d"),
    )
    return rolled.orderBy(
        F.col("spend_30d").desc(), "o_custkey", "o_orderkey"
    ).limit(20)


ORACLE_ROLLING_30D_TOP_SPENDERS = """
SELECT o_custkey, CAST(o_orderdate AS VARCHAR) AS o_orderdate, o_orderkey,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(27,6))) OVER (
         PARTITION BY o_custkey
         ORDER BY datediff('day', DATE '1992-01-01', o_orderdate)
         RANGE BETWEEN 29 PRECEDING AND CURRENT ROW
       ), 2) AS DOUBLE) AS spend_30d
FROM orders
ORDER BY spend_30d DESC, o_custkey, o_orderkey
LIMIT 20
"""


def segment_year_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS with grouping() flags — the third
    grouping-set shape next to rollup_revenue/cube_revenue: two
    one-dimension slices plus the grand total in ONE pass (a single
    expand + partial-agg shuffle), where separate GROUP BYs would scan
    orders three times. The grouping flags disambiguate the NULLs that
    mark rolled-up dimensions."""
    register_views(spark, sf_dir)
    return spark.sql(f"""
        SELECT c_mktsegment,
               year(o_orderdate) AS o_year,
               grouping(c_mktsegment) AS g_seg,
               grouping(year(o_orderdate)) AS g_year,
               {spark_dec_sum('o_totalprice')} AS revenue,
               COUNT(*) AS n_orders
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY GROUPING SETS ((c_mktsegment), (year(o_orderdate)), ())
        ORDER BY g_seg, g_year, c_mktsegment, o_year
    """)


ORACLE_SEGMENT_YEAR_GROUPING_SETS = f"""
SELECT c_mktsegment,
       CAST(year(o_orderdate) AS INTEGER) AS o_year,
       CAST(GROUPING(c_mktsegment) AS TINYINT) AS g_seg,
       CAST(GROUPING(year(o_orderdate)) AS TINYINT) AS g_year,
       {sql_dec_sum('o_totalprice')} AS revenue,
       COUNT(*) AS n_orders
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY GROUPING SETS ((c_mktsegment), (year(o_orderdate)), ())
ORDER BY g_seg, g_year, c_mktsegment, o_year
"""


def segment_priority_listing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-distinct string aggregation (LISTAGG shape): per market
    segment, the sorted distinct order priorities seen, concatenated.
    collect_set → array_sort → array_join keeps the result deterministic
    regardless of partitioning (an unordered string_agg is not
    hash-stable); the set is tiny per group so the agg state is
    bounded."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.array_join(F.array_sort(F.collect_set("o_orderpriority")), ",").alias(
                "priorities"
            ),
            F.count_distinct(F.col("o_orderpriority")).alias("n_priorities"),
        )
        .orderBy("c_mktsegment")
    )


ORACLE_SEGMENT_PRIORITY_LISTING = """
SELECT c_mktsegment,
       string_agg(DISTINCT o_orderpriority, ',' ORDER BY o_orderpriority) AS priorities,
       COUNT(DISTINCT o_orderpriority) AS n_priorities
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


def top2_orders_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery with per-row LIMIT — the SQL-surface
    twin of the window top-k (top_orders_per_customer): for the 5
    highest-balance customers, each one's 2 most expensive orders.
    Catalyst decorrelates the lateral into a ranked join, so the plan
    is the same shuffle shape as the window form, not a per-customer
    re-scan."""
    register_views(spark, sf_dir)
    return spark.sql("""
        SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        FROM (
          SELECT c_custkey FROM customer
          ORDER BY c_acctbal DESC, c_custkey LIMIT 5
        ) c
        JOIN LATERAL (
          SELECT o_orderkey, o_totalprice FROM orders o
          WHERE o.o_custkey = c.c_custkey
          ORDER BY o_totalprice DESC, o_orderkey LIMIT 2
        ) t
        ORDER BY c.c_custkey, t.o_totalprice DESC, t.o_orderkey
    """)


ORACLE_TOP2_ORDERS_LATERAL = """
SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
FROM (
  SELECT c_custkey FROM customer
  ORDER BY c_acctbal DESC, c_custkey LIMIT 5
) c
JOIN LATERAL (
  SELECT o_orderkey, o_totalprice FROM orders o
  WHERE o.o_custkey = c.c_custkey
  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2
) t ON TRUE
ORDER BY c.c_custkey, t.o_totalprice DESC, t.o_orderkey
"""


def wealthy_inactive_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22-style composite decorrelation (adapted to this schema:
    nation keys stand in for phone country codes): customers from a
    fixed nation list with above-average positive balance and NO order
    since 2001-05-01, aggregated per nation. Exercises three shapes in
    one statement — uncorrelated scalar subquery (broadcast one-row),
    IN-list pushdown, and correlated NOT EXISTS (anti-join after
    Catalyst decorrelation — never a per-customer rescan)."""
    register_views(spark, sf_dir)
    # same statement TEMPLATE as the oracle; only the money aggregate
    # differs by dialect (the two engines truncate and floor-divide
    # differently — _precision.py), so it is a template parameter
    # rather than a post-hoc string replace that could silently no-op
    return spark.sql(_WEALTHY_SQL.format(agg=spark_dec_sum("c_acctbal")))


_WEALTHY_SQL = """
SELECT c_nationkey,
       COUNT(*) AS n_customers,
       {agg} AS total_acctbal
FROM customer c
WHERE c_nationkey IN (1, 5, 9, 13, 17, 21)
  AND c_acctbal > (
    SELECT AVG(c_acctbal) FROM customer
    WHERE c_acctbal > 0 AND c_nationkey IN (1, 5, 9, 13, 17, 21)
  )
  AND NOT EXISTS (
    SELECT 1 FROM orders o
    WHERE o.o_custkey = c.c_custkey
      AND o.o_orderdate >= DATE '2001-05-01'
  )
GROUP BY c_nationkey
ORDER BY c_nationkey
"""

ORACLE_WEALTHY_INACTIVE_CUSTOMERS = _WEALTHY_SQL.format(agg=sql_dec_sum("c_acctbal"))


def supplier_hierarchy_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4's WITH RECURSIVE) — hierarchical rollup
    over a derived supplier reporting tree: parent(k) = k div 10, roots
    are keys 0-9, so the tree deepens with scale (depth ~ log10 n). Per
    root: subtree size, max depth, exact subtree balance.

    Spark executes the recursion iteratively — one join per level
    against the frontier, log10(n) rounds, never a self-join explosion;
    the frontier is tiny relative to the table, so AQE broadcasts it.
    This is the SQL-surface twin of operators/graph.py's iterative
    label propagation (same execution model, declarative form). DuckDB
    runs the identical recursion natively (`//` for `div`)."""
    register_views(spark, sf_dir, ("supplier",))
    return spark.sql(f"""
        WITH RECURSIVE tree AS (
          SELECT s_suppkey, s_suppkey AS root, 0 AS depth, s_acctbal
          FROM supplier WHERE s_suppkey < 10
          UNION ALL
          SELECT s.s_suppkey, t.root, t.depth + 1, s.s_acctbal
          FROM supplier s JOIN tree t
            ON s.s_suppkey div 10 = t.s_suppkey AND s.s_suppkey >= 10
        )
        SELECT root, COUNT(*) AS n_nodes, MAX(depth) AS max_depth,
               {spark_dec_sum('s_acctbal')} AS subtree_acctbal
        FROM tree GROUP BY root ORDER BY root
    """)


ORACLE_SUPPLIER_HIERARCHY_ROLLUP = f"""
WITH RECURSIVE tree AS (
  SELECT s_suppkey, s_suppkey AS root, 0 AS depth, s_acctbal
  FROM supplier WHERE s_suppkey < 10
  UNION ALL
  SELECT s.s_suppkey, t.root, t.depth + 1, s.s_acctbal
  FROM supplier s JOIN tree t
    ON s.s_suppkey // 10 = t.s_suppkey AND s.s_suppkey >= 10
)
SELECT root, COUNT(*) AS n_nodes, MAX(depth) AS max_depth,
       {sql_dec_sum('s_acctbal')} AS subtree_acctbal
FROM tree GROUP BY root ORDER BY root
"""


# ---------------------------------------------------- table profiling


def orders_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style single-pass profile of the orders table: per column
    null count, exact distinct cardinality, and min/max rendered to
    deterministic strings (operators/profiling.py) — the discovery
    stage that feeds quality_checks constraints and snapshot-drift
    diffs. Planned as a union of per-column NARROW aggregates — one
    small agg per column over a single shared scan — deliberately
    avoiding the multi-DISTINCT Expand plan, which multiplies every
    input row by the column count (BASELINE.md records the 3.6s→1.1s
    win from this shape); the oracle recomputes each column's row
    independently."""
    from data_ingestion_project_spark.operators.profiling import profile_table

    return profile_table(table(spark, sf_dir, "orders")).orderBy("column")


def _profile_sql_row(col: str, kind: str) -> str:
    if kind == "int":
        mn, mx = f"CAST(MIN({col}) AS VARCHAR)", f"CAST(MAX({col}) AS VARCHAR)"
    elif kind == "double":
        # pre-ROUND before formatting — see operators/profiling.py
        # (formatting ties round differently across engines)
        mn = f"printf('%.4f', ROUND(MIN({col}), 4))"
        mx = f"printf('%.4f', ROUND(MAX({col}), 4))"
    elif kind == "ts":
        mn = f"strftime(MIN({col}), '%Y-%m-%d %H:%M:%S')"
        mx = f"strftime(MAX({col}), '%Y-%m-%d %H:%M:%S')"
    else:
        mn, mx = f"MIN({col})", f"MAX({col})"
    return (
        f"SELECT '{col}' AS \"column\", COUNT(*) AS n_rows,\n"
        f"       CAST(count_if({col} IS NULL) AS BIGINT) AS n_nulls,\n"
        f"       COUNT(DISTINCT {col}) AS n_distinct,\n"
        f"       {mn} AS min_value, {mx} AS max_value\n"
        "FROM orders"
    )


ORACLE_ORDERS_PROFILE = (
    "\nUNION ALL\n".join(
        _profile_sql_row(c, k)
        for c, k in [
            ("o_orderkey", "int"),
            ("o_custkey", "int"),
            ("o_orderstatus", "str"),
            ("o_totalprice", "double"),
            ("o_orderdate", "ts"),
            ("o_orderpriority", "str"),
        ]
    )
    + '\nORDER BY "column"'
)


# ------------------------------------------- argmax aggregates


def segment_richest_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per market segment, the single richest customer — the argmax
    aggregate (max_by / arg_max): one aggregation shuffle instead of
    the rank-window two-pass, which is exactly why it exists. The
    selector key is a fixed-width sortable string (offset balance |
    custkey) so ties break deterministically AND identically across
    engines — DuckDB's max_by takes no composite key, and acctbal has
    2 decimals so the %.4f render never hits a formatting-tie."""
    c = table(spark, sf_dir, "customer")
    key = F.format_string(
        "%012.4f|%012d", F.col("c_acctbal") + 1000, F.col("c_custkey")
    )
    return (
        c.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.max("c_acctbal").alias("max_acctbal"),
            F.max_by("c_name", key).alias("richest_name"),
        )
        .orderBy("c_mktsegment")
    )


ORACLE_SEGMENT_RICHEST_CUSTOMER = """
SELECT c_mktsegment,
       COUNT(*) AS n_customers,
       MAX(c_acctbal) AS max_acctbal,
       max_by(c_name, printf('%012.4f|%012d', c_acctbal + 1000, c_custkey))
         AS richest_name
FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment
"""


# ------------------------------------------- window-function breadth


def segment_wealth_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-1% customers by account balance WITHIN their market segment,
    with their exact relative standing (percent_rank + cume_dist) —
    rounding out the ranking-window surface beyond rank/ntile/lag. The
    tie-break on custkey makes both window functions fully
    deterministic; output is a bounded fraction of the table."""
    c = table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey").asc()
    )
    return (
        c.select(
            "c_mktsegment",
            "c_custkey",
            "c_acctbal",
            F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
            F.round(F.cume_dist().over(w), 6).alias("cume"),
        )
        .filter(F.col("pct_rank") <= 0.01)
        .orderBy("c_mktsegment", "pct_rank", "c_custkey")
    )


ORACLE_SEGMENT_WEALTH_PERCENTILES = """
SELECT c_mktsegment, c_custkey, c_acctbal,
       ROUND(pr, 6) AS pct_rank, ROUND(cd, 6) AS cume
FROM (
  SELECT c_mktsegment, c_custkey, c_acctbal,
         percent_rank() OVER w AS pr, cume_dist() OVER w AS cd
  FROM customer
  WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey ASC)
) t
WHERE ROUND(pr, 6) <= 0.01
ORDER BY c_mktsegment, ROUND(pr, 6), c_custkey
"""


def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit — the release-side privacy census that pairs
    with the field-level protections (P3-P6 crypto ops, pii_scrub_stats):
    before publishing a table keyed by quasi-identifiers, measure how
    identifiable its equivalence classes are. QI tuple here:
    (nation, market segment, account-balance band of 2500) — the
    classic age/zip/gender analogue for this schema. For each policy
    threshold k ∈ {2,5,10,25}: how many QI classes fall below k, how
    many rows a suppress-small-classes release would drop, and the
    suppression rate — the k-vs-utility curve an anonymization pipeline
    tunes against.

    Plan: ONE aggregation over the fact table builds the QI class
    histogram; the threshold sweep is a broadcast 4-row multiply of the
    CLASS table (already aggregate-sized), never of the facts — at
    100 TB the class histogram is bounded by the QI domain, not the
    row count. All outputs integer or ROUND(,4)-stable → value-exact
    oracle."""
    c = table(spark, sf_dir, "customer")
    classes = c.groupBy(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 2500).alias("bal_band"),
    ).agg(F.count(F.lit(1)).alias("sz"))
    ks = spark.createDataFrame([(2,), (5,), (10,), (25,)], "k int")
    below = F.when(F.col("sz") < F.col("k"), F.col("sz")).otherwise(F.lit(0))
    return (
        classes.join(F.broadcast(ks))
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n_classes"),
            F.sum((F.col("sz") < F.col("k")).cast("long")).alias("classes_below"),
            F.sum(below).alias("rows_suppressed"),
            F.round(F.sum(below) * 100.0 / F.sum("sz"), 4).alias("suppression_pct"),
        )
        .orderBy("k")
    )


ORACLE_K_ANONYMITY_AUDIT = """
WITH classes AS (
  SELECT c_nationkey, c_mktsegment, FLOOR(c_acctbal / 2500) AS bal_band,
         COUNT(*) AS sz
  FROM customer
  GROUP BY 1, 2, 3
),
ks AS (SELECT unnest([2, 5, 10, 25]) AS k)
SELECT k,
       COUNT(*) AS n_classes,
       CAST(SUM(CASE WHEN sz < k THEN 1 ELSE 0 END) AS BIGINT) AS classes_below,
       CAST(SUM(CASE WHEN sz < k THEN sz ELSE 0 END) AS BIGINT) AS rows_suppressed,
       ROUND(SUM(CASE WHEN sz < k THEN sz ELSE 0 END) * 100.0 / SUM(sz), 4)
         AS suppression_pct
FROM classes CROSS JOIN ks
GROUP BY k
ORDER BY k
"""


def _shred_state_path(spark: SparkSession, sf_dir: str) -> str:
    """Materialize (once, mtime-keyed on customer.parquet) the
    post-forget crypto-shred state: per-user envelope key table +
    tombstones (operators/crypto_shred over operators/txn_table) and
    the encrypted phone snapshot, with every customer whose key is
    divisible by 97 forgotten.  The audit query reads this state
    lazily — the production posture, where key provisioning and
    forget requests are pipeline events, not per-query work."""
    import os

    from data_ingestion_project_spark.operators import crypto_shred as cs
    from data_ingestion_project_spark.operators.materialize import (
        dataset_tag,
        ensure_materialized,
    )

    abs_dir = os.path.abspath(os.path.normpath(sf_dir))

    def build(tmp: str) -> None:
        kek = cs.test_kek()
        users = table(spark, sf_dir, "customer").select(
            F.col("c_custkey").alias("user_id"),
            F.md5(F.lower(F.trim(F.col("c_name")))).alias("email_bidx"),
            # the PII stand-in (the synthetic customer has no phone
            # column): deterministic per-user plaintext the audit can
            # recompute for its roundtrip-equality count
            F.concat_ws("/", F.col("c_name"), F.col("c_acctbal").cast("string")).alias(
                "secret"
            ),
        )
        base = os.path.join(tmp, "state")
        cs.provision_deks(spark, base, users, kek)
        cs.encrypt_fields(spark, users, base, kek, ["secret"]).select(
            "user_id", F.col("secret").alias("secret_ct")
        ).write.parquet(os.path.join(tmp, "encrypted"))
        cs.forget_users(
            spark, base, users.filter(F.col("user_id") % 97 == 0).select("user_id")
        )
        open(os.path.join(tmp, "_SUCCESS"), "w").close()

    return ensure_materialized(
        f"crypto_shred_{dataset_tag(abs_dir)}",
        os.path.join(abs_dir, "customer.parquet"),
        build,
    )


def crypto_shred_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten accounting over the crypto-shred state
    (operators/crypto_shred): key-table and tombstone counts plus an
    ACTUAL decrypt sweep of the on-disk ciphertexts — forgotten users
    must decrypt to NULL (their DEK no longer exists anywhere: key row
    MERGE-deleted, prior versions vacuumed), everyone else must
    round-trip to their exact plaintext.  The PII lifecycle op the
    reference's envelope (crypto_utils.py:84-88 Fernet fields +
    blind-index search) implies but cannot express without rewriting
    every data file.

    Every output is an integer count ⇒ the DuckDB oracle replays the
    accounting exactly from the deterministic forget rule
    (c_custkey % 97 = 0).  The decrypt sweep doubles as the end-to-end
    proof: n_decrypt_ok counting ciphertext→plaintext equality against
    the customer table means the oracle row only matches if the
    cryptography actually worked.

    Plan: key/tombstone tables are key-dimension sized; the decrypt is
    one JVM aes_decrypt pass over the snapshot with the unwrapped DEK
    join (Python touches only the key table)."""
    import os

    from data_ingestion_project_spark.operators import crypto_shred as cs
    from data_ingestion_project_spark.operators import txn_table

    path = _shred_state_path(spark, sf_dir)
    base = os.path.join(path, "state")
    kek = cs.test_kek()
    enc = spark.read.parquet(os.path.join(path, "encrypted"))
    c = table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"),
        F.concat_ws("/", F.col("c_name"), F.col("c_acctbal").cast("string")).alias(
            "expected_secret"
        ),
    )
    dec = (
        cs.decrypt_fields(spark, enc, base, kek, ["secret_ct"])
        .join(c, "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum((F.col("secret_ct") == F.col("expected_secret")).cast("long")).alias(
                "n_decrypt_ok"
            ),
            F.sum(F.col("secret_ct").isNull().cast("long")).alias("n_decrypt_null"),
        )
    )
    n_keys = txn_table.read(spark, cs.keys_path(base)).agg(
        F.count(F.lit(1)).alias("n_active_keys")
    )
    n_tomb = txn_table.read(spark, cs.tombstones_path(base)).agg(
        F.count(F.lit(1)).alias("n_tombstones"),
        F.count_distinct("email_bidx").alias("n_tombstone_bidx"),
    )
    return (
        dec.crossJoin(F.broadcast(n_keys))
        .crossJoin(F.broadcast(n_tomb))
        .select(
            F.col("n_rows").alias("n_users"),
            "n_active_keys",
            "n_tombstones",
            "n_tombstone_bidx",
            "n_decrypt_ok",
            "n_decrypt_null",
            F.round(F.col("n_decrypt_null") / F.col("n_rows"), 6).alias(
                "forgotten_frac"
            ),
        )
    )


ORACLE_CRYPTO_SHRED_AUDIT = """
WITH f AS (
  SELECT COUNT(*) AS nf, COUNT(DISTINCT md5(lower(trim(c_name)))) AS nb
  FROM customer WHERE c_custkey % 97 = 0
), t AS (SELECT COUNT(*) AS n FROM customer)
SELECT t.n AS n_users,
       t.n - f.nf AS n_active_keys,
       f.nf AS n_tombstones,
       f.nb AS n_tombstone_bidx,
       t.n - f.nf AS n_decrypt_ok,
       f.nf AS n_decrypt_null,
       ROUND(f.nf * 1.0 / t.n, 6) AS forgotten_frac
FROM t CROSS JOIN f
"""


def bloom_membership_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership census (operators/bloom.py): build the
    4096-bit / 3-hash filter over the parts shipped in March 1995,
    probe EVERY part against it, and report the exact accounting -
    members, set bits, flagged probes, false positives, measured FP
    rate. Zero false negatives is structural (every member sets its
    bits); the FP rate is the (1 - e^(-kn/m))^k economics a filter
    deployment tunes - pinned against theory in pytest, measured
    exactly here.

    Cross-engine: bits are the salted 48-bit md5 idiom, the probe is
    bit-set counting, and every output is an integer count or a ratio
    of integers - the whole build+probe pipeline replays in DuckDB
    value-exactly. Plan: member scan -> <=4096-bit DISTINCT (SET
    semantics - the filter merges idempotently, no fence needed,
    unlike the additive CMS) -> broadcast bit join against the probe
    explode; the fact table is scanned once."""
    from data_ingestion_project_spark.operators.bloom import bloom_bits, bloom_probe

    l = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    members = (
        l.filter(F.col("l_shipdate").between("1995-03-01", "1995-03-31"))
        .select(F.col("l_partkey").alias("p_partkey"))
        .distinct()
    )
    bits = bloom_bits(members, "p_partkey")
    flagged = bloom_probe(p.select("p_partkey"), bits, "p_partkey")
    truth = p.select("p_partkey").join(
        members.withColumnRenamed("p_partkey", "__m"),
        F.col("p_partkey") == F.col("__m"),
        "left",
    ).select("p_partkey", F.col("__m").isNotNull().alias("is_member"))
    joined = flagged.join(truth, "p_partkey")
    return joined.agg(
        F.count(F.lit(1)).alias("n_probes"),
        F.sum(F.col("is_member").cast("long")).alias("n_members"),
        F.sum(F.col("maybe_member").cast("long")).alias("n_flagged"),
        F.sum(
            (F.col("maybe_member") & ~F.col("is_member")).cast("long")
        ).alias("n_false_pos"),
        F.sum(
            (F.col("is_member") & ~F.col("maybe_member")).cast("long")
        ).alias("n_false_neg"),
        F.round(
            F.sum((F.col("maybe_member") & ~F.col("is_member")).cast("long"))
            / (F.count(F.lit(1)) - F.sum(F.col("is_member").cast("long"))),
            4,
        ).alias("fp_rate"),
    )


_SQL_BLOOM_BIT = lambda h, item: (  # noqa: E731
    "(" + _sql_kmv_hash_int(f"md5({h} || ':' || CAST({item} AS VARCHAR))") + ") % 4096"
)

ORACLE_BLOOM_MEMBERSHIP_AUDIT = f"""
WITH members AS (
  SELECT DISTINCT l_partkey AS p_partkey FROM lineitem
  WHERE l_shipdate BETWEEN DATE '1995-03-01' AND DATE '1995-03-31'
), hs AS (SELECT UNNEST(range(3)) AS h),
bits AS (
  SELECT DISTINCT {_SQL_BLOOM_BIT("hs.h", "m.p_partkey")} AS bit
  FROM members m, hs
), probe_bits AS (
  SELECT p.p_partkey, {_SQL_BLOOM_BIT("hs.h", "p.p_partkey")} AS bit
  FROM part p, hs
), flagged AS (
  SELECT p_partkey FROM probe_bits pb
  SEMI JOIN bits b ON pb.bit = b.bit
  GROUP BY p_partkey HAVING COUNT(*) = 3
), tagged AS (
  SELECT p.p_partkey,
         EXISTS (SELECT 1 FROM members m WHERE m.p_partkey = p.p_partkey) AS is_member,
         EXISTS (SELECT 1 FROM flagged f WHERE f.p_partkey = p.p_partkey) AS maybe_member
  FROM part p
)
SELECT COUNT(*) AS n_probes,
       CAST(SUM(CASE WHEN is_member THEN 1 ELSE 0 END) AS BIGINT) AS n_members,
       CAST(SUM(CASE WHEN maybe_member THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
       CAST(SUM(CASE WHEN maybe_member AND NOT is_member THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos,
       CAST(SUM(CASE WHEN is_member AND NOT maybe_member THEN 1 ELSE 0 END) AS BIGINT) AS n_false_neg,
       ROUND(SUM(CASE WHEN maybe_member AND NOT is_member THEN 1 ELSE 0 END) * 1.0
             / (COUNT(*) - SUM(CASE WHEN is_member THEN 1 ELSE 0 END)), 4) AS fp_rate
FROM tagged
"""

def rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation: recency / frequency / monetary
    quintile scores per customer, mapped to the standard named
    segments (Champions, Loyal, Big Spenders, At Risk, New,
    Hibernating, Others) with per-segment size, mean scores, and
    revenue share — the marketing-analytics census the TPC-H customer
    queries (ABC, Gini, deciles) circle but never land on.

    Scale: the customer frame is entity-sized; ALL THREE quintile
    assignments run through operators/quantiles.equal_frequency_buckets
    (range-bucket by approx cut-points → per-bucket rank → exact
    global rank → Spark's ntile split rule), so no dimension ever
    funnels through a single-partition ntile window; the oracle runs
    the literal NTILE twins, certifying exact parity of the
    distributed formulation on all three dimensions at once.

    Exactness: recency in whole days, frequency exact counts, monetary
    exact micro-units (BIGINT — ordering identical both engines, with
    the customer key as the full tiebreak); segment rules and score
    means are pure integer arithmetic; revenue share is one double
    division, floor-rounded."""
    from data_ingestion_project_spark.operators.quantiles import (
        equal_frequency_buckets_multi,
    )

    o = table(spark, sf_dir, "orders")
    base = o.groupBy("o_custkey").agg(
        F.max(F.to_date("o_orderdate")).alias("last_d"),
        F.count(F.lit(1)).alias("freq"),
        F.sum(to_micro(F.col("o_totalprice")).cast(DEC_BUF))
        .cast("long")
        .alias("mon_i"),
    )
    end = base.agg(F.max("last_d").alias("e"))
    base = pin(
        base.crossJoin(F.broadcast(end))
        .select(
            "o_custkey",
            F.datediff("e", "last_d").alias("recency_days"),
            "freq",
            "mon_i",
        )
    )
    # r13 (guide §2.3): all three quintile assignments in the FOLDED
    # multi-column form — one approxQuantile pass + one count pass for
    # all dimensions instead of (quantile job + count job) × 3, each
    # chained call re-executing the previous ranking windows; the
    # assignment is identical (boundaries only shape balance)
    scored = equal_frequency_buckets_multi(
        base,
        [
            ("recency_days", 5, ["o_custkey"], "r_bkt"),
            ("freq", 5, ["o_custkey"], "f_score"),
            ("mon_i", 5, ["o_custkey"], "m_score"),
        ],
    )
    r = F.lit(6) - F.col("r_bkt")  # bucket 1 = most recent → score 5
    f_, m_ = F.col("f_score"), F.col("m_score")
    seg = (
        F.when((r >= 4) & (f_ >= 4) & (m_ >= 4), "champions")
        .when(f_ >= 4, "loyal")
        .when(m_ >= 4, "big_spenders")
        .when((r <= 2) & (f_ >= 3), "at_risk")
        .when((r >= 4) & (f_ <= 2), "new")
        .when(r <= 2, "hibernating")
        .otherwise("others")
    )
    tot = base.agg(F.sum(F.col("mon_i").cast(DEC_BUF)).alias("t"))
    return (
        scored.select(
            seg.alias("segment"), r.alias("r_score"), "f_score", "m_score", "mon_i"
        )
        .groupBy("segment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            floor_round(
                F.sum("r_score").cast("double") / F.count(F.lit(1)).cast("double"), 4
            ).alias("avg_r"),
            floor_round(
                F.sum("f_score").cast("double") / F.count(F.lit(1)).cast("double"), 4
            ).alias("avg_f"),
            floor_round(
                F.sum("m_score").cast("double") / F.count(F.lit(1)).cast("double"), 4
            ).alias("avg_m"),
            F.sum(F.col("mon_i").cast(DEC_BUF)).alias("seg_i"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "segment",
            "n_customers",
            "avg_r",
            "avg_f",
            "avg_m",
            floor_round(F.col("seg_i").cast("double") / F.col("t").cast("double"), 6).alias(
                "revenue_share"
            ),
        )
        .orderBy("segment")
    )


ORACLE_RFM_SEGMENTS = """
WITH base AS (
  SELECT o_custkey,
         MAX(CAST(o_orderdate AS DATE)) AS last_d,
         COUNT(*) AS freq,
         CAST(SUM(CAST(trunc(o_totalprice * 1000000) AS BIGINT)) AS BIGINT) AS mon_i
  FROM orders GROUP BY 1
), e AS (SELECT MAX(last_d) AS e FROM base),
rfm AS (
  SELECT o_custkey,
         date_diff('day', last_d, e.e) AS recency_days, freq, mon_i
  FROM base CROSS JOIN e
), scored AS (
  SELECT o_custkey, mon_i,
         6 - NTILE(5) OVER (ORDER BY recency_days, o_custkey) AS r,
         NTILE(5) OVER (ORDER BY freq, o_custkey) AS f,
         NTILE(5) OVER (ORDER BY mon_i, o_custkey) AS m
  FROM rfm
), seg AS (
  SELECT CASE
           WHEN r >= 4 AND f >= 4 AND m >= 4 THEN 'champions'
           WHEN f >= 4 THEN 'loyal'
           WHEN m >= 4 THEN 'big_spenders'
           WHEN r <= 2 AND f >= 3 THEN 'at_risk'
           WHEN r >= 4 AND f <= 2 THEN 'new'
           WHEN r <= 2 THEN 'hibernating'
           ELSE 'others'
         END AS segment, r, f, m, mon_i
  FROM scored
), tot AS (SELECT SUM(mon_i) AS t FROM rfm)
SELECT segment, n_customers,
       sign(ar) * floor(abs(ar) * 10000.0 + 0.5) / 10000.0 AS avg_r,
       sign(af) * floor(abs(af) * 10000.0 + 0.5) / 10000.0 AS avg_f,
       sign(am) * floor(abs(am) * 10000.0 + 0.5) / 10000.0 AS avg_m,
       sign(rs) * floor(abs(rs) * 1000000.0 + 0.5) / 1000000.0 AS revenue_share
FROM (
  SELECT segment, COUNT(*) AS n_customers,
         CAST(SUM(r) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS ar,
         CAST(SUM(f) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS af,
         CAST(SUM(m) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS am,
         CAST(SUM(mon_i) AS DOUBLE) / CAST((SELECT t FROM tot) AS DOUBLE) AS rs
  FROM seg GROUP BY 1
) x
ORDER BY segment
"""


def trimmed_robust_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust location/scale per market segment: the 5%-TRIMMED mean
    (drop the lowest and highest 5% of account balances by rank) and
    the 5%-WINSORIZED mean/std (clamp instead of drop) — the outlier-
    resistant summary a fraud/data-quality dashboard shows next to the
    raw mean, whose gap IS the outlier mass. Completes the robust
    family next to event_value_outliers_mad (flagging) and
    segment_wealth_percentiles (quantiles).

    Scale posture: NO corpus-sized per-segment window — ranks come
    from per-(segment, value) counts (value-domain-sized per segment)
    with an exclusive prefix over that compact frame; a value group
    STRADDLING a trim cut contributes exactly its in-window occurrence
    count (min(hi, n−k) − max(lo, k)), so the trimmed sum is exact
    without ever ranking individual rows. Winsor bounds are the values
    whose rank span contains k and n−k−1; clamped moments then fold as
    exact integers. Exactness: cents integers end-to-end; std =
    √(n·Σx²−S²)/n from DECIMAL(38,0) cast-first products; one double
    division per reported column."""
    from pyspark.sql import Window

    c = table(spark, sf_dir, "customer")
    _d38 = "decimal(38,0)"
    vals = pin(
        c.select(
            F.col("c_mktsegment").alias("seg"),
            F.round(F.col("c_acctbal") * 100, 0).cast("long").alias("v"),
        )
        .groupBy("seg", "v")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    per_seg = vals.groupBy("seg").agg(
        F.sum("c").alias("n"), F.sum(F.col("v").cast(_d38) * F.col("c").cast(_d38)).alias("sv")
    )
    w = Window.partitionBy("seg").orderBy("v").rowsBetween(
        Window.unboundedPreceding, -1
    )
    ranked = vals.select(
        "seg", "v", "c", F.coalesce(F.sum("c").over(w), F.lit(0)).alias("lo_r")
    ).join(F.broadcast(per_seg), "seg")
    k = (F.col("n") * F.lit(5) / F.lit(100)).cast("long")  # floor(0.05 n)
    hi_r = F.col("lo_r") + F.col("c")
    kept = F.greatest(
        F.lit(0),
        F.least(hi_r, F.col("n") - k) - F.greatest(F.col("lo_r"), k),
    )
    bounds = ranked.groupBy("seg").agg(
        F.max(F.when((F.col("lo_r") <= k) & (k < hi_r), F.col("v"))).alias("w_lo"),
        F.max(
            F.when(
                (F.col("lo_r") <= F.col("n") - k - 1)
                & (F.col("n") - k - 1 < hi_r),
                F.col("v"),
            )
        ).alias("w_hi"),
    )
    stats = (
        ranked.join(F.broadcast(bounds), "seg")
        .select(
            "seg",
            "n",
            "sv",
            (k * 2).alias("n_dropped"),
            (F.col("v").cast(_d38) * kept.cast(_d38)).alias("tsum"),
            kept.alias("tkept"),
            F.least(F.greatest(F.col("v"), F.col("w_lo")), F.col("w_hi")).alias("wv"),
            "c",
            "w_lo",
            "w_hi",
        )
        .groupBy("seg", "n", "sv", "n_dropped", "w_lo", "w_hi")
        .agg(
            F.sum("tsum").alias("tsum"),
            F.sum("tkept").alias("tn"),
            F.sum(F.col("wv").cast(_d38) * F.col("c").cast(_d38)).alias("ws"),
            F.sum(
                F.col("wv").cast(_d38) * F.col("wv").cast(_d38) * F.col("c").cast(_d38)
            ).alias("wss"),
        )
    )
    nd = F.col("n").cast("double")
    wstd = (
        F.sqrt(
            (F.col("n").cast(_d38) * F.col("wss") - F.col("ws") * F.col("ws")).cast(
                "double"
            )
        )
        / nd
        / F.lit(100.0)
    )
    return stats.select(
        "seg",
        F.col("n").cast("long").alias("n"),
        F.col("n_dropped").cast("long").alias("n_dropped"),
        floor_round(F.col("sv").cast("double") / nd / F.lit(100.0), 6).alias(
            "mean_raw"
        ),
        floor_round(
            F.col("tsum").cast("double") / F.col("tn").cast("double") / F.lit(100.0), 6
        ).alias("mean_trimmed"),
        (F.col("w_lo").cast("double") / F.lit(100.0)).alias("winsor_lo"),
        (F.col("w_hi").cast("double") / F.lit(100.0)).alias("winsor_hi"),
        floor_round(F.col("ws").cast("double") / nd / F.lit(100.0), 6).alias(
            "mean_winsorized"
        ),
        floor_round(wstd, 6).alias("std_winsorized"),
    ).orderBy("seg")


ORACLE_TRIMMED_ROBUST_STATS = """
WITH vals AS (
  SELECT c_mktsegment AS seg,
         CAST(round(c_acctbal * 100, 0) AS BIGINT) AS v, COUNT(*) AS c
  FROM customer GROUP BY 1, 2
), per_seg AS (
  SELECT seg, SUM(c) AS n, SUM(CAST(v AS HUGEINT) * c) AS sv FROM vals GROUP BY 1
), ranked AS (
  SELECT vals.seg, v, c,
         COALESCE(SUM(c) OVER (PARTITION BY vals.seg ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS lo_r,
         per_seg.n, per_seg.sv,
         CAST(per_seg.n * 5 // 100 AS BIGINT) AS k
  FROM vals JOIN per_seg ON per_seg.seg = vals.seg
), bounds AS (
  SELECT seg,
         MAX(CASE WHEN lo_r <= k AND k < lo_r + c THEN v END) AS w_lo,
         MAX(CASE WHEN lo_r <= n - k - 1 AND n - k - 1 < lo_r + c THEN v END) AS w_hi
  FROM ranked GROUP BY 1
), stats AS (
  SELECT r.seg, r.n, r.sv, 2 * r.k AS n_dropped, b.w_lo, b.w_hi,
         SUM(CAST(v AS HUGEINT)
             * greatest(0, least(lo_r + c, n - k) - greatest(lo_r, k))) AS tsum,
         SUM(greatest(0, least(lo_r + c, n - k) - greatest(lo_r, k))) AS tn,
         SUM(CAST(least(greatest(v, b.w_lo), b.w_hi) AS HUGEINT) * c) AS ws,
         SUM(CAST(least(greatest(v, b.w_lo), b.w_hi) AS HUGEINT)
             * least(greatest(v, b.w_lo), b.w_hi) * c) AS wss
  FROM ranked r JOIN bounds b ON b.seg = r.seg
  GROUP BY 1, 2, 3, 4, 5, 6
)
SELECT seg, CAST(n AS BIGINT) AS n, CAST(n_dropped AS BIGINT) AS n_dropped,
       sign(CAST(sv AS DOUBLE) / n / 100.0)
       * floor(abs(CAST(sv AS DOUBLE) / n / 100.0) * 1000000.0 + 0.5)
         / 1000000.0 AS mean_raw,
       sign(CAST(tsum AS DOUBLE) / tn / 100.0)
       * floor(abs(CAST(tsum AS DOUBLE) / tn / 100.0) * 1000000.0 + 0.5)
         / 1000000.0 AS mean_trimmed,
       CAST(w_lo AS DOUBLE) / 100.0 AS winsor_lo,
       CAST(w_hi AS DOUBLE) / 100.0 AS winsor_hi,
       sign(CAST(ws AS DOUBLE) / n / 100.0)
       * floor(abs(CAST(ws AS DOUBLE) / n / 100.0) * 1000000.0 + 0.5)
         / 1000000.0 AS mean_winsorized,
       sign(sqrt(CAST(n * wss - ws * ws AS DOUBLE)) / n / 100.0)
       * floor(abs(sqrt(CAST(n * wss - ws * ws AS DOUBLE)) / n / 100.0)
              * 1000000.0 + 0.5) / 1000000.0 AS std_winsorized
FROM stats
ORDER BY seg
"""


QUERIES = {
    "trimmed_robust_stats": trimmed_robust_stats,
    "rfm_segments": rfm_segments,
    "orders_profile": orders_profile,
    "segment_wealth_percentiles": segment_wealth_percentiles,
    "segment_richest_customer": segment_richest_customer,
    "acctbal_deciles": acctbal_deciles,
    "acctbal_deciles_scalable": acctbal_deciles_scalable,
    "abc_customer_classes": abc_customer_classes,
    "revenue_gini": revenue_gini,
    "returnflag_unpivot": returnflag_unpivot,
    "customer_name_digits": customer_name_digits,
    "shipping_delay_histogram": shipping_delay_histogram,
    "approx_daily_active_users": approx_daily_active_users,
    "sketch_rollup_dau": sketch_rollup_dau,
    "kmv_dau_rollup": kmv_dau_rollup,
    "kmv_weekly_retention": kmv_weekly_retention,
    "kmv_set_similarity": kmv_set_similarity,
    "quantile_sketch_rollup": quantile_sketch_rollup,
    "quantile_sketch_rollup_xx": quantile_sketch_rollup_xx,
    "theta_weekly_retention": theta_weekly_retention,
    "approx_order_price_quantiles": approx_order_price_quantiles,
    "order_price_quantiles": order_price_quantiles,
    "returnflag_pivot": returnflag_pivot,
    "signup_purchase_funnel": signup_purchase_funnel,
    "ordered_funnel_7d": ordered_funnel_7d,
    "retention_cohorts": retention_cohorts,
    "purchases_near_errors": purchases_near_errors,
    "parts_above_brand_average": parts_above_brand_average,
    "small_quantity_revenue": small_quantity_revenue,
    "idle_suppliers": idle_suppliers,
    "tfidf_top_terms": tfidf_top_terms,
    "bm25_topk": bm25_topk,
    "ndcg_search_eval": ndcg_search_eval,
    "map_mrr_search_eval": map_mrr_search_eval,
    "rbo_rank_overlap": rbo_rank_overlap,
    "bm25_topk_indexed": bm25_topk_indexed,
    "bloom_membership_audit": bloom_membership_audit,
    "hybrid_rrf_search": hybrid_rrf_search,
    "rolling_30d_top_spenders": rolling_30d_top_spenders,
    "segment_year_grouping_sets": segment_year_grouping_sets,
    "segment_priority_listing": segment_priority_listing,
    "top2_orders_lateral": top2_orders_lateral,
    "wealthy_inactive_customers": wealthy_inactive_customers,
    "supplier_hierarchy_rollup": supplier_hierarchy_rollup,
    "k_anonymity_audit": k_anonymity_audit,
    "crypto_shred_audit": crypto_shred_audit,
}

ORACLE = {
    "trimmed_robust_stats": ORACLE_TRIMMED_ROBUST_STATS,
    "rfm_segments": ORACLE_RFM_SEGMENTS,
    "crypto_shred_audit": ORACLE_CRYPTO_SHRED_AUDIT,
    "orders_profile": ORACLE_ORDERS_PROFILE,
    "quantile_sketch_rollup": ORACLE_QUANTILE_SKETCH_ROLLUP,
    "kmv_dau_rollup": ORACLE_KMV_DAU_ROLLUP,
    "sketch_rollup_dau": ORACLE_SKETCH_ROLLUP_DAU,
    "kmv_weekly_retention": ORACLE_KMV_WEEKLY_RETENTION,
    "theta_weekly_retention": ORACLE_THETA_WEEKLY_RETENTION,
    "kmv_set_similarity": ORACLE_KMV_SET_SIMILARITY,
    "segment_wealth_percentiles": ORACLE_SEGMENT_WEALTH_PERCENTILES,
    "segment_richest_customer": ORACLE_SEGMENT_RICHEST_CUSTOMER,
    "returnflag_unpivot": ORACLE_RETURNFLAG_UNPIVOT,
    "customer_name_digits": ORACLE_CUSTOMER_NAME_DIGITS,
    "shipping_delay_histogram": ORACLE_SHIPPING_DELAY_HISTOGRAM,
    "order_price_quantiles": ORACLE_ORDER_PRICE_QUANTILES,
    "returnflag_pivot": ORACLE_RETURNFLAG_PIVOT,
    "signup_purchase_funnel": ORACLE_SIGNUP_PURCHASE_FUNNEL,
    "ordered_funnel_7d": ORACLE_ORDERED_FUNNEL_7D,
    "retention_cohorts": ORACLE_RETENTION_COHORTS,
    "purchases_near_errors": ORACLE_PURCHASES_NEAR_ERRORS,
    "parts_above_brand_average": ORACLE_PARTS_ABOVE_BRAND_AVERAGE,
    "small_quantity_revenue": ORACLE_SMALL_QUANTITY_REVENUE,
    "idle_suppliers": ORACLE_IDLE_SUPPLIERS,
    "acctbal_deciles": ORACLE_ACCTBAL_DECILES,
    "acctbal_deciles_scalable": ORACLE_ACCTBAL_DECILES,
    "abc_customer_classes": ORACLE_ABC_CUSTOMER_CLASSES,
    "revenue_gini": ORACLE_REVENUE_GINI,
    "tfidf_top_terms": ORACLE_TFIDF_TOP_TERMS,
    "bm25_topk": ORACLE_BM25_TOPK,
    "ndcg_search_eval": ORACLE_NDCG_SEARCH_EVAL,
    "map_mrr_search_eval": ORACLE_MAP_MRR_SEARCH_EVAL,
    "rbo_rank_overlap": ORACLE_RBO_RANK_OVERLAP,
    "bm25_topk_indexed": ORACLE_BM25_TOPK,
    "bloom_membership_audit": ORACLE_BLOOM_MEMBERSHIP_AUDIT,
    "hybrid_rrf_search": ORACLE_HYBRID_RRF_SEARCH,
    "rolling_30d_top_spenders": ORACLE_ROLLING_30D_TOP_SPENDERS,
    "segment_year_grouping_sets": ORACLE_SEGMENT_YEAR_GROUPING_SETS,
    "segment_priority_listing": ORACLE_SEGMENT_PRIORITY_LISTING,
    "top2_orders_lateral": ORACLE_TOP2_ORDERS_LATERAL,
    "wealthy_inactive_customers": ORACLE_WEALTHY_INACTIVE_CUSTOMERS,
    "supplier_hierarchy_rollup": ORACLE_SUPPLIER_HIERARCHY_ROLLUP,
    "k_anonymity_audit": ORACLE_K_ANONYMITY_AUDIT,
}
